package perfbench

import graft.core.GraftDb
import graft.model.{Child, Gid, Node, Overlap}
import graft.view.{Bindings, SyncedSection, View}

/** Tests of the checkers themselves: they must reproduce the reference
  * fixtures (FIXTURES.md section B: the two-page overlap and the fuzzy
  * search corpus) on the real engine, accept correct outputs and
  * reject a perturbed output for every check. */
object SelfTest {
  private def expect(name: String, c: Check, ok: Boolean): Check =
    Check(name, c.ok == ok, s"${if (ok) "accepts" else "rejects"}: ${c.detail}")

  private def textChild(db: GraftDb, page: Gid): Gid = db.get(page).get.children.head.idOpt.get

  def run(): Seq[Check] = {
    val out = Vector.newBuilder[Check]

    // Fixture B.1: two-page overlap, exactly one overlap each way with
    // 0.8 < score < 1.
    val db = new GraftDb
    val p1 = db.add(Node.page(Node.text("This is a sentence about foo.")))
    val p2 = db.add(Node.page(Node.text("This is a sentence about bar.")))
    val (t1, t2) = (textChild(db, p1), textChild(db, p2))
    val o1 = db.overlaps(t1)
    val o2 = db.overlaps(t2)
    out += Check("fixture.two_page_overlap",
      o1.map(_.id) == Vector(t2) && o2.map(_.id) == Vector(t1) &&
        o1.forall(o => o.score > 0.8f && o.score < 1f),
      s"overlaps ${o1.map(_.score)} / ${o2.map(_.score)}")
    val lookup: Gid => Vector[Overlap] = id => db.overlapsSlot.get(id).getOrElse(Vector.empty)
    out += expect("overlaps_symmetric.real", Checks.overlapsSymmetric(Vector(t1, t2), lookup), ok = true)
    out += expect("overlaps_symmetric.dropped_reverse",
      Checks.overlapsSymmetric(Vector(t1, t2), id => if (id == t2) Vector.empty else lookup(id)), ok = false)

    // Fixture B.2: fuzzy search corpus.
    val sdb = new GraftDb
    val foo = textChild(sdb, sdb.add(Node.page(Node.text("This is the text foo"))))
    val bar = textChild(sdb, sdb.add(Node.page(Node.text("This is the text bar"))))
    val blocks = Vector(foo -> "This is the text foo", bar -> "This is the text bar")
    val hit1 = sdb.search("text foo")
    val hit2 = sdb.search("This is the text foo")
    out += Check("fixture.fuzzy_search",
      hit1.headOption.exists(h => h.id == foo && h.score == 1.0f) &&
        hit2.map(_.id) == Vector(foo, bar),
      s"'text foo' -> ${hit1.map(_.score)}, 'This is the text foo' -> ${hit2.size} hits")
    val brute1 = Checks.bruteSearch("text foo", blocks)
    out += Check("brute_search.fixture",
      brute1.exists(h => h._1 == foo && h._4 == 255) &&
        Checks.bruteSearch("This is the text foo", blocks).map(_._1) == Set(foo, bar),
      s"brute force 'text foo' -> $brute1")
    val cases = Vector("text foo", "This is the text foo", "the text").map(t =>
      (t, sdb.search(t), Checks.bruteSearch(t, blocks)))
    out += expect("search.real", Checks.searchesAgree(cases), ok = true)
    out += expect("search.dropped_hit",
      Checks.searchesAgree(cases.map(c => c.copy(_2 = c._2.drop(1)))), ok = false)
    out += expect("search.changed_score", Checks.searchesAgree(cases.map(c =>
      c.copy(_2 = c._2.map(o => o.copy(intersection = o.intersection - 1))))), ok = false)
    out += expect("search.reordered",
      Checks.searchesAgree(cases.map(c => c.copy(_2 = c._2.reverse))), ok = false)

    // Markup round trip of every line form the editor generates.
    val mdb = new GraftDb
    val lines = Vector("# a heading", "> a quoted line", "some *bold* word", "plain text here")
    val tile = new Bindings(mdb).sync(None, Vector(SyncedSection.Edited(lines)))
    val got = Checks.tileMarkup(new View(mdb).tile(tile.id))
    out += expect("markup.real", Checks.pagesMatch(Vector(lines -> got)), ok = true)
    out += expect("markup.perturbed",
      Checks.pagesMatch(Vector(lines -> got.updated(1, "a quoted line"))), ok = false)
    out += Check("plain_text", lines.map(Checks.plain) ==
      Vector("a heading", "a quoted line", "some bold word", "plain text here"), "markup stripped")

    // Parent and child edges.
    val roots = Vector(p1, p2)
    out += expect("edges.real", Checks.edgesAgree(db, roots), ok = true)
    out += expect("edges.perturbed", Checks.edgesAgree(roots,
      id => db.get(id).map(_.children.flatMap(_.idOpt)).getOrElse(Vector.empty),
      id => if (id == t1) Set((p1, 1)) else db.parents(id).map(p => (p.id, p.index))), ok = false)

    // Jaccard pairs over word 3-shingles.
    val texts = Map(1L -> "a b c d e f g", 2L -> "a b c d e f h", 3L -> "x y z w")
    val sh: Long => Set[String] = id => Checks.shingles(texts(id))
    out += expect("jaccard.real", Checks.jaccardPairs("j", sh, Vector((1L, 2L, 4L, 6L))), ok = true)
    out += expect("jaccard.wrong_inter", Checks.jaccardPairs("j", sh, Vector((1L, 2L, 5L, 6L))), ok = false)
    out += expect("jaccard.below_threshold", Checks.jaccardPairs("j", sh, Vector((1L, 3L, 0L, 7L))), ok = false)

    // Repeated windows: "abcd" occurs in both texts, "bcde" in one.
    val reps = Checks.windowRepeats(Vector(1L -> "abcde", 2L -> "xabcd", 3L -> "ab"), 4)
    out += Check("window_repeats.fixture",
      reps == Map(1L -> ((2L, 1L, 500L)), 2L -> ((2L, 1L, 500L)), 3L -> ((0L, 0L, 0L))), s"$reps")

    // Row-set equality.
    out += expect("rows.real", Checks.sameRows("r", Set(1 -> 2, 3 -> 4), Set(3 -> 4, 1 -> 2)), ok = true)
    out += expect("rows.perturbed", Checks.sameRows("r", Set(1 -> 2, 3 -> 5), Set(3 -> 4, 1 -> 2)), ok = false)

    // k-NN answers: exact cosines, ingested ids only, recall floor.
    val vs = Map(0L -> Array(1f, 0f), 1L -> Array(0.9f, 0.1f), 2L -> Array(0.5f, 0.5f),
      3L -> Array(0f, 1f), 9L -> Array(1f, 0.05f))
    val allowed = Vector(0L, 1L, 2L, 3L)
    val good = Map(9L -> Vector(1L -> 0L, 2L -> 1L))
    out += expect("knn.real", Checks.knn("k", vs, allowed, good, 2, 0.9), ok = true)
    out += expect("knn.swapped_ranks",
      Checks.knn("k", vs, allowed, Map(9L -> Vector(1L -> 1L, 2L -> 0L)), 2, 0.0), ok = false)
    out += expect("knn.not_ingested",
      Checks.knn("k", vs, Vector(0L, 2L, 3L), good, 2, 0.0), ok = false)
    out += expect("knn.low_recall",
      Checks.knn("k", vs, allowed, Map(9L -> Vector(1L -> 2L, 2L -> 3L)), 2, 0.9), ok = false)
    out.result()
  }
}
