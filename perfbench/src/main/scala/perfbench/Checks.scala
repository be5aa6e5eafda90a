package perfbench

import scala.collection.mutable

import graft.core.GraftDb
import graft.model.{Gid, Overlap}
import graft.view.{Markup, Tile}

/** Output checkers. Each compares the program's output against a
  * computation made here, apart from the program, or against a
  * property the method must have. They are pure functions of the data
  * they are given, so SelfTest can feed them fixtures and perturbed
  * outputs.
  */
object Checks {

  // ---------------------------------------------------------------- editor

  /** True for markup with no block prefix and no span toggles. */
  def isPlain(m: String): Boolean =
    !m.startsWith("# ") && !m.startsWith("> ") && !m.exists("*_~`\\".contains(_))

  /** The text a markup line indexes: the block prefix and the span
    * toggle characters removed (the generator emits no escapes). */
  def plain(m: String): String = {
    val body = if (m.startsWith("# ") || m.startsWith("> ")) m.drop(2) else m
    body.filterNot("*_~`".contains(_))
  }

  def tileMarkup(t: Tile): Vector[String] =
    t.sections.flatMap(_.subsections.map(s => Markup.fromBlock(s.block)))

  /** Each (expected, actual) page pair lists the same markup lines. */
  def pagesMatch(pages: Vector[(Vector[String], Vector[String])]): Check = {
    val bad = pages.indices.filter(i => pages(i)._1 != pages(i)._2)
    Check("pages_match", bad.isEmpty && pages.nonEmpty,
      if (bad.isEmpty) s"${pages.size} pages equal"
      else s"${bad.size}/${pages.size} differ, first: ${pages(bad.head)._1.take(3)} vs ${pages(bad.head)._2.take(3)}")
  }

  /** Byte 4-grams of the UTF-8 text padded with three zero bytes on each
    * side, as big-endian ints. */
  def grams(s: String): Array[Int] = {
    val b = Array.fill[Byte](3)(0) ++ s.getBytes("UTF-8") ++ Array.fill[Byte](3)(0)
    Array.tabulate(b.length - 3)(i =>
      ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) | ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff))
  }

  private def histogram(gs: Array[Int]): Map[Int, Int] = {
    val m = mutable.HashMap.empty[Int, Int]
    gs.foreach(g => m(g) = m.getOrElse(g, 0) + 1)
    m.toMap
  }

  /** Search by brute force over (block id, text): the term's grams, up
    * to three dropped from each end (at most (n-1)/2), multiset
    * intersection with each block's grams, sizes quantised to 0..255
    * against the term length, hits scoring at least 0.3.
    * Returns (id, a, b, intersection). */
  def bruteSearch(term: String, blocks: Vector[(Gid, String)]): Set[(Gid, Int, Int, Int)] = {
    val g = grams(term)
    val drop = math.min((g.length - 1) / 2, 3)
    val t = g.slice(drop, g.length - drop)
    if (!t.exists(_ != 0)) return Set.empty
    val tOcc = histogram(t)
    val n = t.length.toLong
    blocks.distinct.flatMap { case (id, text) =>
      val bOcc = histogram(grams(text))
      val inter = tOcc.iterator.map { case (k, c) => math.min(c, bOcc.getOrElse(k, 0)) }.sum
      val q = (255L * inter / n).toInt
      if (inter > 0 && q.toFloat / 255.0f >= 0.3f) Some((id, 255, 255, q)) else None
    }.toSet
  }

  /** The program's hits equal the brute-force hits, and come ordered
    * by intersection, descending. */
  def searchesAgree(cases: Vector[(String, Vector[Overlap], Set[(Gid, Int, Int, Int)])]): Check = {
    val bad = cases.filter { case (_, got, want) =>
      got.map(o => (o.id, o.a, o.b, o.intersection)).toSet != want ||
        got.size != want.size ||
        got.map(_.intersection).sliding(2).exists(p => p.size == 2 && p(0) < p(1))
    }
    val hits = cases.map(_._3.size).sum
    Check("editor.search_brute_force", bad.isEmpty && hits > 0,
      if (bad.isEmpty) s"${cases.size} terms, $hits hits equal"
      else s"${bad.size}/${cases.size} terms differ, first '${bad.head._1}': " +
        s"${bad.head._2.size} vs ${bad.head._3.size} hits")
  }

  /** Every stored overlap has its reverse stored on the other side. */
  def overlapsSymmetric(ids: Vector[Gid], lookup: Gid => Vector[Overlap]): Check = {
    var rows = 0
    val bad = ids.flatMap { id =>
      lookup(id).filterNot { o => rows += 1; lookup(o.id).contains(o.reverse(id)) }.map(id -> _)
    }
    Check("editor.overlaps_symmetric", bad.isEmpty && rows > 0,
      if (bad.isEmpty) s"$rows overlap rows over ${ids.size} blocks, all mirrored"
      else s"${bad.size} rows without a reverse, first ${bad.head}")
  }

  /** Child lists and parent sets describe the same edges, over every
    * node reachable from the roots. */
  def edgesAgree(roots: Vector[Gid], children: Gid => Vector[Gid],
      parents: Gid => Set[(Gid, Int)]): Check = {
    val seen = mutable.LinkedHashSet.empty[Gid]
    val stack = mutable.Stack(roots: _*)
    while (stack.nonEmpty) {
      val id = stack.pop()
      if (seen.add(id)) children(id).foreach(stack.push)
    }
    val bad = mutable.ArrayBuffer.empty[String]
    var edges = 0
    seen.foreach { id =>
      children(id).zipWithIndex.foreach { case (c, i) =>
        edges += 1
        if (!parents(c).contains((id, i))) bad += s"$id[$i]=$c has no parent edge"
      }
      parents(id).foreach { case (p, i) =>
        val cs = children(p)
        if (i >= cs.size || cs(i) != id) bad += s"parent edge $p[$i] of $id has no child"
      }
    }
    Check("editor.edges_agree", bad.isEmpty && edges > 0,
      if (bad.isEmpty) s"$edges edges over ${seen.size} nodes agree"
      else s"${bad.size} mismatches, first: ${bad.head}")
  }

  def edgesAgree(db: GraftDb, roots: Vector[Gid]): Check =
    edgesAgree(roots,
      id => db.get(id).map(_.children.flatMap(_.idOpt)).getOrElse(Vector.empty),
      id => scala.util.Try(db.parents(id)).getOrElse(Set.empty)
        .filter(p => db.get(p.id).isDefined).map(p => (p.id, p.index)))

  // ----------------------------------------------------------- text dedup

  /** Distinct word 3-shingles of a text. */
  def shingles(text: String): Set[String] =
    text.split("\\s+").filter(_.nonEmpty).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  /** Every reported pair carries its exact shingle intersection and
    * union, and passes the Jaccard > 1/2 threshold. */
  def jaccardPairs(name: String, shingleSet: Long => Set[String],
      pairs: Vector[(Long, Long, Long, Long)]): Check = {
    val sh = mutable.HashMap.empty[Long, Set[String]]
    def s(id: Long) = sh.getOrElseUpdate(id, shingleSet(id))
    val bad = pairs.filter { case (a, b, inter, union) =>
      val i = (s(a) intersect s(b)).size.toLong
      val u = (s(a) union s(b)).size.toLong
      a >= b || i != inter || u != union || !(2 * i > u)
    }
    Check(name, bad.isEmpty && pairs.nonEmpty,
      if (bad.isEmpty) s"${pairs.size} pairs, exact Jaccard recomputed"
      else s"${bad.size}/${pairs.size} pairs wrong, first ${bad.head}")
  }

  /** Per document, its `width`-character windows and how many of them
    * occur more than once in the whole corpus, by exact text:
    * id -> (windows, repeated windows, repeated per mille). */
  def windowRepeats(texts: Vector[(Long, String)], width: Int): Map[Long, (Long, Long, Long)] = {
    def windows(t: String) = (0 to t.length - width).iterator.map(i => t.substring(i, i + width))
    val count = mutable.HashMap.empty[String, Int]
    texts.foreach { case (_, t) => windows(t).foreach(w => count(w) = count.getOrElse(w, 0) + 1) }
    texts.map { case (id, t) =>
      val n = math.max(t.length - width + 1, 0).toLong
      val rep = windows(t).count(count(_) > 1).toLong
      id -> (n, rep, rep * 1000 / math.max(n, 1))
    }.toMap
  }

  /** Two row sets are equal (delta maintenance against a rebuild). */
  def sameRows[T](name: String, got: Set[T], want: Set[T]): Check =
    Check(name, got == want && want.nonEmpty,
      if (got == want) s"${want.size} rows equal"
      else s"${(got -- want).size} extra, ${(want -- got).size} missing, e.g. " +
        s"${(got -- want).headOption.orElse((want -- got).headOption)}")

  // --------------------------------------------------------------- vectors

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / math.sqrt(na * nb)
  }

  /** k-NN answers: neighbours only among the allowed ids, never the
    * query itself, ranks 1..n without gaps, and exact cosines that do
    * not increase with rank (within float tolerance). Returns the check
    * and the recall@k against brute-force top-k over the allowed ids. */
  def knn(name: String, vec: Long => Array[Float], allowed: Vector[Long],
      answers: Map[Long, Vector[(Long, Long)]], k: Int, recallFloor: Double): Check = {
    val bad = mutable.ArrayBuffer.empty[String]
    val allowedSet = allowed.toSet
    var hit = 0L; var total = 0L
    answers.foreach { case (q, rows) =>
      val byRank = rows.sortBy(_._1)
      if (byRank.map(_._1) != (1L to byRank.size.toLong)) bad += s"query $q ranks ${byRank.map(_._1)}"
      byRank.foreach { case (_, n) =>
        if (!allowedSet(n)) bad += s"query $q neighbour $n not ingested"
        if (n == q) bad += s"query $q returned itself"
      }
      val qv = vec(q)
      val sims = byRank.filter(x => allowedSet(x._2)).map(x => cosine(qv, vec(x._2)))
      if (sims.sliding(2).exists(p => p.size == 2 && p(1) > p(0) + 1e-6))
        bad += s"query $q cosines rise with rank: ${sims.take(4)}"
      val exact = allowed.filter(_ != q).map(n => n -> cosine(qv, vec(n)))
        .sortBy(x => (-x._2, x._1)).take(k).map(_._1).toSet
      hit += byRank.count(x => exact(x._2))
      total += exact.size
    }
    val recall = if (total == 0) 0.0 else hit.toDouble / total
    val ok = bad.isEmpty && answers.nonEmpty && recall >= recallFloor
    Check(name, ok,
      if (bad.nonEmpty) s"${bad.size} violations, first: ${bad.head}"
      else f"${answers.size} queries, recall@$k $recall%.3f (floor $recallFloor%.2f)")
  }
}
