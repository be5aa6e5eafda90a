package perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import graft.core.{BroadcastClient, BroadcastHub, BroadcastService, GraftDb, HttpBroadcastEndpoint}
import graft.model.{Gid, Overlap}
import graft.view.{Bindings, Markup, SyncedSection, Tile, View}

/** `editor`: one closed-loop client on the in-memory serving path, no
  * Spark. A seeded web of markup pages, with planted near-duplicate
  * lines and shared sections, is edited and read through `Bindings`
  * and `GraftDb`; a second `GraftDb` subscribes to some pages over the
  * loopback broadcast REST service.
  *
  * The cost of an edit grows with the edit history, so every round
  * starts from a freshly built web (outside the timed window) and runs
  * the same seeded sequence of `OpsPerRound` operations on it.
  */
final class EditorWorkload(o: Opts) extends Workload {
  import EditorWorkload._

  val Pages = 80
  val OpsPerRound = 600 // 24 cycles of OpKinds
  val roundSeconds = 4.7
  val Published = 3

  final class Page(var id: Gid, var lines: Vector[Line], var blocks: Vector[Gid])

  /** One round's state: publisher and subscriber databases, and the
    * broadcast hub between them, served over loopback REST. Each round
    * gets its own hub, so episode blobs of earlier rounds (kept 24 h)
    * do not pile up across rounds. */
  final class Web {
    val hub = new BroadcastHub
    val service = new BroadcastService(hub).start()
    val pub = new GraftDb
    val sub = new GraftDb
    val pubClient = new BroadcastClient(pub, new HttpBroadcastEndpoint(service.baseUrl))
    val subClient = new BroadcastClient(sub, new HttpBroadcastEndpoint(service.baseUrl))
    val bindings = new Bindings(pub, Some(pubClient))
    val pages = ArrayBuffer.empty[Page]
    val broadcasts = ArrayBuffer.empty[(Int, Gid)]
  }

  private var web: Web = _
  // position of every sync in its round, for the first/last tenth split
  private val syncSlot = ArrayBuffer.empty[Int]
  private var syncsPerRound = 0

  override def close(): Unit = if (web != null) web.service.stop()

  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))
  private def words(r: SplittableRandom, n: Int): Vector[String] = Vector.fill(n)(pick(r, Gen.Vocab))

  /** Line kinds cycle in a fixed order, so every seed gets the same
    * mix: plain text, near-copies of an existing plain line (one word
    * changed), a bold span, a heading and a quote. Only the words
    * depend on the seed. */
  private val LineKinds = "pnbphqnp"
  private var lineNo = 0

  private def newLine(r: SplittableRandom, w: Web): String = {
    val kind = LineKinds(lineNo % LineKinds.length)
    lineNo += 1
    val ws = words(r, 4 + r.nextInt(8))
    kind match {
      case 'h' => "# " + ws.take(2 + ws.length / 3).mkString(" ")
      case 'q' => "> " + ws.mkString(" ")
      case 'b' =>
        val i = r.nextInt(ws.length)
        ws.updated(i, s"*${ws(i)}*").mkString(" ")
      case 'n' if w.pages.nonEmpty =>
        val src = pick(r, w.pages.toVector).lines.map(_.markup).filter(Checks.isPlain)
        if (src.isEmpty) ws.mkString(" ")
        else {
          val near = pick(r, src).split(' ')
          near(r.nextInt(near.length)) = pick(r, Gen.Vocab)
          near.mkString(" ")
        }
      case _ => ws.mkString(" ")
    }
  }

  private def sections(lines: Vector[Line]): Vector[SyncedSection] = {
    val out = ArrayBuffer.empty[SyncedSection]
    val run = ArrayBuffer.empty[String]
    def flush(): Unit = if (run.nonEmpty) { out += SyncedSection.Edited(run.toVector); run.clear() }
    lines.foreach {
      case Own(m)       => run += m
      case Shared(id, _) => flush(); out += SyncedSection.Existing(id)
    }
    flush()
    out.toVector
  }

  private def blockIds(t: Tile): Vector[Gid] = t.sections.flatMap(_.subsections.map(_.id))

  private def sync(w: Web, p: Option[Page], lines: Vector[Line]): Page = {
    val secs = sections(lines)
    if (Trace.enabled) Trace.span("view.markup") {
      secs.foreach { case SyncedSection.Edited(ms) => ms.foreach(Markup.toNode); case _ => () }
    }
    val tile = Trace.span("view.sync")(w.bindings.sync(p.map(_.id), secs))
    val page = p.getOrElse(new Page(tile.id, lines, Vector.empty))
    page.lines = lines
    page.blocks = blockIds(tile)
    page
  }

  /** Turns line `li` of page `q` into a shared block and returns it. */
  private def share(q: Page, li: Int): Shared = q.lines(li) match {
    case s: Shared => s
    case Own(m) =>
      val s = Shared(q.blocks(li), m)
      q.lines = q.lines.updated(li, s)
      s
  }

  private def build(): Web = {
    if (web != null) web.service.stop()
    val w = new Web
    val r = new SplittableRandom(o.seed)
    lineNo = 0
    (0 until Pages).foreach { i =>
      var lines: Vector[Line] = Vector.fill(3 + i % 6)(Own(newLine(r, w)))
      if (i >= Published && i % 7 == 3) {
        val qi = r.nextInt(w.pages.size)
        val q = w.pages(qi)
        val plain = q.lines.indices.filter(i => Checks.isPlain(q.lines(i).markup))
        if (qi >= Published && plain.nonEmpty) lines = lines :+ share(q, pick(r, plain))
      }
      w.pages += sync(w, None, lines)
    }
    (0 until Published).foreach { i =>
      val bid = w.pubClient.publishBroadcast(w.pages(i).id).broadcastId
      w.subClient.subscribeToBroadcast(bid)
      w.broadcasts += (i -> bid)
    }
    w
  }

  /** Edit kinds, in a fixed cycle: modify a line, insert one, delete
    * one, share a block of another page. */
  private val EditKinds = "mimdmsmi"
  private var editNo = 0

  /** Pages are edited in a seeded order that visits every page once
    * per pass, so each seed edits each page equally often. */
  private var editOrder: Vector[Int] = Vector.empty

  private def edit(w: Web, r: SplittableRandom): Unit = {
    val pi = editOrder(editNo % editOrder.size)
    val p = w.pages(pi)
    val ls = p.lines
    val kind = EditKinds(editNo % EditKinds.length)
    editNo += 1
    val owned = ls.indices.filter(i => ls(i).isInstanceOf[Own])
    val next: Vector[Line] =
      if (kind == 'm' && owned.nonEmpty) ls.updated(pick(r, owned), Own(newLine(r, w)))
      else if (kind == 'm' || kind == 'i') {
        val at = r.nextInt(ls.length + 1)
        ls.patch(at, Seq(Own(newLine(r, w))), 0)
      } else if (kind == 'd' && ls.length > 2 && owned.nonEmpty) {
        // only own lines are deleted: dropping a shared block from one
        // of its pages zeroes its postings (the unshare probe below)
        ls.patch(pick(r, owned), Nil, 1)
      }
      else {
        val qi = r.nextInt(w.pages.size)
        val q = w.pages(qi)
        val plain = q.lines.indices.filter(i => Checks.isPlain(q.lines(i).markup))
        // Published pages neither take nor give shared sections: a sync
        // of any page sharing a block with a broadcast pushes that
        // page's own subtree into the broadcast (see CHANGES.md).
        if (qi == pi || plain.isEmpty || pi < Published || qi < Published) ls :+ Own(newLine(r, w))
        else {
          val s = share(q, pick(r, plain))
          if (ls.exists { case Shared(id, _) => id == s.id; case _ => false }) ls :+ Own(newLine(r, w))
          else ls.patch(r.nextInt(ls.length + 1), Seq(s), 0)
        }
      }
    sync(w, Some(p), next)
  }

  private def searchTerm(r: SplittableRandom, w: Web): String = {
    val ws = Checks.plain(pick(r, pick(r, w.pages.toVector).lines).markup).split(' ')
    val n = math.min(ws.length, 3)
    val from = r.nextInt(ws.length - n + 1)
    val term = ws.slice(from, from + n)
    if (r.nextDouble() < 0.3) term(r.nextInt(n)) = pick(r, Gen.Vocab)
    term.mkString(" ")
  }

  /** A fixed, seed-independent probe of a fault in the gram index: a
    * block shared by two pages is dropped from one of them, then its
    * text is searched. The block is still live, so the search must hit
    * it with score 1; the engine zeroes its postings instead, so this
    * operation fails in every round (see CHANGES.md). */
  private def unshareProbe(): Unit = {
    val db = new GraftDb
    val b = new Bindings(db)
    val text = "a shared block that stays on one page"
    val a = b.sync(None, Vector(SyncedSection.Edited(Vector(text))))
    val x = blockIds(a).head
    b.sync(None, Vector(SyncedSection.Edited(Vector("another page")), SyncedSection.Existing(x)))
    b.sync(Some(a.id), Vector(SyncedSection.Existing(x)))
    b.sync(Some(a.id), Vector(SyncedSection.Edited(Vector("the first page, edited"))))
    val hit = Trace.span("core.search")(db.search(text)).find(_.id == x)
    if (!hit.exists(_.score == 1.0f))
      throw new IllegalStateException(s"live shared block missing from search: $hit")
  }

  private def anyBlock(r: SplittableRandom, w: Web): Gid = pick(r, pick(r, w.pages.toVector).blocks)

  def prepare(): Unit = { web = build() }

  def warmup(): Unit = {
    ops(new Recorder, OpsPerRound / 2)
    web = build()
  }

  def round(rec: Recorder): Unit = {
    if (rec.attempted > 0) web = build()
    ops(rec, OpsPerRound)
  }

  /** Operation kinds, in a fixed cycle of 25: 12 syncs (S), a publish
    * (P) and a fetch (F); 7 refreshes (R), 2 searches (Q), an overlap
    * read (O) and a sibling read (B). Targets depend on the seed.
    * The proportions are assumed, not observed: the reference records
    * no traffic mix. Syncs are half the operations because every edit
    * of the reference editor is a sync; refreshes are most of the reads
    * so that the read median is that of one kind of operation. */
  private val OpKinds = "SRSQSRSOSRSPSRSQSRSBSRSRF"

  private def ops(rec: Recorder, n: Int): Unit = {
    val w = web
    val r = new SplittableRandom(o.seed ^ 0x0b5L)
    var syncs = 0
    editNo = 0
    editOrder = new scala.util.Random(o.seed)
      .shuffle(w.pages.indices.toVector)
    rec.op(update = false)(unshareProbe())
    (0 until n).foreach { i =>
      val k = OpKinds(i % OpKinds.length)
      if (k == 'S') {
        syncSlot += syncs
        syncs += 1
        rec.op(update = true)(edit(w, r))
      } else if (k == 'P') {
        val (pi, _) = pick(r, w.broadcasts.toVector)
        rec.op(update = true)(Trace.span("core.publish")(w.pubClient.publishBroadcast(w.pages(pi).id)))
      } else if (k == 'F') {
        val (_, bid) = pick(r, w.broadcasts.toVector)
        rec.op(update = true)(Trace.span("core.fetch")(w.subClient.fetchBroadcast(bid)))
      } else if (k == 'R') {
        val p = pick(r, w.pages.toVector)
        rec.op(update = false)(Trace.span("view.refresh")(w.bindings.refresh(p.id)))
      } else if (k == 'Q') {
        val term = searchTerm(r, w)
        rec.op(update = false)(Trace.span("core.search")(w.pub.search(term)))
      } else if (k == 'O') {
        val b = anyBlock(r, w)
        rec.op(update = false)(Trace.span("core.overlaps")(w.pub.overlaps(b)))
      } else {
        val b = anyBlock(r, w)
        rec.op(update = false)(Trace.span("core.siblings")((w.pub.before(b), w.pub.after(b))))
      }
    }
    syncsPerRound = syncs
  }

  def layers(rec: Recorder): Map[String, (Double, String)] = {
    def med(name: String) = Main.median(Trace.durations(name))
    val syncs = Trace.durations("view.sync")
    val slots = syncSlot.takeRight(syncs.length)
    val tenth = math.max(1, syncsPerRound / 10)
    val first = syncs.indices.filter(i => slots(i) < tenth).map(syncs)
    val last = syncs.indices.filter(i => slots(i) >= syncsPerRound - tenth).map(syncs)
    val db = web.pub
    val postings = db.gramsSlot.allKeys.flatMap(db.gramsSlot.get).toVector
    val versions = Seq(db.nodes.allKeys.map(db.nodes.versions(_).size),
      db.parentsOf.allKeys.map(db.parentsOf.versions(_).size),
      db.gramsSlot.allKeys.map(db.gramsSlot.versions(_).size),
      db.countsSlot.allKeys.map(db.countsSlot.versions(_).size),
      db.overlapsSlot.allKeys.map(db.overlapsSlot.versions(_).size)).map(_.sum).sum
    Map(
      "view.sync_ms" -> (Main.median(syncs), "ms"),
      "view.sync_ms.first" -> (Main.median(first), "ms"),
      "view.sync_ms.last" -> (Main.median(last), "ms"),
      "view.markup_ms" -> (med("view.markup"), "ms"),
      "view.refresh_ms" -> (med("view.refresh"), "ms"),
      "core.search_ms" -> (med("core.search"), "ms"),
      "core.overlaps_ms" -> (med("core.overlaps"), "ms"),
      "core.siblings_ms" -> (med("core.siblings"), "ms"),
      "core.publish_ms" -> (med("core.publish"), "ms"),
      "core.fetch_ms" -> (med("core.fetch"), "ms"),
      "core.posting_entries" -> (postings.map(_.size).sum.toDouble, "count"),
      "core.dead_postings" -> (postings.map(_.count(_._2 == 0)).sum.toDouble, "count"),
      "core.slot_versions" -> (versions.toDouble, "count"),
      "core.overlap_rows" -> (db.overlapsSlot.allKeys.flatMap(db.overlapsSlot.get).map(_.size).sum.toDouble, "count"),
      "core.clock_skew_s" -> ((db.lastUpdated.getOrElse(0L) - System.currentTimeMillis()) / 1000.0, "s"))
  }

  def checks(): Seq[Check] = {
    val w = web
    val view = new View(w.pub)
    val markup = Checks.pagesMatch(w.pages.toVector.map(p =>
      (p.lines.map(_.markup), Checks.tileMarkup(view.tile(p.id)))))
    // live blocks: id -> plain text, from the benchmark's own record
    val live = mutable.LinkedHashMap.empty[Gid, String]
    w.pages.foreach(p => p.blocks.zip(p.lines).foreach { case (b, l) => live(b) = Checks.plain(l.markup) })
    val r = new SplittableRandom(o.seed ^ 0x5ea7L)
    val terms = Vector.fill(40)(searchTerm(r, w))
    val search = Checks.searchesAgree(terms.map(t =>
      (t, w.pub.search(t), Checks.bruteSearch(t, live.toVector))))
    val overlaps = Checks.overlapsSymmetric(live.keys.toVector,
      id => w.pub.overlapsSlot.get(id).getOrElse(Vector.empty[Overlap]))
    val edges = Checks.edgesAgree(w.pub, w.pages.toVector.map(_.id))
    w.broadcasts.foreach { case (_, bid) => w.subClient.fetchBroadcast(bid) }
    val subView = new View(w.sub)
    val replicas = Checks.pagesMatch(w.broadcasts.toVector.map { case (pi, bid) =>
      (Checks.tileMarkup(view.tile(w.pages(pi).id)),
        Checks.tileMarkup(subView.tile(w.subClient.namespacedId(bid, w.pages(pi).id))))
    })
    Seq(markup.copy(name = "editor.tile_markup"), search, overlaps, edges,
      replicas.copy(name = "editor.subscriber_tiles"))
  }
}

object EditorWorkload {
  /** A line of a page: its own markup, or a shared block sent as an
    * existing section. */
  sealed trait Line { def markup: String }
  final case class Own(markup: String) extends Line
  final case class Shared(id: Gid, markup: String) extends Line
}
