package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.bulk.ManifestStore
import graft.streaming.Streams

/** `ingest`: a seeded stream of new documents (with planted
  * near-duplicates) and embeddings, folded one batch at a time into a
  * `Streams.DedupGate` and a `Streams.VectorIndexGate`, with k-NN
  * searches between folds. Warm-up folds run first and persist the
  * gates to a base store, so the timed rounds start past JIT warm-up.
  * A round is one compaction cycle: resume both gates from the base
  * store, then `Folds` times `SearchesPerFold` k-NN searches and a fold
  * of one batch into both gates, then persist both gates to an empty
  * round store. Every round starts from the same state and folds the
  * same batches, so rounds are alike however many a run makes.
  */
final class IngestWorkload(o: Opts) extends Workload {
  val InitDocs = 400
  val InitVecs = 400
  val Batch = 40
  /** Folds between compactions, and per round. */
  val Folds = 4
  val roundSeconds = 10.4
  val WarmupFolds = 3
  val Centroids = 8
  val K = 10
  val Queries = 20
  val SearchesPerFold = 3
  /** Recall@10 floor of the IVF search (nprobe 2 of 8 cells) against
    * brute force; see the README for the measured values. */
  val RecallFloor = 0.3

  private var spark: SparkSession = _
  private var counters: Option[SparkCounters] = None
  private var dedup: Streams.DedupGate = _
  private var vectors: Streams.VectorIndexGate = _
  private var baseDedup: ManifestStore = _
  private var baseVectors: ManifestStore = _
  private var dedupStore: ManifestStore = _
  private var vectorStore: ManifestStore = _
  private var fed = 0 // batches folded into the live gates
  private var texts: Vector[String] = Vector.empty
  private var vecs: Vector[(Array[Float], Int)] = Vector.empty
  private lazy val queryVecs = Gen.embeddings(o.seed ^ 0x9e7L, Queries)
  private val QueryBase = 900000000L

  // traced-run bookkeeping
  private val jobsPerFold = mutable.ArrayBuffer.empty[Double]
  private val leaves = mutable.ArrayBuffer.empty[Double]
  private val ckptMb = mutable.ArrayBuffer.empty[Double]
  private val cachedRdds = mutable.ArrayBuffer.empty[Double]
  private var manifestMb = 0.0

  private val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  private def ensure(nDocs: Int, nVecs: Int): Unit = {
    if (texts.size < nDocs) {
      val batches = math.max((nDocs - InitDocs) / Batch + 1, 2 * ((texts.size - InitDocs) / Batch))
      texts = Gen.ingestTexts(o.seed, InitDocs, Batch, math.max(batches, 16), 3, 2)
    }
    if (vecs.size < nVecs) vecs = Gen.embeddings(o.seed, math.max(nVecs, 2 * vecs.size))
  }
  private def docFrame(from: Int, n: Int): DataFrame = {
    ensure(from + n, 0)
    spark.createDataFrame((from until from + n).map(i => Row(i.toLong, texts(i))).asJava, docSchema)
  }
  private def vecFrame(ids: Seq[Long], vs: Seq[Array[Float]]): DataFrame =
    spark.createDataFrame(ids.zip(vs).map { case (i, v) => Row(i, v.toSeq) }.asJava, vecSchema)
  private def vecBatch(b: Int): DataFrame = {
    val from = InitVecs + b * Batch
    ensure(0, from + Batch)
    vecFrame((from until from + Batch).map(_.toLong), (from until from + Batch).map(vecs(_)._1))
  }
  private def queryFrame: DataFrame =
    vecFrame(queryVecs.indices.map(QueryBase + _), queryVecs.map(_._1))

  private def storeDir(name: String): String = s"${o.work}/stores/$name"

  override def open(): Unit = {
    spark = Sessions.create(o)
    if (o.trace) counters = Some(new SparkCounters().install(spark))
  }
  override def close(): Unit = if (spark != null) spark.stop()

  private def release(): Unit = {
    if (dedup != null) dedup.release()
    if (vectors != null) vectors.release()
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))

  def prepare(): Unit = {
    release()
    Sessions.cleanup(spark)
    deleteTree(Paths.get(s"${o.work}/stores"))
    baseDedup = new ManifestStore(spark, storeDir("base-dedup"))
    baseVectors = new ManifestStore(spark, storeDir("base-vectors"))
    ensure(InitDocs, InitVecs)
    dedup = Streams.newDedupGate(docFrame(0, InitDocs), "doc_id", "text", compactEvery = Folds)
    vectors = Streams.newVectorIndexGate(
      vecFrame((0 until InitVecs).map(_.toLong), vecs.take(InitVecs).map(_._1)),
      "vec_id", "embedding", numCentroids = Centroids, k = K, compactEvery = Folds)
    fed = 0
  }

  private def foldDocs(): Unit = {
    val batch = docFrame(InitDocs + fed * Batch, Batch)
    Trace.span("streaming.dedup_fold")(dedup.ingest(batch))
  }
  private def foldVecs(): Unit = {
    val batch = vecBatch(fed)
    Trace.span("streaming.vector_fold")(vectors.foldRaw(batch, "vec_id", "embedding"))
  }
  private def search(): Array[Row] =
    Trace.span("streaming.search")(vectors.search(queryFrame, "vec_id", "embedding").collect())
  private def persist(d: ManifestStore, v: ManifestStore): Unit = Trace.span("streaming.persist") {
    dedup.persist(d)
    vectors.persist(v)
  }
  private def resume(d: ManifestStore, v: ManifestStore): Unit = Trace.span("streaming.resume") {
    release()
    dedup = Streams.resumeDedupGate(d, "doc_id", "text", compactEvery = Folds)
    vectors = Streams.resumeVectorIndexGate(v, k = K, compactEvery = Folds)
  }

  def warmup(): Unit = {
    (0 until WarmupFolds).foreach { _ => search(); foldDocs(); foldVecs(); fed += 1 }
    persist(baseDedup, baseVectors)
    resume(baseDedup, baseVectors)
  }

  /** Empty stores for one round's persist. */
  private def freshRoundStores(): Unit = {
    Seq("dedup", "vectors").foreach(n => deleteTree(Paths.get(storeDir(n))))
    dedupStore = new ManifestStore(spark, storeDir("dedup"))
    vectorStore = new ManifestStore(spark, storeDir("vectors"))
  }

  /** Fold counters after each fold (traced run only). */
  private def observeFold(jobs: Long): Unit = {
    jobsPerFold += jobs.toDouble
    def nLeaves(df: DataFrame) = df.queryExecution.analyzed.collectLeaves().size
    leaves += (nLeaves(dedup.corpusNow) + nLeaves(dedup.indexNow) + nLeaves(vectors.postingsNow)).toDouble
    val (mb, n) = Sessions.storage(spark)
    ckptMb += mb
    cachedRdds += n
  }

  def round(rec: Recorder): Unit = {
    freshRoundStores()
    fed = WarmupFolds
    rec.op(update = true)(resume(baseDedup, baseVectors))
    (0 until Folds).foreach { _ =>
      (0 until SearchesPerFold).foreach(_ => rec.op(update = false)(search()))
      val j0 = counters.map(_.snap(spark).jobs).getOrElse(0L)
      rec.op(update = true) { foldDocs(); foldVecs() }
      fed += 1
      counters.foreach(c => observeFold(c.snap(spark).jobs - j0))
    }
    rec.op(update = true)(persist(dedupStore, vectorStore))
    if (o.trace) manifestMb = Seq("dedup", "vectors").map(n => dirMb(Paths.get(storeDir(n)))).sum
  }

  private def dirMb(p: Path): Double =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum / 1048576.0

  def layers(rec: Recorder): Map[String, (Double, String)] = {
    def med(n: String) = Main.median(Trace.durations(n))
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    Map(
      "streaming.dedup_fold_ms" -> (med("streaming.dedup_fold"), "ms"),
      "streaming.vector_fold_ms" -> (med("streaming.vector_fold"), "ms"),
      "streaming.persist_ms" -> (med("streaming.persist"), "ms"),
      "streaming.resume_ms" -> (med("streaming.resume"), "ms"),
      "streaming.search_ms" -> (med("streaming.search"), "ms"),
      "streaming.jobs_per_fold" -> (mean(jobsPerFold.toSeq), "count"),
      "streaming.plan_leaves" -> (mean(leaves.toSeq), "count"),
      "streaming.ckpt_mb" -> (mean(ckptMb.toSeq), "MB"),
      "streaming.cached_rdds" -> (mean(cachedRdds.toSeq), "count"),
      "spark.storage_mb" -> (Sessions.storage(spark)._1, "MB"),
      "bulk.manifest_mb" -> (manifestMb, "MB"))
  }

  def checks(): Seq[Check] = {
    // Resume equivalence: a gate resumed from the last persisted state
    // and the live gate fold the same further batch; their whole
    // decision logs must be equal.
    persist(dedupStore, vectorStore)
    val liveD = dedup
    val liveV = vectors
    val resumedD = Streams.resumeDedupGate(dedupStore, "doc_id", "text", compactEvery = Folds)
    val resumedV = Streams.resumeVectorIndexGate(vectorStore, k = K, compactEvery = Folds)
    (0 until 1).foreach { _ =>
      val db = docFrame(InitDocs + fed * Batch, Batch)
      val vb = vecBatch(fed)
      Seq(liveD, resumedD).foreach(_.ingest(db))
      Seq(liveV, resumedV).foreach(_.foldRaw(vb, "vec_id", "embedding"))
      fed += 1
    }
    def rejected(g: Streams.DedupGate) =
      g.rejected.collect().map(r => (r.getAs[Any]("id").toString.toLong, r.getAs[String]("reason"))).toSet
    def decisions(g: Streams.VectorIndexGate) =
      g.decisions.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val rejLive = rejected(liveD)
    val dCheck = Checks.sameRows("ingest.dedup_resume_identical", rejected(resumedD), rejLive)
    val vCheck = Checks.sameRows("ingest.vector_resume_identical", decisions(resumedV), decisions(liveV))

    // Every rejection has a true near-duplicate (exact shingle Jaccard
    // above 1/2) among the documents the gate had seen before it.
    val seen = InitDocs + fed * Batch
    val shingles = texts.take(seen).map(Checks.shingles)
    def batchOf(id: Int) = if (id < InitDocs) -1 else (id - InitDocs) / Batch
    val unjustified = rejLive.toVector.filterNot { case (id, _) =>
      val i = id.toInt
      (0 until seen).exists { j =>
        j != i && (batchOf(j) < batchOf(i) || (batchOf(j) == batchOf(i) && j < i)) && {
          val inter = (shingles(i) intersect shingles(j)).size
          2 * inter > (shingles(i) union shingles(j)).size
        }
      }
    }
    val justified = Check("ingest.rejections_have_near_dup", unjustified.isEmpty && rejLive.nonEmpty,
      if (unjustified.isEmpty) s"${rejLive.size} rejections, each with an exact near-duplicate seen earlier"
      else s"${unjustified.size} rejections without one, e.g. ${unjustified.head}")

    // k-NN answers against exact cosines over the ingested vectors.
    val ingested = (0 until InitVecs + fed * Batch).map(_.toLong).toVector
    val answers = search().toVector
      .map(r => (r.getAs[Long]("query_id"), (r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id"))))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2) }
    val vec: Long => Array[Float] = id =>
      if (id >= QueryBase) queryVecs((id - QueryBase).toInt)._1 else vecs(id.toInt)._1
    val knn = Checks.knn("ingest.knn_exact_cosine", vec, ingested, answers, K, RecallFloor)
    Seq(Seq(liveD, resumedD), Seq(liveV, resumedV)).flatten.foreach {
      case g: Streams.DedupGate => g.release()
      case g: Streams.VectorIndexGate => g.release()
    }
    dedup = null
    vectors = null
    Seq(dCheck, vCheck, justified, knn)
  }
}
