package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.SparkEntry

/** The Spark session every Spark workload runs in: fixed task slots
  * and shuffle partitions, AQE on as in `graft.Bench`, temporary files
  * inside the benchmark's work directory. */
object Sessions {
  def create(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[${o.slots}]")
      .config("spark.sql.shuffle.partitions", o.partitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Between-operation cleanup, outside the timed window, as
    * `graft.Bench` does it: drop cached frames and unpersist every
    * persisted RDD, checkpoint blocks included. */
  def cleanup(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Storage memory held by cached or checkpointed RDDs (MB) and
    * their count. */
  def storage(spark: SparkSession): (Double, Int) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(i => i.memSize + i.diskSize).sum / 1048576.0, infos.length)
  }
}

/** One engine query run as a timed operation, writing to the noop
  * sink. In the traced run it is split into the query-function call
  * (eager jobs included), planning and execution, with listener
  * counters per phase. */
final class QueryRunner(spark: SparkSession, dir: String, counters: Option[SparkCounters]) {
  final class Stat {
    val constructMs = mutable.ArrayBuffer.empty[Double]
    val planMs = mutable.ArrayBuffer.empty[Double]
    val execMs = mutable.ArrayBuffer.empty[Double]
    var eagerJobs = 0L
    var spark = SparkSnap.zero
    val storageMb = mutable.ArrayBuffer.empty[Double]
  }
  val stats = mutable.LinkedHashMap.empty[String, Stat]

  def frame(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  def run(name: String): Unit = counters match {
    case None => frame(name).write.format("noop").mode(SaveMode.Overwrite).save()
    case Some(c) =>
      val st = stats.getOrElseUpdate(name, new Stat)
      val s0 = c.snap(spark)
      val t0 = System.nanoTime()
      val df = Trace.span("queries.construct")(frame(name))
      val t1 = System.nanoTime()
      val s1 = c.snap(spark)
      val t2 = System.nanoTime()
      Trace.span("queries.exec")(df.write.format("noop").mode(SaveMode.Overwrite).save())
      val t3 = System.nanoTime()
      val s2 = c.snap(spark)
      val plan = (s2 - s1).planMs.toDouble
      st.constructMs += (t1 - t0) / 1e6
      st.planMs += plan
      st.execMs += (t3 - t2) / 1e6 - plan
      st.eagerJobs += (s1 - s0).jobs
      st.spark = st.spark + (s2 - s0)
      st.storageMb += Sessions.storage(spark)._1
  }

  /** Runs the query once and writes its result for the output checks. */
  def output(name: String, out: String): Unit =
    frame(name).write.mode(SaveMode.Overwrite).parquet(s"$out/$name")

  /** Per-layer metrics over every run recorded so far. */
  def layers(timedWallS: Double, slots: Int): Map[String, (Double, String)] = {
    val all = stats.values.toVector
    val ops = all.map(_.execMs.size).sum.toDouble
    val tot = all.map(_.spark).foldLeft(SparkSnap.zero)(_ + _)
    def med(f: Stat => Seq[Double]) = Main.median(all.flatMap(f))
    Map(
      "queries.construct_ms" -> (med(_.constructMs.toSeq), "ms"),
      "queries.plan_ms" -> (med(_.planMs.toSeq), "ms"),
      "queries.exec_ms" -> (med(_.execMs.toSeq), "ms"),
      "queries.eager_jobs_per_op" -> (all.map(_.eagerJobs).sum / ops, "count"),
      "spark.jobs_per_op" -> (tot.jobs / ops, "count"),
      "spark.stages_per_op" -> (tot.stages / ops, "count"),
      "spark.tasks_per_op" -> (tot.tasks / ops, "count"),
      "spark.task_busy_share" -> (tot.taskRunMs / (timedWallS * 1000.0 * slots), "ratio"),
      "spark.task_cpu_s_per_op" -> (tot.taskCpuNs / 1e9 / ops, "s"),
      "spark.shuffle_read_mb_per_op" -> (tot.shuffleRead / 1048576.0 / ops, "MB"),
      "spark.shuffle_write_mb_per_op" -> (tot.shuffleWrite / 1048576.0 / ops, "MB"),
      "spark.spill_mb_per_op" -> (tot.spill / 1048576.0 / ops, "MB"),
      "spark.storage_mb" -> (all.flatMap(_.storageMb).sum / ops, "MB")) ++
      stats.map { case (q, st) =>
        s"row.$q.ms" -> (Main.median(st.constructMs.indices.map(i =>
          st.constructMs(i) + st.planMs(i) + st.execMs(i))), "ms")
      }
  }
}

/** Shared shape of `suite` and `scale`: a fixed, ordered list of engine
  * queries per round, with cleanup between them outside the timed
  * window. The warm-up runs each query once and writes its result,
  * which the output checks read. */
abstract class QueryWorkload(o: Opts) extends Workload {
  /** (query, changes state, family) in run order. */
  def plan: Vector[(String, Boolean, String)]
  /** Writes this workload's input tables under `dir`. */
  def generate(dir: String): Unit
  /** Queries whose output run.py checks against DuckDB. */
  def oracleQueries: Set[String] = plan.map(_._1).toSet

  protected var spark: SparkSession = _
  protected var counters: Option[SparkCounters] = None
  protected var runner: QueryRunner = _
  protected val tables = s"${o.work}/tables"
  protected val outputs = s"${o.work}/out"
  private val familyMs = mutable.LinkedHashMap.empty[String, Double]
  private var rounds = 0

  override def open(): Unit = {
    spark = Sessions.create(o)
    if (o.trace) counters = Some(new SparkCounters().install(spark))
    val unknown = plan.map(_._1).filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: $unknown")
  }
  override def close(): Unit = if (spark != null) spark.stop()

  def prepare(): Unit = {
    generate(tables)
    // load: one scan of every table written, as the first query would
    Files.list(Paths.get(tables)).forEach(p => spark.read.parquet(p.toString).count())
    runner = new QueryRunner(spark, tables, counters)
  }

  def warmup(): Unit = {
    plan.foreach { case (q, _, _) =>
      runner.output(q, outputs)
      Sessions.cleanup(spark)
    }
    val oracle = plan.map(_._1).filter(q => oracleQueries(q) && SparkEntry.oracleSql.contains(q))
      .map(q => s"${Json.str(q)}:${Json.str(SparkEntry.oracleSql(q))}")
    Files.write(Paths.get(s"${o.work}/oracle.json"), oracle.mkString("{", ",", "}").getBytes(UTF_8))
  }

  def round(rec: Recorder): Unit = {
    rounds += 1
    plan.foreach { case (q, update, family) =>
      val t0 = System.nanoTime()
      rec.op(update)(runner.run(q))
      familyMs(family) = familyMs.getOrElse(family, 0.0) + (System.nanoTime() - t0) / 1e6
      Sessions.cleanup(spark)
    }
  }

  def layers(rec: Recorder): Map[String, (Double, String)] =
    runner.layers(rec.wallNs / 1e9, o.slots) ++
      familyMs.map { case (f, ms) => s"${f}_ms" -> (ms / rounds, "ms") }

  protected def rows(q: String): Vector[org.apache.spark.sql.Row] =
    spark.read.parquet(s"$outputs/$q").collect().toVector
}

/** `suite`: a fixed subset of `graft.Bench`'s rows, at least one per
  * operator family, over seeded tables the size of sf0.01. Each output
  * is checked against DuckDB running the query's oracle SQL (by
  * run.py, after this process exits). */
final class SuiteWorkload(o: Opts) extends QueryWorkload(o) {
  val roundSeconds = 3.7
  val plan: Vector[(String, Boolean, String)] = Vector(
    ("q01_pricing_summary", false, "queries.relational"),
    ("q20_gram_postings", false, "bulk.gram_index"),
    ("q69_reindex_delta", true, "bulk.gram_index"),
    ("q32_dedup_minhash_lsh", false, "ops.dedup"),
    ("q85_dedup_delta", true, "ops.dedup"),
    ("q103_dedup_clusters_delta", true, "ops.dedup"),
    ("q38_ann_ivf", false, "ops.similarity"),
    ("q93_dedup_embedding_delta", true, "ops.similarity"),
    ("q40_lang_id", false, "ops.curation"),
    ("q50_media_features", false, "ops.media"),
    ("q61_descendants", false, "bulk.graph"))

  def generate(dir: String): Unit = Gen.writeTables(spark, dir, o.seed, Gen.Small)

  def checks(): Seq[Check] = {
    val missing = plan.map(_._1).filterNot(SparkEntry.oracleSql.contains)
    Seq(Check("suite.oracle_sql_present", missing.isEmpty,
      if (missing.isEmpty) s"${plan.size} queries have DuckDB oracles" else s"no oracle: $missing"))
  }
}

/** `scale`: the heavy gram-index and dedup operators over a seeded,
  * decorrelated replication of a document corpus (see Gen.scaleTexts),
  * where kernels, shuffles and joins take the time. Outputs are checked
  * by DuckDB where its oracle is near-linear in the corpus (run.py), and by
  * properties elsewhere: delta maintenance equals a rebuild, and every
  * reported pair's exact Jaccard is recomputed here. */
final class ScaleWorkload(o: Opts) extends QueryWorkload(o) {
  val Base = 600
  val Reps = 5
  val roundSeconds = 5.2

  val plan: Vector[(String, Boolean, String)] = Vector(
    ("q20_gram_postings", false, "bulk.gram_index"),
    ("q24_overlap_pruned", false, "bulk.gram_index"),
    ("q31_dedup_jaccard", false, "ops.dedup"),
    ("q32_dedup_minhash_lsh", false, "ops.dedup"),
    ("q37_dedup_clusters", false, "ops.dedup"),
    ("q96_exact_substr", false, "ops.curation"),
    ("q85_dedup_delta", true, "ops.dedup"),
    ("q103_dedup_clusters_delta", true, "ops.dedup"))

  /** The rows checked against DuckDB: q20 makes one pass, q24 joins
    * only grams held by at most 50 documents. The other rows are
    * checked by recomputation and properties in `checks`; q96's DuckDB
    * oracle builds every 40-character window with list lambdas and is
    * slower than all the other checks together, so its windows are
    * recounted here instead. */
  override def oracleQueries: Set[String] = Set("q20_gram_postings", "q24_overlap_pruned")

  private lazy val corpus = Gen.scaleTexts(o.seed, Base, Reps)

  def generate(dir: String): Unit =
    Gen.writeDocuments(spark, dir, corpus._1, corpus._2, o.seed)

  /** Kernel-only passes of the Catalyst functions over the corpus. */
  private def kernels(): Map[String, (Double, String)] = {
    graft.functions.GramTokens.ensureRegistered(spark)
    graft.functions.GramPostings.ensureRegistered(spark)
    graft.functions.DedupKernels.ensureRegistered(spark)
    graft.functions.TextStatsFns.ensureRegistered(spark)
    val docs = spark.read.parquet(s"$tables/documents.parquet").repartition(o.slots).cache()
    docs.count()
    docs.createOrReplaceTempView("perfbench_docs")
    val passes = Seq(
      "functions.gram_postings_ms" -> "sum(size(graft_gram_postings(text)))",
      "functions.minhash_ms" -> "sum(graft_minhash_sig(text, 3, 64)[0])",
      "functions.simhash_ms" -> "bit_xor(graft_simhash60(text))",
      "functions.shingle_ms" -> "sum(size(graft_shingle_set(text, 3)))",
      "functions.text_stats_ms" -> "bit_xor(hash(graft_text_stats(text)))")
    val out = passes.map { case (name, agg) =>
      val q = s"SELECT $agg FROM perfbench_docs"
      spark.sql(q).collect()
      name -> (Main.median((1 to 3).map { _ =>
        val t0 = System.nanoTime()
        spark.sql(q).collect()
        (System.nanoTime() - t0) / 1e6
      }), "ms")
    }.toMap
    docs.unpersist(blocking = true)
    out
  }

  override def layers(rec: Recorder): Map[String, (Double, String)] = super.layers(rec) ++ kernels()

  def checks(): Seq[Check] = {
    val texts = corpus._1.zip(corpus._2).toMap
    def pairs(q: String, a: String, b: String) = rows(q).map(r =>
      (r.getAs[Long](a), r.getAs[Long](b), r.getAs[Number]("inter").longValue,
        r.getAs[Number]("union_size").longValue))
    // q31 drops shingles held by more than ShingleCap documents first
    val df = mutable.HashMap.empty[String, Int]
    texts.valuesIterator.foreach(t => Checks.shingles(t).foreach(s => df(s) = df.getOrElse(s, 0) + 1))
    val hot = df.collect { case (s, n) if n > graft.queries.Pipelines.ShingleCap => s }.toSet
    val exact: Long => Set[String] = id => Checks.shingles(texts(id))
    def clusters(q: String) = rows(q).map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("component_id"))).toSet
    Seq(
      Checks.jaccardPairs("scale.q31_exact_jaccard", id => exact(id) -- hot,
        pairs("q31_dedup_jaccard", "id_a", "id_b")),
      Checks.jaccardPairs("scale.q32_exact_jaccard", exact, pairs("q32_dedup_minhash_lsh", "id_a", "id_b")),
      Checks.jaccardPairs("scale.q85_exact_jaccard",
        exact, pairs("q85_dedup_delta", "delta_id", "corpus_id").map {
          case (d, c, i, u) => (math.min(d, c), math.max(d, c), i, u)
        }),
      Checks.sameRows("scale.q103_delta_equals_q37_rebuild",
        clusters("q103_dedup_clusters_delta"), clusters("q37_dedup_clusters")),
      Checks.sameRows("scale.q96_window_repeats",
        rows("q96_exact_substr").map(r => r.getAs[Long]("doc_id") -> ((r.getAs[Long]("n_windows"),
          r.getAs[Long]("n_repeated"), r.getAs[Long]("repeated_permille")))).toSet,
        Checks.windowRepeats(texts.toVector, 40).toSet))
  }
}
