package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every table has the schema and value
  * domains of the engine's TPC-H-like test tables (star schema,
  * `events`, `documents`, `embeddings`), so every query and its
  * DuckDB oracle run on them unchanged. The same seed gives the same
  * rows.
  */
object Gen {
  val Vocab: Vector[String] = Vector("join", "hash", "row", "batch", "scan", "column",
    "customer", "filter", "small", "slow", "merge", "order", "vector", "line", "table",
    "data", "agg", "value", "key", "stream", "window", "a", "spark", "part", "group",
    "big", "sort", "query", "fast", "the")

  /** Row counts of one generated star schema. */
  final case class Sizes(customers: Int, suppliers: Int, parts: Int, orders: Int,
      lineitems: Int, events: Int, users: Int, documents: Int, embeddings: Int)
  /** The size of the engine's sf0.01 test tables. */
  val Small: Sizes = Sizes(1500, 100, 2000, 15000, 60000, 10000, 150, 500, 500)

  private def round2(x: Double): Double = math.round(x * 100) / 100.0
  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))

  /** Document texts: random word runs, with planted exact duplicates
    * (2%) and near-duplicates (8%, one to three words substituted). */
  def documentTexts(seed: Long, n: Int): Vector[String] = {
    val r = new SplittableRandom(seed ^ 0x5eed0001L)
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      val u = r.nextDouble()
      out(i) =
        if (i > 10 && u < 0.02) out(r.nextInt(i))
        else if (i > 10 && u < 0.10) {
          val ws = out(r.nextInt(i)).split(' ')
          (0 until 1 + r.nextInt(3)).foreach(_ => ws(r.nextInt(ws.length)) = pick(r, Vocab))
          ws.mkString(" ")
        } else Vector.fill(10 + r.nextInt(90))(pick(r, Vocab)).mkString(" ")
      i += 1
    }
    out.toVector
  }

  /** An ingest stream: `init` seed documents, then batches of `batch`
    * documents in which exactly `dupsOfCorpus` are near-copies (one to
    * three words substituted) of documents from earlier batches or the
    * seed corpus and `dupsInBatch` are near-copies of an earlier document
    * of the same batch. Every batch thus carries the same amount of
    * duplicate work, whatever the seed. */
  def ingestTexts(seed: Long, init: Int, batch: Int, batches: Int,
      dupsOfCorpus: Int, dupsInBatch: Int): Vector[String] = {
    val r = new SplittableRandom(seed ^ 0x5eed0004L)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def fresh() = Vector.fill(10 + r.nextInt(90))(pick(r, Vocab)).mkString(" ")
    def near(t: String) = {
      val ws = t.split(' ')
      (0 until 1 + r.nextInt(3)).foreach(_ => ws(r.nextInt(ws.length)) = pick(r, Vocab))
      ws.mkString(" ")
    }
    (0 until init).foreach(_ => out += fresh())
    (0 until batches).foreach { _ =>
      val start = out.size
      val kinds = new scala.util.Random(r.nextLong())
        .shuffle(Vector.fill(dupsOfCorpus)(1) ++ Vector.fill(dupsInBatch)(2) ++
          Vector.fill(batch - dupsOfCorpus - dupsInBatch)(0))
      // a within-batch copy needs an earlier document of its batch
      val order = kinds.sortBy(k => if (k == 2) 1 else 0)
      order.foreach {
        case 0 => out += fresh()
        case 1 => out += near(out(r.nextInt(start)))
        case _ => out += near(out(start + r.nextInt(out.size - start)))
      }
    }
    out.toVector
  }

  /** Unit-norm 64-d embeddings around 10 label centroids, with 5%
    * planted near-copies of earlier vectors. */
  def embeddings(seed: Long, n: Int): Vector[(Array[Float], Int)] = {
    val r = new SplittableRandom(seed ^ 0x5eed0002L)
    def gauss(): Double = {
      // Box-Muller on the seeded stream
      val u1 = math.max(r.nextDouble(), 1e-12)
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    def unit(v: Array[Double]): Array[Float] = {
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / nrm).toFloat)
    }
    val centroids = Vector.fill(10)(Array.fill(64)(gauss()))
    val out = new Array[(Array[Float], Int)](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (i > 10 && r.nextDouble() < 0.05) {
          val (v, l) = out(r.nextInt(i))
          (unit(v.map(_ + 0.01 * gauss())), l)
        } else {
          val l = r.nextInt(10)
          (unit(centroids(l).map(_ + 0.7 * gauss())), l)
        }
      i += 1
    }
    out.toVector
  }

  private def write(spark: SparkSession, dir: String, name: String, schema: StructType,
      rows: Seq[Row]): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/$name.parquet")

  private def f(name: String, t: DataType) = StructField(name, t)

  def writeDocuments(spark: SparkSession, dir: String, ids: Seq[Long], texts: Seq[String],
      seed: Long): Unit = {
    val r = new SplittableRandom(seed ^ 0x5eed0003L)
    val langs = Vector("en", "en", "en", "fr", "de", "es", "zh")
    write(spark, dir, "documents",
      StructType(Seq(f("doc_id", LongType), f("text", StringType), f("lang", StringType),
        f("source", StringType), f("n_chars", LongType))),
      ids.zip(texts).map { case (id, t) =>
        Row(id, t, pick(r, langs), s"src${id % 20}", t.length.toLong)
      })
  }

  def writeEmbeddings(spark: SparkSession, dir: String, ids: Seq[Long],
      vecs: Seq[(Array[Float], Int)]): Unit =
    write(spark, dir, "embeddings",
      StructType(Seq(f("vec_id", LongType), f("embedding", ArrayType(FloatType)),
        f("label", IntegerType))),
      ids.zip(vecs).map { case (id, (v, l)) => Row(id, v.toSeq, l) })

  /** Writes all ten tables under `dir`. */
  def writeTables(spark: SparkSession, dir: String, seed: Long, s: Sizes): Unit = {
    val r = new SplittableRandom(seed)
    val regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write(spark, dir, "region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      regions.indices.map(i => Row(i, regions(i))))
    write(spark, dir, "nation",
      StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType), f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val segments = Vector("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING")
    write(spark, dir, "customer",
      StructType(Seq(f("c_custkey", LongType), f("c_name", StringType), f("c_nationkey", IntegerType),
        f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until s.customers).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        round2(-999.99 + r.nextDouble() * 10999.98), pick(r, segments))))
    write(spark, dir, "supplier",
      StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType), f("s_nationkey", IntegerType),
        f("s_acctbal", DoubleType))),
      (0 until s.suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        round2(-999.99 + r.nextDouble() * 10999.98))))
    val adjs = Vector("small", "red", "blue", "hot", "old", "large", "new")
    val nouns = Vector("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil")
    val types = Vector("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")
    write(spark, dir, "part",
      StructType(Seq(f("p_partkey", LongType), f("p_name", StringType), f("p_brand", StringType),
        f("p_type", StringType), f("p_size", IntegerType), f("p_retailprice", DoubleType))),
      (0 until s.parts).map(i => Row(i.toLong, s"${pick(r, adjs)} ${pick(r, nouns)}",
        s"Brand#${1 + r.nextInt(25)}", pick(r, types), 1 + r.nextInt(50),
        round2(900.0 + (i % 1000) * 0.1))))
    val base = LocalDateTime.of(1995, 1, 1, 0, 0)
    val statuses = Vector("O", "F", "P")
    val prios = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    write(spark, dir, "orders",
      StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType), f("o_orderstatus", StringType),
        f("o_totalprice", DoubleType), f("o_orderdate", TimestampNTZType),
        f("o_orderpriority", StringType))),
      (0 until s.orders).map(i => Row(i.toLong, r.nextInt(s.customers).toLong, pick(r, statuses),
        round2(1000.0 + r.nextDouble() * 499000.0), base.plusDays(r.nextInt(2404)),
        pick(r, prios))))
    write(spark, dir, "lineitem",
      StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType), f("l_suppkey", LongType),
        f("l_linenumber", IntegerType), f("l_quantity", DoubleType), f("l_extendedprice", DoubleType),
        f("l_discount", DoubleType), f("l_tax", DoubleType), f("l_returnflag", StringType),
        f("l_linestatus", StringType), f("l_shipdate", TimestampNTZType))),
      (0 until s.lineitems).map(_ => Row(r.nextInt(s.orders).toLong, r.nextInt(s.parts).toLong,
        r.nextInt(s.suppliers).toLong, 1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
        round2(900.0 + r.nextDouble() * 104100.0), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        pick(r, Vector("A", "N", "R")), pick(r, Vector("O", "F")),
        base.plusDays(1 + r.nextInt(2498)))))
    val evBase = LocalDateTime.of(2024, 1, 1, 0, 0)
    val meanGapUs = 30L * 86400L * 1000000L / s.events
    var tsUs = 0L
    val kinds = Vector("click", "signup", "error", "view", "purchase")
    write(spark, dir, "events",
      StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType), f("user_id", LongType),
        f("event_type", StringType), f("value", DoubleType), f("props", StringType))),
      (0 until s.events).map { i =>
        tsUs += 1 + (-math.log(math.max(r.nextDouble(), 1e-12)) * meanGapUs).toLong
        Row(i.toLong, evBase.plusNanos(tsUs * 1000L), r.nextInt(s.users).toLong, pick(r, kinds),
          round2(0.01 + r.nextDouble() * 490.0), s"""{"k": ${r.nextInt(100)}}""")
      })
    val docIds = (0 until s.documents).map(_.toLong)
    writeDocuments(spark, dir, docIds, documentTexts(seed, s.documents), seed)
    writeEmbeddings(spark, dir, (0 until s.embeddings).map(_.toLong), embeddings(seed, s.embeddings))
  }

  /** The scale corpus: `base` seeded documents replicated `reps` times
    * with per-replica decorrelation, as the engine's ScaleGen tool
    * replicates sf0.1: replica k rotates every [a-zA-Z0-9] character
    * by k places over that 62-letter alphabet (so replicas share no
    * shingles while each keeps its own near-duplicate structure) and
    * offsets ids by k * 1,000,000. */
  def scaleTexts(seed: Long, base: Int, reps: Int): (Vector[Long], Vector[String]) = {
    val alphabet = (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')).toArray
    val idx = alphabet.zipWithIndex.toMap
    def rot(t: String, k: Int): String =
      t.map(c => idx.get(c).fold(c)(i => alphabet((i + k) % alphabet.length)))
    val texts = documentTexts(seed, base)
    val rows = for (k <- 0 until reps; (t, i) <- texts.zipWithIndex)
      yield (i.toLong + k * 1000000L, rot(t, k))
    (rows.map(_._1).toVector, rows.map(_._2).toVector)
  }
}
