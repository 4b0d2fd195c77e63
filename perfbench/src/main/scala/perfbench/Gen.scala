package perfbench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

// Row shapes of the generated tables (TPC-H-like star, a document
// corpus with near-duplicate clusters, and clustered embeddings).
case class LineitemRow(l_orderkey: Long, l_partkey: Long, l_linenumber: Int,
                       l_quantity: Double, l_extendedprice: Double,
                       l_discount: Double, l_returnflag: String)
case class OrderRow(o_orderkey: Long, o_custkey: Long, o_orderyear: Int,
                    o_orderpriority: String)
case class CustomerRow(c_custkey: Long, c_nationkey: Int, c_mktsegment: String)
case class PartRow(p_partkey: Long, p_brand: String, p_size: Int)
case class DocRow(doc_id: Long, text: String, source: String)
case class VecRow(vec_id: Long, embedding: Array[Float])

/** Seeded input generator. Every value is a pure function of
  * (seed, table, row id), so the same seed gives byte-identical tables
  * whatever the partitioning, and a different seed gives different
  * ones. Fact tables are written as several parquet files so a scan
  * spreads over the local cores. Row counts are fixed by the workload
  * and `scale`; the seed moves only the values. */
object Gen {
  /** Files per fact table: two per core of a 4-core host. */
  val FactFiles = 8

  case class Table(name: String, rows: Long, bytes: Long, files: Int, digest: Long)

  /** Row counts at scale 1. */
  def sizes(workload: String, scale: Double): Map[String, Long] = {
    def n(base: Long, floor: Long) = math.max(floor, math.round(base * scale))
    workload match {
      case "tidy_star" =>
        val li = n(600000, 2000)
        Map("lineitem" -> li, "orders" -> n(150000, 500),
          "customer" -> n(15000, 100), "part" -> n(20000, 100))
      case "dedup_ingest" => Map("documents" -> n(3000, 300))
      case "ann_calibrated" => Map("embeddings" -> n(6000, 600))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  /** A well-mixed 64-bit stream for (seed, salt, id). */
  def rng(seed: Long, salt: Long, id: Long): SplittableRandom = {
    var z = seed * 0x9E3779B97F4A7C15L + salt * 0xC2B2AE3D27D4EB4FL + id
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    new SplittableRandom(z ^ (z >>> 33))
  }

  private val Flags = Array("A", "N", "R")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Sources = Array("crawl", "forum", "news", "wiki")

  def lineitem(seed: Long, orders: Long, parts: Long)(id: Long): LineitemRow = {
    val r = rng(seed, 1, id)
    val qty = (1 + r.nextInt(50)).toDouble
    val price = math.round(qty * (900 + r.nextInt(100000)) ) / 100.0
    LineitemRow(r.nextLong(orders), r.nextLong(parts), 1 + r.nextInt(7), qty,
      price, r.nextInt(11) / 100.0, Flags(r.nextInt(3)))
  }

  def order(seed: Long, customers: Long)(id: Long): OrderRow = {
    val r = rng(seed, 2, id)
    OrderRow(id, r.nextLong(customers), 1992 + r.nextInt(7), Priorities(r.nextInt(5)))
  }

  def customer(seed: Long)(id: Long): CustomerRow = {
    val r = rng(seed, 3, id)
    CustomerRow(id, r.nextInt(25), Segments(r.nextInt(5)))
  }

  def part(seed: Long)(id: Long): PartRow = {
    val r = rng(seed, 4, id)
    PartRow(id, f"Brand#${1 + r.nextInt(5)}${1 + r.nextInt(5)}", 1 + r.nextInt(50))
  }

  /** Pseudo-words: two to four syllables, a vocabulary per seed. */
  private def word(seed: Long, w: Int): String = {
    val syll = Array("ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "da", "pi",
      "gor", "len", "tis", "bar", "qua", "zen", "fol", "mur", "hex", "dri")
    val r = rng(seed, 5, w)
    (0 until 2 + r.nextInt(3)).map(_ => syll(r.nextInt(syll.length))).mkString
  }

  private val VocabSize = 3000

  /** A template document: sentences of 8–15 words, 60–140 words. */
  private def template(seed: Long, t: Long): Array[String] = {
    val r = rng(seed, 6, t)
    Array.fill(60 + r.nextInt(81))(word(seed, r.nextInt(VocabSize)))
  }

  private def render(words: Array[String], r: SplittableRandom, terminate: Boolean): String = {
    val sb = new StringBuilder
    var i = 0
    var sentence = 0
    val len = 8 + r.nextInt(8)
    while (i < words.length) {
      val w = words(i)
      sb.append(if (sentence == 0) w.capitalize else w)
      sentence += 1
      i += 1
      if (i == words.length) { if (terminate) sb.append('.') }
      else if (sentence == len) { sb.append(". "); sentence = 0 }
      else sb.append(' ')
    }
    sb.toString
  }

  /** Four in five documents are originals; the rest are near-copies of
    * an original, with about one word in forty replaced and, for a
    * third of them, the final terminator dropped (a lower quality
    * score, so keep-best has a real choice to make). */
  def document(seed: Long, n: Long)(id: Long): DocRow = {
    val originals = math.max(1L, n * 4 / 5)
    val r = rng(seed, 7, id)
    val src = Sources(r.nextInt(Sources.length))
    if (id < originals)
      DocRow(id, render(template(seed, id), rng(seed, 8, id), terminate = true), src)
    else {
      val t = r.nextLong(originals)
      val words = template(seed, t)
      var i = 0
      while (i < words.length) {
        if (r.nextInt(40) == 0) words(i) = word(seed, r.nextInt(VocabSize))
        i += 1
      }
      DocRow(id, render(words, rng(seed, 8, t), terminate = r.nextInt(3) != 0), src)
    }
  }

  val Dim = 64
  private val Clusters = 48

  private def gaussianUnit(r: SplittableRandom): Array[Double] = {
    val v = Array.fill(Dim) {
      // Box–Muller from the stream: deterministic, no shared state
      val u = math.max(r.nextDouble(), 1e-12)
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / norm)
  }

  /** Clustered unit-ish vectors: a cluster centre plus isotropic noise. */
  def vector(seed: Long)(id: Long): Array[Float] = {
    val r = rng(seed, 9, id)
    val centre = gaussianUnit(rng(seed, 10, r.nextInt(Clusters)))
    val noise = gaussianUnit(r)
    Array.tabulate(Dim)(i => (centre(i) + 0.55 * noise(i)).toFloat)
  }

  /** Query batch `b`: perturbed copies of corpus vectors, with ids
    * outside the corpus id range so no query excludes a true neighbour
    * as "itself". */
  def queryBatch(seed: Long, n: Long, b: Int, size: Int): Seq[(Long, Array[Float])] =
    (0 until size).map { j =>
      val r = rng(seed, 11, b * 100000L + j)
      val base = vector(seed)(r.nextLong(n))
      val noise = gaussianUnit(r)
      (1000000000L + b * 100000L + j,
        Array.tabulate(Dim)(i => (base(i) + 0.15 * noise(i)).toFloat))
    }

  /** Writes every table of `workload` under `dir` and returns its stats. */
  def write(spark: SparkSession, workload: String, seed: Long, scale: Double,
            dir: File): Seq[Table] = {
    import spark.implicits._
    val sz = sizes(workload, scale)
    def ids(n: Long, files: Int) = spark.range(0, n, 1, files).as[Long]
    val frames: Seq[(String, DataFrame)] = workload match {
      case "tidy_star" =>
        val (o, c, p) = (sz("orders"), sz("customer"), sz("part"))
        Seq(
          "lineitem" -> ids(sz("lineitem"), FactFiles).map(lineitem(seed, o, p)).toDF(),
          "orders" -> ids(o, FactFiles).map(order(seed, c)).toDF(),
          "customer" -> ids(c, 1).map(customer(seed)).toDF(),
          "part" -> ids(p, 1).map(part(seed)).toDF())
      case "dedup_ingest" =>
        val n = sz("documents")
        Seq("documents" -> ids(n, FactFiles).map(document(seed, n)).toDF())
      case "ann_calibrated" =>
        Seq("embeddings" -> ids(sz("embeddings"), FactFiles)
          .map(id => VecRow(id, vector(seed)(id))).toDF())
    }
    frames.map { case (name, df) =>
      val path = new File(dir, name)
      df.write.mode("overwrite").parquet(path.getPath)
      val files = Option(path.listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.getName.endsWith(".parquet"))
      Table(name, sz(name), files.map(_.length).sum, files.length,
        digest(spark.read.parquet(path.getPath)))
    }
  }

  /** Order-independent content digest of a frame: the sum of per-row
    * hashes over every column (31-bit, so the sum cannot overflow). */
  def digest(df: DataFrame): Long = {
    val h = pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(2147483647L))
    df.agg(coalesce(sum(h), lit(0L))).head().getLong(0)
  }
}
