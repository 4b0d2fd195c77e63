package perfbench

import java.io.File
import java.util.Properties

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Agg, CrysFrame}
import graft.ml.{Dedup, Pq}
import graft.sources.Export
import graft.text.TextFunctions

/** What one op returns: the problems its output check found (empty when
  * correct), its output row count, and workload-specific per-layer
  * numbers for the traced run. */
final case class Outcome(problems: Seq[String], outputRows: Long,
                         notes: Map[String, Double] = Map.empty)

/** A workload bound to a live session: `op(i)` runs one full pipeline
  * call through the library's public functions and checks its output
  * against the reference computed for this seed. */
trait Workload {
  /** Input rows one op processes. */
  def inputRows: Long
  def op(i: Int): Outcome
  /** Standalone kernel passes over the op's input, timed for the traced
    * run (seconds by metric name); empty where no kernel is in play. */
  def kernelPasses(): Map[String, Double] = Map.empty
  /** Per-layer metrics (name, unit) only this workload reports. */
  def ownMetrics: Seq[(String, String)] = Nil
  /** Per-layer numbers read from the op's traced spans. */
  def spanNotes(spans: Seq[(Span, Acc)], out: Outcome): Map[String, Double] = Map.empty
}

object Workloads {
  val Names = Seq("tidy_star", "dedup_ingest", "ann_calibrated")

  /** Ops in each set-up, so that a run times ops once the JIT has
    * compiled the hot paths. `dedup_ingest`'s ops are steady after the
    * three set-ups' first ops; `tidy_star`'s driver-bound ops take about
    * six ops to come within 10% of their steady time. */
  def warmups(workload: String): Int = if (workload == "tidy_star") 2 else 1

  /** Computes the correctness reference for one seed's inputs, by a
    * code path other than the one an op times. */
  def reference(workload: String, spark: SparkSession, dir: File, seed: Long,
                rows: Map[String, Long]): Properties = workload match {
    case "tidy_star" => TidyStar.reference(spark, dir)
    case "dedup_ingest" => DedupIngest.reference(spark, dir)
    case "ann_calibrated" => AnnCalibrated.reference(seed, rows("embeddings"))
  }

  def open(workload: String, spark: SparkSession, in: Inputs, t: Tracer,
           runDir: File): Workload = workload match {
    case "tidy_star" => new TidyStar(spark, in, t)
    case "dedup_ingest" => new DedupIngest(spark, in, t, runDir)
    case "ann_calibrated" => new AnnCalibrated(spark, in, t)
  }

  def parquet(spark: SparkSession, dir: File, table: String): DataFrame =
    spark.read.parquet(new File(dir, table).getPath)

  /** Canonical text of a value: numbers compare by decimal value, so
    * int vs long or decimal scale differences between two engines'
    * result types do not count as a mismatch. */
  private def canon(v: Any): String = v match {
    case null => "\u0000"
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case d: Double => new java.math.BigDecimal(d).stripTrailingZeros.toPlainString
    case n: Number => java.math.BigDecimal.valueOf(n.longValue).toPlainString
    case other => other.toString
  }

  /** Order-independent digest of collected rows. */
  def rowsDigest(rows: Seq[Row]): Long =
    rows.map(r => (MurmurHash3.seqHash(r.toSeq.map(canon)) & 0x7fffffffL)).sum

  def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }
}

/** The paper's own surface: a CrysFrame chain of filter, three inner
  * joins, a grouped summarize, a spread, then an ungrouped sort with
  * running sum, lag and row number (the GlobalWindows path). */
final class TidyStar(spark: SparkSession, in: Inputs, t: Tracer) extends Workload {
  import Workloads._
  private val Seq(li, orders, customer, part) =
    Seq("lineitem", "orders", "customer", "part").map(n => CrysFrame(parquet(spark, in.dir, n)))
  private val refDigest = in.ref("digest").toLong
  private val refRows = in.ref("rows").toLong
  val inputRows: Long = Seq("lineitem", "orders", "customer", "part").map(in.rows).sum

  def op(i: Int): Outcome = {
    val lf = t.span("core.filter")(li.filter(_ => col("l_quantity") < 45))
    val of = t.span("core.filter")(orders.filter(_ => col("o_orderyear") >= 1994))
    val j1 = t.span("core.innerJoin")(lf.innerJoin(of, byPairs = Seq("l_orderkey" -> "o_orderkey")))
    val j2 = t.span("core.innerJoin")(j1.innerJoin(customer, byPairs = Seq("o_custkey" -> "c_custkey")))
    val j3 = t.span("core.innerJoin")(j2.innerJoin(part, byPairs = Seq("l_partkey" -> "p_partkey")))
    val rev = t.span("core.addColumn")(j3.addColumn("rev")(_ =>
      (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)")))
    val g = t.span("core.groupBy")(rev.groupBy("c_nationkey", "p_brand", "l_returnflag"))
    val s = t.span("core.summarize")(g.summarize("rev" -> (_ => Agg.sum(col("rev")))))
    val wide = t.span("core.spread")(s.spread("l_returnflag", "rev", fill = 0))
    val sorted = t.span("core.sortBy")(wide.sortBy("c_nationkey", "p_brand"))
    val win = t.span("core.addColumns")(sorted.addColumns(
      "cum_r" -> (c => c.cumsum(col("R"))),
      "prev_a" -> (c => c.lag(col("A"))),
      "rn" -> (c => c.rowNumber)))
    val rows = t.span("core.collect", action = true)(
      win.select("c_nationkey", "p_brand", "A", "N", "R", "cum_r", "prev_a", "rn").out.collect())
    val d = rowsDigest(rows.toSeq)
    val problems =
      (if (rows.length != refRows) Seq(s"rows ${rows.length} != reference $refRows") else Nil) ++
        (if (d != refDigest) Seq(s"digest $d != reference $refDigest (plain Spark SQL)") else Nil)
    Outcome(problems, rows.length)
  }
}

object TidyStar {
  /** The same question in plain Spark SQL: joins, conditional sums for
    * the spread, and partition-less windows. */
  def reference(spark: SparkSession, dir: File): Properties = {
    Seq("lineitem", "orders", "customer", "part").foreach(n =>
      Workloads.parquet(spark, dir, n).createOrReplaceTempView(s"ref_$n"))
    val rows = spark.sql(
      """WITH j AS (
        |  SELECT c_nationkey, p_brand, l_returnflag,
        |         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS rev
        |  FROM ref_lineitem
        |  JOIN ref_orders ON l_orderkey = o_orderkey
        |  JOIN ref_customer ON o_custkey = c_custkey
        |  JOIN ref_part ON l_partkey = p_partkey
        |  WHERE l_quantity < 45 AND o_orderyear >= 1994),
        |g AS (
        |  SELECT c_nationkey, p_brand,
        |         coalesce(sum(CASE WHEN l_returnflag = 'A' THEN rev END), 0) AS A,
        |         coalesce(sum(CASE WHEN l_returnflag = 'N' THEN rev END), 0) AS N,
        |         coalesce(sum(CASE WHEN l_returnflag = 'R' THEN rev END), 0) AS R
        |  FROM j GROUP BY c_nationkey, p_brand)
        |SELECT c_nationkey, p_brand, A, N, R,
        |       sum(R) OVER (ORDER BY c_nationkey, p_brand
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_r,
        |       lag(A) OVER (ORDER BY c_nationkey, p_brand) AS prev_a,
        |       row_number() OVER (ORDER BY c_nationkey, p_brand) AS rn
        |FROM g""".stripMargin).collect()
    val p = new Properties()
    p.setProperty("digest", Workloads.rowsDigest(rows.toSeq).toString)
    p.setProperty("rows", rows.length.toString)
    p
  }
}

/** The LLM-ingest shape: quality score, MinHash candidate pairs,
  * connected components on the distributed tier, keep-best per
  * cluster, then a sharded TFRecord export and its audit. */
final class DedupIngest(spark: SparkSession, in: Inputs, t: Tracer, runDir: File)
    extends Workload {
  import Workloads._
  private val docs = parquet(spark, in.dir, "documents")
  private val exportDir = new File(runDir, "export")
  private val refKept = in.ref("kept").toLong
  private val refDigest = in.ref("digest").toLong
  private val edges = in.ref("edges").toDouble
  val inputRows: Long = in.rows("documents")

  def op(i: Int): Outcome = {
    val scored = t.span("text.qualityScore")(
      docs.withColumn("quality", TextFunctions.qualityScore(col("text"))))
    val pairs = t.span("ml.minhashPairs")(Dedup.minhashPairs(scored, "doc_id", "text"))
    // localEdgeLimit = 0 forces the distributed tier a corpus of real
    // size takes; at this size the default would solve on the driver
    val labels = t.span("ml.connectedComponents")(
      Dedup.connectedComponents(pairs.select("id_a", "id_b"), localEdgeLimit = 0))
    val kept = t.span("ml.keepBestPerCluster")(
      Dedup.keepBestPerCluster(scored, "doc_id", "quality", labels))
    val payload = kept.select(col("doc_id"),
      to_json(struct(col("doc_id"), col("label"), col("quality"), col("source"), col("text")))
        .cast("binary").as("payload"))
    val manifest = t.span("sources.writeShardsTfrecord")(
      Export.writeShardsTfrecord(payload, "doc_id", "payload", DedupIngest.Shards,
        exportDir.getPath))
    val audit = t.span("sources.auditShards")(
      Export.auditShards(spark, exportDir.getPath, manifest))
    val auditRows = t.span("sources.collect", action = true)(audit.collect())

    val files = Option(exportDir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".tfrecord"))
    val keptPairs = files.toSeq.flatMap(DedupIngest.readKept)
    val d = DedupIngest.keptDigest(keptPairs)
    val audited = auditRows.map(_.getAs[Long]("n_actual")).sum
    val problems = Seq(
      if (auditRows.forall(_.getAs[Boolean]("ok"))) None
      else Some("auditShards reports a shard not ok"),
      if (audited == refKept) None else Some(s"audited rows $audited != reference kept $refKept"),
      if (keptPairs.size == refKept) None
      else Some(s"exported ${keptPairs.size} docs != reference kept $refKept (local union-find)"),
      if (d == refDigest) None
      else Some(s"kept (doc_id, label) digest $d != reference $refDigest (local union-find)"),
    ).flatten
    Outcome(problems, keptPairs.size, Map(
      "ml.cc.edges" -> edges,
      "sources.write_mb" -> files.map(_.length).sum / 1e6,
      "sources.write_files" -> files.length.toDouble))
  }

  override def spanNotes(spans: Seq[(Span, Acc)], out: Outcome): Map[String, Double] = Map(
    "sources.write_s" -> spans.filter(_._1.name == "sources.writeShardsTfrecord")
      .map(_._1.seconds).sum,
    "ml.cc.jobs" -> spans.filter(_._1.name == "ml.connectedComponents").map(_._2.jobs).sum.toDouble)

  override def kernelPasses(): Map[String, Double] = {
    def noop(c: org.apache.spark.sql.Column) =
      time(docs.select(c).write.format("noop").mode("overwrite").save())
    Map(
      "text.quality_s" -> noop(TextFunctions.qualityScore(col("text"))),
      "functions.minhash_s" -> noop(graft.functions.Kernels.minhashSig(
        TextFunctions.normalizeText(col("text")), 128, 5)))
  }
}

object DedupIngest {
  val Shards = 8

  /** Order-independent digest of a keep-set's (doc_id, label) pairs. */
  def keptDigest(kept: Seq[(Long, Long)]): Long =
    kept.map { case (d, l) => MurmurHash3.seqHash(Seq(d, l)) & 0x7fffffffL }.sum
  private val Ids = "\"doc_id\":(\\d+),\"label\":(\\d+)".r

  /** (doc_id, label) of every record of one TFRecord shard, parsed
    * here rather than through the library's reader. */
  def readKept(f: File): Seq[(Long, Long)] = {
    val bb = java.nio.ByteBuffer.wrap(java.nio.file.Files.readAllBytes(f.toPath))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val out = Seq.newBuilder[(Long, Long)]
    while (bb.remaining() > 0) {
      val len = bb.getLong.toInt
      bb.getInt
      val payload = new Array[Byte](len)
      bb.get(payload)
      bb.getInt
      Ids.findFirstMatchIn(new String(payload, "UTF-8")) match {
        case Some(m) => out += ((m.group(1).toLong, m.group(2).toLong))
        case None => throw new IllegalStateException(s"${f.getName}: record without ids")
      }
    }
    out.result()
  }

  /** The same pipeline with connected components on the driver-local
    * union-find tier (the default at this size). */
  def reference(spark: SparkSession, dir: File): Properties = {
    val docs = Workloads.parquet(spark, dir, "documents")
    val scored = docs.withColumn("quality", TextFunctions.qualityScore(col("text")))
    val pairs = Dedup.minhashPairs(scored, "doc_id", "text").select("id_a", "id_b")
      .persist()
    val edges = pairs.count()
    val labels = Dedup.connectedComponents(pairs)
    val kept = Dedup.keepBestPerCluster(scored, "doc_id", "quality", labels)
      .select("doc_id", "label").collect().map(r => (r.getLong(0), r.getLong(1)))
    spark.catalog.clearCache()
    val p = new Properties()
    p.setProperty("kept", kept.length.toString)
    p.setProperty("digest", keptDigest(kept.toSeq).toString)
    p.setProperty("edges", edges.toString)
    p
  }
}

/** Calibrated IVF-PQ top-k on a fresh seeded query batch per op: train,
  * sampled truth, the escalation loop and the final probe. */
final class AnnCalibrated(spark: SparkSession, in: Inputs, t: Tracer) extends Workload {
  import AnnCalibrated._
  private val corpus = Workloads.parquet(spark, in.dir, "embeddings")
  private val n = in.rows("embeddings")
  private val truth: Map[Long, Seq[Long]] = in.ref.stringPropertyNames().toArray
    .map(_.toString).filter(_.startsWith("q.")).map(k =>
      k.stripPrefix("q.").toLong -> in.ref(k).split(' ').toSeq.map(_.toLong)).toMap
  val inputRows: Long = n

  def op(i: Int): Outcome = {
    import spark.implicits._
    val batch = Gen.queryBatch(in.seed, n, i % Batches, QueriesPerBatch)
    val queries = batch.toDF("query_id", "embedding")
    val out = t.span("ml.ivfPqTopKCalibrated")(
      Pq.ivfPqTopKCalibrated(corpus, "vec_id", "embedding", queries, "query_id", "embedding",
        k = K, targetRecall = TargetRecall, m = 16, pqK = 64))
    val rows = t.span("ml.collect", action = true)(out.select(
      col("query_id"), col("nn_id"), col("cos_sim"), col("measured_recall"),
      col("calibrated_nprobe"), col("calibrated_rerank")).collect())

    val vecs = batch.toMap
    val byQuery = rows.groupBy(_.getLong(0))
    var hits = 0
    val problems = Seq.newBuilder[String]
    batch.foreach { case (q, _) =>
      val got = byQuery.getOrElse(q, Array.empty[Row])
      val ids = got.map(_.getLong(1))
      if (ids.length != K || ids.distinct.length != K)
        problems += s"query $q: ${ids.length} results (${ids.distinct.length} distinct), want $K"
      hits += ids.count(truth(q).toSet)
      got.foreach { r =>
        val exact = cosine(vecs(q), Gen.vector(in.seed)(r.getLong(1)))
        if (math.abs(exact - r.getDouble(2)) > 1e-4)
          problems += s"query $q: cos_sim ${r.getDouble(2)} for ${r.getLong(1)}, exact $exact"
      }
    }
    val recall = hits.toDouble / (batch.size * K)
    val measured = rows.headOption.map(_.getDouble(3)).getOrElse(0.0)
    if (recall < TargetRecall - RecallSlack)
      problems += f"recall@$K $recall%.3f against exact brute force < ${TargetRecall - RecallSlack}%.2f"
    if (measured < TargetRecall)
      problems += f"measured_recall $measured%.3f < target $TargetRecall (caps reached)"
    Outcome(problems.result(), rows.length, Map(
      "ml.ann.nprobe" -> rows.headOption.map(_.getInt(4).toDouble).getOrElse(0.0),
      "ml.ann.rerank" -> rows.headOption.map(_.getInt(5).toDouble).getOrElse(0.0),
      "ml.ann.sampled_recall" -> measured,
      "ml.ann.recall" -> recall))
  }

  override def ownMetrics: Seq[(String, String)] = Seq(
    "ml.ann.nprobe" -> "count", "ml.ann.rerank" -> "count",
    "ml.ann.sampled_recall" -> "ratio", "ml.ann.recall" -> "ratio",
    "ml.ann.scored_per_result" -> "ratio", "ml.ann.steps_jobs" -> "count")

  override def spanNotes(spans: Seq[(Span, Acc)], out: Outcome): Map[String, Double] = {
    val cal = spans.filter(_._1.name == "ml.ivfPqTopKCalibrated").map(_._2)
    Map(
      "ml.ann.scored_per_result" -> cal.map(_.scoredRows).sum.toDouble / math.max(1L, out.outputRows),
      "ml.ann.steps_jobs" -> cal.map(_.jobs).sum.toDouble)
  }
}

object AnnCalibrated {
  val K = 10
  val TargetRecall = 0.9
  /** Exact recall on a 64-query batch may sit below the operator's
    * 20-query sampled recall by sampling error alone. */
  val RecallSlack = 0.1
  val QueriesPerBatch = 64
  val Batches = 8

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** Exact top-k of every query of every batch, by brute force on the
    * driver from the generator's own vectors (no Spark involved). */
  def reference(seed: Long, n: Long): Properties = {
    val corpus = (0L until n).map(Gen.vector(seed)).toArray
    val p = new Properties()
    (0 until Batches).foreach { b =>
      Gen.queryBatch(seed, n, b, QueriesPerBatch).foreach { case (q, v) =>
        val top = corpus.indices.map(j => (cosine(v, corpus(j)), j.toLong))
          .sortBy { case (c, j) => (-c, j) }.take(K).map(_._2)
        p.setProperty(s"q.$q", top.mkString(" "))
      }
    }
    p
  }
}
