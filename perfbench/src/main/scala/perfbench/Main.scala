package perfbench

import java.io.{File, FileInputStream, FileOutputStream}
import java.lang.management.ManagementFactory
import java.util.Properties

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.Access

import graft.GraftSession

/** One seed's generated inputs and correctness reference, cached on
  * disk per (workload, seed, scale). */
final case class Inputs(dir: File, seed: Long, rows: Map[String, Long],
                        tables: Seq[Gen.Table], ref: Properties) {
  def ref(key: String): String =
    Option(ref.getProperty(key)).getOrElse(sys.error(s"reference has no $key"))
}

object Inputs {
  private def load(f: File): Properties = {
    val p = new Properties()
    val in = new FileInputStream(f)
    try p.load(in) finally in.close()
    p
  }

  private def store(p: Properties, f: File): Unit = {
    val tmp = new File(f.getPath + ".tmp")
    val out = new FileOutputStream(tmp)
    try p.store(out, null) finally out.close()
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Loads the cached inputs after checking their digests, or generates
    * them; then computes the reference in `spark`. The reference is not
    * cached, so a run does the same work whether or not its inputs were
    * (neither counts as set-up). */
  def ensure(spark: SparkSession, workload: String, seed: Long, scale: Double,
             work: File): Inputs = {
    val dir = new File(work, s"inputs/$workload-s$seed-x$scale")
    val manifest = new File(dir, "manifest.properties")
    val names = Gen.sizes(workload, scale).keys.toSeq.sorted
    def cached: Option[Seq[Gen.Table]] =
      if (!manifest.exists()) None
      else {
        val m = load(manifest)
        val tables = names.map { n =>
          Gen.Table(n, m.getProperty(s"$n.rows").toLong, m.getProperty(s"$n.bytes").toLong,
            m.getProperty(s"$n.files").toInt, m.getProperty(s"$n.digest").toLong)
        }
        val intact = tables.forall(t => Gen.digest(Workloads.parquet(spark, dir, t.name)) == t.digest)
        if (intact) Some(tables) else None
      }
    val t0 = System.nanoTime()
    val reused = cached
    val tables = reused.getOrElse {
      dir.mkdirs()
      val ts = Gen.write(spark, workload, seed, scale, dir)
      val m = new Properties()
      ts.foreach { t =>
        m.setProperty(s"${t.name}.rows", t.rows.toString)
        m.setProperty(s"${t.name}.bytes", t.bytes.toString)
        m.setProperty(s"${t.name}.files", t.files.toString)
        m.setProperty(s"${t.name}.digest", t.digest.toString)
      }
      store(m, manifest)
      ts
    }
    val rows = tables.map(t => t.name -> t.rows).toMap
    val t1 = System.nanoTime()
    val ref = Workloads.reference(workload, spark, dir, seed, rows)
    System.err.println(f"[perfbench] inputs ${if (reused.isDefined) "verified" else "generated"} " +
      f"in ${(t1 - t0) / 1e9}%.1f s, reference in ${(System.nanoTime() - t1) / 1e9}%.1f s")
    Inputs(dir, seed, rows, tables, ref)
  }
}

/** One timed op. */
final case class OpStat(index: Int, wall: Double, cpu: Double, jit: Double, codegen: Long,
                        persistPeak: Long, outcome: Outcome, traced: Boolean) {
  /** Process CPU net of the JIT compiler's, which falls op by op as the
    * JVM warms and is not the library's work. */
  def workCpu: Double = math.max(0.0, cpu - jit)
}

/** The benchmark: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  *
  * A closed loop with one client: op i+1 starts only after op i's
  * output was checked. Set-up (session, input registration, the
  * workload's warm-up ops) runs `--setups` times and reports its
  * median. With `--trace 0` the timed phase is untraced and the
  * end-to-end metrics are printed; with `--trace 1` the first half of
  * the time is untraced and the second half traced, and the per-layer
  * metrics are printed (the tracing overhead is the difference of the
  * halves).
  * The last stdout line is one JSON object; a full report goes to
  * `<work>/results/`. */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def processCpu: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Seconds the JIT compiler threads have spent compiling. */
  private def jitTime: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Classes Spark's code generator has compiled (cache misses). */
  private def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: File, scale: Double, setups: Int)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    val a = Args(kv("workload"), kv.getOrElse("seed", "1").toLong,
      kv.getOrElse("seconds", "10").toDouble, kv.getOrElse("trace", "0") == "1",
      new File(kv.getOrElse("work", ".bench_build")).getAbsoluteFile,
      kv.getOrElse("scale", "1.0").toDouble, kv.getOrElse("setups", "3").toInt)
    require(Workloads.Names.contains(a.workload),
      s"unknown workload ${a.workload}; one of ${Workloads.Names.mkString(", ")}")
    a
  }

  def main(args: Array[String]): Unit = {
    val result = run(parse(args))
    println(json.writeValueAsString(result))
    System.out.flush()
    // a stopped SparkContext can leave non-daemon threads behind
    sys.exit(0)
  }

  /** Runs one benchmark invocation and returns the stdout result object. */
  def run(a: Args): Map[String, Any] = {
    // half the cores run tasks; the driver thread (which plans every
    // query), the JIT compiler and GC keep the rest
    val slots = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()) / 2)
    val master = s"local[$slots]"
    // two shuffle partitions per core, as a user sizes a local session
    val partitions = 2 * slots
    val runDir = new File(a.work, s"run/${a.workload}-s${a.seed}")
    runDir.mkdirs()

    // inputs and reference: a session of their own, untimed; it also
    // warms the JVM the same way whether or not the inputs were cached
    val prepStart = System.nanoTime()
    val prep = GraftSession.builder(master, partitions).getOrCreate()
    GraftSession.setLogLevel(prep, "WARN")
    val inputs = Inputs.ensure(prep, a.workload, a.seed, a.scale, a.work)
    prep.stop()
    System.err.println(f"[perfbench] inputs and reference: ${(System.nanoTime() - prepStart) / 1e9}%.1f s " +
      f"(JVM up ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s)")
    inputs.tables.foreach(t => System.err.println(
      f"[perfbench] input ${t.name}: ${t.rows} rows, ${t.bytes / 1e6}%.2f MB in ${t.files} files"))

    val setupTimes, sessionTimes = mutable.ArrayBuffer.empty[Double]
    val warmProblems = mutable.ArrayBuffer.empty[String]
    var spark: SparkSession = null
    var tally: BlockTally = null
    var tracer: Tracer = null
    var w: Workload = null
    var next = 0
    (0 until a.setups).foreach { s =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.builder(master, partitions).getOrCreate()
      sessionTimes += (System.nanoTime() - t0) / 1e9
      GraftSession.setLogLevel(spark, "WARN")
      tally = new BlockTally
      spark.sparkContext.addSparkListener(tally)
      tracer = new Tracer(spark.sparkContext, tally, slots)
      w = Workloads.open(a.workload, spark, inputs, tracer, runDir)
      (0 until Workloads.warmups(a.workload)).foreach { _ =>
        val warm = runOp(spark, w, tally, tracer, next, traced = false)
        next += 1
        warmProblems ++= warm.outcome.problems.map(p => s"warm-up op ${warm.index}: $p")
      }
      setupTimes += (System.nanoTime() - t0) / 1e9
    }

    // closed loop over `seconds`: the next op starts only if, taking as
    // long as the last one, it would end within the phase (the first op
    // always runs)
    def phase(seconds: Double, traced: Boolean): Seq[OpStat] = {
      val ops = mutable.ArrayBuffer.empty[OpStat]
      val t0 = System.nanoTime()
      while (ops.isEmpty || (System.nanoTime() - t0) / 1e9 + ops.last.wall <= seconds) {
        ops += runOp(spark, w, tally, tracer, next, traced)
        next += 1
      }
      ops.toSeq
    }

    val (plain, traced) =
      if (!a.trace) (phase(a.seconds, traced = false), Seq.empty[OpStat])
      else {
        val p = phase(a.seconds / 2, traced = false)
        tracer.enable()
        (p, phase(a.seconds / 2, traced = true))
      }
    spark.stop()
    deleteRecursively(runDir)

    val all = plain ++ traced
    val failed = all.count(_.outcome.problems.nonEmpty)
    (warmProblems ++ all.flatMap(o => o.outcome.problems.map(p => s"op ${o.index}: $p")))
      .foreach(p => System.err.println(s"[perfbench] CHECK FAILED $p"))

    def asJson(ms: Seq[(String, Double, String)]) =
      ms.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap
    val e2e = asJson(endToEnd(plain, inputs, setupTimes.toSeq))
    val layers =
      if (!a.trace) Map.empty
      else asJson(perLayer(traced, tracer, slots, median(sessionTimes.toSeq),
        median(plain.map(_.wall)), w.ownMetrics))
    val report = Map(
      "workload" -> a.workload, "seed" -> a.seed, "scale" -> a.scale, "master" -> master,
      "inputs" -> inputs.tables.map(t => Map("table" -> t.name, "rows" -> t.rows,
        "bytes" -> t.bytes, "files" -> t.files, "digest" -> t.digest)),
      "setup_s" -> setupTimes, "session_start_s" -> sessionTimes,
      "ops" -> all.map(o => Map("op" -> o.index, "wall_s" -> o.wall, "cpu_s" -> o.cpu,
        "jit_s" -> o.jit, "codegen_compiles" -> o.codegen,
        "persist_peak_bytes" -> o.persistPeak, "traced" -> o.traced,
        "problems" -> o.outcome.problems)),
      "end_to_end" -> e2e, "per_layer" -> layers,
      "spans" -> (if (a.trace) spanReport(traced, tracer) else Nil))
    val results = new File(a.work, "results")
    results.mkdirs()
    json.writerWithDefaultPrettyPrinter().writeValue(
      new File(results, s"${a.workload}-s${a.seed}-${if (a.trace) "trace" else "e2e"}.json"),
      report)

    Map("correct" -> (failed == 0 && warmProblems.isEmpty),
      "attempted" -> all.size, "failed" -> failed,
      "metrics" -> (if (a.trace) layers else e2e))
  }

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** One op: the pipeline call and its output check are timed; the
    * listener drain and cache release after it are not. The library
    * leaves some persists registered (keep-best members, MinHash
    * signatures); releasing them keeps op i+1 from reading op i's
    * cache, so every op pays the full pipeline. */
  private def runOp(spark: SparkSession, w: Workload, tally: BlockTally, tracer: Tracer,
                    i: Int, traced: Boolean): OpStat = {
    val sc = spark.sparkContext
    Access.drainListeners(sc)
    tally.beginOp()
    tracer.beginOp(i)
    val cpu0 = processCpu
    val jit0 = jitTime
    val cg0 = codegenCompiles
    val t0 = System.nanoTime()
    val outcome =
      try w.op(i)
      catch {
        case e: Exception =>
          e.printStackTrace()
          Outcome(Seq(s"threw ${e.getClass.getName}: ${e.getMessage}"), 0L)
      }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = processCpu - cpu0
    val jit = jitTime - jit0
    val codegen = codegenCompiles - cg0
    Access.drainListeners(sc)
    val peak = tally.opPeak
    spark.catalog.clearCache()
    val notes =
      if (traced) w.spanNotes(tracer.opSpans(i), outcome) ++ w.kernelPasses()
      else Map.empty[String, Double]
    System.err.println(f"[perfbench] op $i: $wall%.3f s, cpu $cpu%.3f s, jit $jit%.3f s, " +
      f"persist peak ${peak / 1e6}%.2f MB, ${outcome.outputRows} rows" +
      (if (outcome.problems.isEmpty) "" else s", FAILED ${outcome.problems.size} checks"))
    OpStat(i, wall, cpu, jit, codegen, peak, outcome.copy(notes = outcome.notes ++ notes), traced)
  }

  private def endToEnd(ops: Seq[OpStat], in: Inputs,
                       setups: Seq[Double]): Seq[(String, Double, String)] = Seq(
    ("setup_s", median(setups), "s"),
    ("rows_per_s", in.rows.values.sum * ops.size / ops.map(_.wall).sum, "rows/s"),
    ("op_s_p50", median(ops.map(_.wall)), "s"),
    ("cpu_s_per_op", median(ops.map(_.workCpu)), "s"),
    ("persist_peak_mb", median(ops.map(_.persistPeak / 1e6)), "MB"))

  /** Layers whose self time the traced run reports. */
  private val Layers = Seq("core", "sources", "exchange", "text", "functions", "ml")

  /** Per-layer metrics of the traced ops, each a mean per op. */
  private def perLayer(ops: Seq[OpStat], tracer: Tracer, slots: Int, sessionStart: Double,
                       untracedP50: Double,
                       own: Seq[(String, String)]): Seq[(String, Double, String)] = {
    def mean(f: OpStat => Double): Double = ops.map(f).sum / math.max(1, ops.size)
    val spans = ops.map(o => o.index -> tracer.opSpans(o.index)).toMap
    def sum(o: OpStat, keep: Span => Boolean)(f: Acc => Double): Double =
      spans(o.index).filter(x => keep(x._1)).map(x => f(x._2)).sum
    def all(o: OpStat)(f: Acc => Double): Double = sum(o, _ => true)(f)
    def in(layer: String, action: Option[Boolean] = None)(s: Span) =
      s.layer == layer && action.forall(_ == s.action)
    def dur(o: OpStat, keep: Span => Boolean): Double =
      spans(o.index).filter(x => keep(x._1)).map(_._1.seconds).sum
    val notes = ops.map(_.outcome.notes)
    val layerSelf = ops.map(o => tracer.layerSelf(o.index, o.wall))
    // reported for every workload (zero where the layer sits idle), so
    // a layer that should stay flat elsewhere is seen to
    val noteKeys = Seq(
      "sources.write_s" -> "s", "sources.write_mb" -> "MB", "sources.write_files" -> "count",
      "text.quality_s" -> "s", "functions.minhash_s" -> "s",
      "ml.cc.edges" -> "count", "ml.cc.jobs" -> "count") ++ own
    val scanRows = mean(o => all(o)(_.scanRows.toDouble))
    Seq(
      ("session.start_s", sessionStart, "s"),
      ("sources.scan_rows", scanRows, "rows"),
      ("sources.scan_mb", mean(o => all(o)(_.scanBytes / 1e6)), "MB"),
      ("sources.scan_files", mean(o => all(o)(_.scanFiles.toDouble)), "count"),
      ("sources.scan_s", mean(o => all(o)(_.scanMs / 1e3)), "s"),
      ("sources.scan_rows_per_output_row",
        scanRows / math.max(1.0, mean(_.outcome.outputRows.toDouble)), "ratio"),
      ("core.call_s", mean(o => dur(o, in("core", Some(false)))), "s"),
      ("core.jobs", mean(o => sum(o, in("core", Some(false)))(_.jobs.toDouble)), "count"),
      ("core.action_s", mean(o => dur(o, in("core", Some(true)))), "s"),
      ("ml.call_s", mean(o => dur(o, in("ml"))), "s"),
      ("ml.jobs", mean(o => sum(o, in("ml"))(_.jobs.toDouble)), "count"),
      ("ml.stages", mean(o => sum(o, in("ml"))(_.stages.toDouble)), "count"),
      ("ml.persist_peak_mb", mean(o => spans(o.index).filter(x => in("ml")(x._1))
        .map(_._2.persistPeak / 1e6).maxOption.getOrElse(0.0)), "MB"),
      ("exchange.shuffle_write_mb", mean(o => all(o)(_.shWriteBytes / 1e6)), "MB"),
      ("exchange.shuffle_read_mb", mean(o => all(o)(_.shReadBytes / 1e6)), "MB"),
      ("exchange.fetch_wait_s", mean(o => all(o)(_.fetchWaitMs / 1e3)), "s"),
      ("exchange.broadcast_mb", mean(o => all(o)(_.broadcastBytes / 1e6)), "MB"),
      ("sched.jobs", mean(o => all(o)(_.jobs.toDouble)), "count"),
      ("sched.stages", mean(o => all(o)(_.stages.toDouble)), "count"),
      ("sched.tasks", mean(o => all(o)(_.tasks.toDouble)), "count"),
      ("sched.task_failures", mean(o => all(o)(_.failures.toDouble)), "count"),
      ("sched.driver_gap_s", mean(o => o.wall - all(o)(_.runMs / 1e3) / slots), "s"),
      ("exec.task_cpu_s", mean(o => all(o)(_.cpuNs / 1e9)), "s"),
      ("exec.task_run_s", mean(o => all(o)(_.runMs / 1e3)), "s"),
      ("exec.gc_s", mean(o => all(o)(_.gcMs / 1e3)), "s"),
      ("exec.spill_mb", mean(o => all(o)(_.spillBytes / 1e6)), "MB"),
      ("exec.codegen_compiles", mean(_.codegen.toDouble), "count"),
      ("jvm.jit_s", mean(_.jit), "s"),
    ) ++ noteKeys.map { case (k, u) =>
      (k, notes.map(_.getOrElse(k, 0.0)).sum / math.max(1, notes.size), u)
    } ++ Layers.map(l => (s"$l.self_s", layerSelf.map(_.getOrElse(l, 0.0)).sum /
      math.max(1, ops.size), "s")) ++ Seq(
      ("trace.unattributed_s",
        layerSelf.map(_.getOrElse("unattributed", 0.0)).sum / math.max(1, ops.size), "s"),
      ("trace.overhead_ratio",
        if (untracedP50 > 0) median(ops.map(_.wall)) / untracedP50 - 1 else 0.0, "ratio"))
  }

  /** Every traced span with its counters, for the results file. */
  private def spanReport(ops: Seq[OpStat], tracer: Tracer): Seq[Map[String, Any]] =
    ops.flatMap { o =>
      val ss = tracer.opSpans(o.index)
      val t0 = ss.map(_._1.start).minOption.getOrElse(0L)
      ss.map { case (s, a) =>
        Map("op" -> o.index, "span" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "action" -> s.action, "start_s" -> (s.start - t0) / 1e9, "dur_s" -> s.seconds,
          "jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
          "task_run_s" -> a.runMs / 1e3, "task_cpu_s" -> a.cpuNs / 1e9,
          "shuffle_write_mb" -> a.shWriteBytes / 1e6, "shuffle_read_mb" -> a.shReadBytes / 1e6,
          "scan_rows" -> a.scanRows, "scan_mb" -> a.scanBytes / 1e6, "scan_s" -> a.scanMs / 1e3,
          "broadcast_mb" -> a.broadcastBytes / 1e6, "broadcast_build_s" -> a.broadcastMs / 1e3,
          "persist_peak_mb" -> a.persistPeak / 1e6)
      }
    } ++ ops.map(o => Map("op" -> o.index, "wall_s" -> o.wall,
      "layer_self_s" -> tracer.layerSelf(o.index, o.wall)))
}
