package perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Every workload at a tiny seeded size, in one JVM: each declared metric
  * is printed with its unit, no op fails its check, and the generator is
  * a function of the seed. Run with `cd perfbench && sbt test`. */
class SelfTestSpec extends AnyFunSuite {
  private val work = Files.createTempDirectory("perfbench-selftest").toFile
  private val declared: JsonNode = new ObjectMapper().readTree(new File("../BENCHMARK.json"))
  private def metrics(key: String): Map[String, String] =
    declared.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toMap
  private val benchmarked = declared.get("workloads").elements().asScala.map(_.get("name").asText).toSet
  private val Tiny = 0.01

  private def run(workload: String, trace: Boolean): Map[String, Any] =
    Main.run(Main.Args(workload, seed = 7, seconds = 0.1, trace = trace, work = work,
      scale = Tiny, setups = 1))

  private def printed(r: Map[String, Any]): Map[String, String] =
    r("metrics").asInstanceOf[Map[String, Map[String, Any]]].map { case (n, m) =>
      assert(m("value").isInstanceOf[Double], s"$n has no numeric value")
      n -> m("unit").toString
    }

  for (w <- Workloads.Names; trace <- Seq(false, true)) {
    test(s"$w with --trace ${if (trace) 1 else 0}: declared metrics, no failed op") {
      val r = run(w, trace)
      assert(r("failed") == 0 && r("correct") == true, s"$w: ${r("failed")} failed ops")
      assert(r("attempted").asInstanceOf[Int] >= 1)
      val out = printed(r)
      val want = metrics(if (trace) "per_layer" else "end_to_end")
      // a workload outside BENCHMARK.json adds its own per-layer metrics
      if (benchmarked(w) || !trace) assert(out == want)
      else assert(want.toSet.subsetOf(out.toSet) && out.keySet.exists(_.startsWith("ml.ann.")),
        s"$w is missing ${want.keySet -- out.keySet}")
    }
  }

  test("inputs are a function of the seed") {
    val spark: SparkSession = GraftSession.builder("local[2]", 4).getOrCreate()
    try {
      def digests(w: String, seed: Long, dir: String) =
        Gen.write(spark, w, seed, Tiny, new File(work, dir)).map(t => t.name -> t.digest).toMap
      for (w <- Workloads.Names) {
        val a = digests(w, 11, s"$w-a")
        assert(a == digests(w, 11, s"$w-b"), s"$w: same seed, different inputs")
        val c = digests(w, 12, s"$w-c")
        assert(a.keySet == c.keySet && a.forall { case (t, d) => c(t) != d },
          s"$w: a different seed left a table unchanged")
      }
    } finally spark.stop()
  }
}
