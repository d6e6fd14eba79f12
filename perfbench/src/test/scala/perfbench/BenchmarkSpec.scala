package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's contract with BENCHMARK.json, and a toy-size smoke run
  * of every workload, untraced and traced. */
class BenchmarkSpec extends AnyFunSuite {

  private val spec: JsonNode = new ObjectMapper().readTree(
    Paths.get("..", "BENCHMARK.json").toFile)

  private def names(key: String): Seq[String] =
    spec.get(key).elements().asScala.map(_.get("name").asText).toSeq

  private def run(workload: String, trace: Boolean): Result = {
    val dir: Path = Files.createTempDirectory(s"perfbench-$workload")
    try Main.run(Opts(workload, seed = 7, seconds = 1, trace = trace,
      dir = dir.toString, toy = true))
    finally {
      SparkSession.getActiveSession.foreach(_.stop())
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("BENCHMARK.json lists the workloads and per-layer metrics the code has") {
    assert(names("workloads") == Workload.Names)
    assert(names("per_layer") == Layers.Names.map(_._1))
    val units = spec.get("per_layer").elements().asScala
      .map(n => n.get("name").asText -> n.get("unit").asText).toMap
    Layers.Names.foreach { case (n, u) => assert(units(n) == u, n) }
  }

  Workload.Names.foreach { w =>
    test(s"$w toy run: oracle-exact, prints every end-to-end metric") {
      val r = run(w, trace = false)
      assert(r.correct && r.failed == 0 && r.attempted > 0)
      assert(r.metrics.map(_._1).sorted == names("end_to_end").sorted)
      r.metrics.foreach { case (n, v, _) => assert(v > 0, s"$n = $v") }
    }

    test(s"$w toy traced run: oracle-exact, prints every per-layer metric") {
      val r = run(w, trace = true)
      assert(r.correct && r.failed == 0)
      assert(r.metrics.map(_._1) == names("per_layer"))
      r.metrics.foreach { case (n, v, _) => assert(!v.isNaN, n) }
      assert(r.metrics.find(_._1 == "trace.spans").exists(_._2 > 0))
    }
  }
}
