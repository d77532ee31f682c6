package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("an op that throws counts as attempted and failed, and is no latency sample") {
    val s = new Samples
    s.run("op", "fast")(())
    s.run("op", "broken")(sys.error("boom"))
    s.run("op", "slow")(Thread.sleep(20))
    s.run("delta", "other")(())
    assert(s.attempted == 4)
    assert(s.failed == 1)
    val ok = s.latencies("op")
    assert(ok.size == 2)
    assert(!s.outcomes.exists(o => o.name == "broken" && o.ok))
    val broken = s.outcomes.find(_.name == "broken").get.seconds
    assert(math.abs(Stats.median(ok) - ok.sum / 2) < 1e-12)
    assert(!ok.contains(broken))
  }

  test("a failed output check inside an op is a failure, not a fast sample") {
    val s = new Samples
    val o = s.run("op", "mismatch")(require(1 == 2, "digest differs"))
    assert(!o.ok && s.failed == 1 && s.latencies("op").isEmpty)
  }

  test("quantiles interpolate linearly between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(math.abs(Stats.quantile(xs, 0.9) - 3.7) < 1e-12)
    assert(Stats.quantile(Seq(7.0), 0.9) == 7.0)
  }

  test("every per-layer name is well formed and declared in BENCHMARK.json") {
    val spec = new ObjectMapper().readTree(Files.readString(Paths.get("../BENCHMARK.json")))
    def names(key: String): Seq[String] = spec.get(key).elements().asScala.map(_.get("name").asText()).toSeq
    val declared = names("per_layer")
    assert(PerLayer.Names.distinct.size == PerLayer.Names.size)
    PerLayer.Names.foreach(n => assert(n.matches("[A-Za-z0-9_.-]+") && n.length <= 64, n))
    assert(PerLayer.Names.toSet == declared.toSet)
    assert(names("end_to_end").toSet ==
      Set("setup_s", "cold_s", "op_p50_s", "ops_per_s", "peak_heap_mb"))
  }
}
