package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.profile.Profiler
import graft.render.TableRenderer

/** t1 smoke: the full exact-mode profile of the sf0.001 catalog must match
  * the checked-in golden text byte-for-byte (SURVEY §5.2 "golden
  * end-to-end"). Regenerate deliberately if semantics change:
  * render → src/test/resources/golden_sf0.001_exact.txt.
  */
class GoldenRenderSpec extends AnyFunSuite {

  private def golden(name: String): String = new String(
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getClassLoader.getResource(name).toURI)),
    java.nio.charset.StandardCharsets.UTF_8)

  test("full sf0.001 exact profile matches golden output") {
    val spark = SparkSuite.spark
    val rendered = TableRenderer.render(
      Profiler.profileRoot(spark, SparkSuite.Sf0001, exact = true), TableRenderer.Exact)
    assert(rendered == golden("golden_sf0.001_exact.txt"))
  }

  test("full sf0.001 estimated profile matches golden output (~ prefixes, footer counts)") {
    val spark = SparkSuite.spark
    val rendered = TableRenderer.render(
      Profiler.profileRoot(spark, SparkSuite.Sf0001, exact = false), TableRenderer.Estimated)
    assert(rendered == golden("golden_sf0.001_estimated.txt"))
  }

  test("full sf0.001 footer-mode profile matches the estimated golden output") {
    val spark = SparkSuite.spark
    val rendered = TableRenderer.render(
      Profiler.profileRootFooter(spark, SparkSuite.Sf0001), TableRenderer.Estimated)
    assert(rendered == golden("golden_sf0.001_estimated.txt"))
  }

  test("JSON rendering is valid and carries the same profile facts") {
    val spark = SparkSuite.spark
    val profiles = Profiler.profileRoot(spark, SparkSuite.Sf0001, exact = true)
    val json = TableRenderer.renderJson(profiles)
    val lines = json.trim.split("\n")
    assert(lines.length == 10)
    assert(lines.forall(l => l.startsWith("{") && l.endsWith("}")))
    assert(lines.exists(_.contains(""""table":"orders"""")))
    assert(lines.exists(_.contains(""""exact_rows":6000""")))
  }
}
