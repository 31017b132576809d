package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the contended-clobber guard on Bench's record write path
  * (round-11 verdict #2): the bench's output path doubles as its
  * >3×-rerun reference path and the drift report's baseline, so a
  * `contended:true` sweep must never overwrite a `contended:false`
  * record at the same path — the round-11 driver sweep (steal 5.75
  * cores) did exactly that to the committed idle BENCH_LOCAL.json.
  */
class BenchGuardSpec extends AnyFunSuite {

  private def tmp(name: String, body: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_benchguard")
    val p = dir.resolve(name)
    java.nio.file.Files.write(p, body.getBytes("UTF-8"))
    p.toString
  }

  private def idleRecord =
    """{"metric":"total","value":341.2,"load":{"steal_cores_max":0.1,"contended":false}}"""
  private def contendedRecord =
    """{"metric":"total","value":346.2,"load":{"steal_cores_max":5.752,"contended":true}}"""

  test("a contended run diverts away from an idle record at the same path") {
    val asked = tmp("BENCH_LOCAL.json", idleRecord)
    val target = Bench.recordTarget(asked, contended = true)
    assert(target != asked, "contended record must not clobber the idle reference")
    assert(target == asked.stripSuffix(".json") + "_contended.json")
    // The idle record is untouched by the decision itself.
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(asked)), "UTF-8") == idleRecord)
  }

  test("an idle run overwrites anything in place (recovery direction)") {
    val overIdle = tmp("BENCH_LOCAL.json", idleRecord)
    assert(Bench.recordTarget(overIdle, contended = false) == overIdle)
    val overContended = tmp("BENCH_LOCAL.json", contendedRecord)
    assert(Bench.recordTarget(overContended, contended = false) == overContended)
  }

  test("a contended run may replace an already-contended or absent record") {
    val overContended = tmp("BENCH_LOCAL.json", contendedRecord)
    assert(Bench.recordTarget(overContended, contended = true) == overContended)
    val absent = java.nio.file.Files.createTempDirectory("graft_benchguard")
      .resolve("BENCH_LOCAL.json").toString
    assert(Bench.recordTarget(absent, contended = true) == absent)
  }

  test("non-.json paths divert with the suffix appended, not mangled") {
    val asked = tmp("bench_out", idleRecord)
    assert(Bench.recordTarget(asked, contended = true) == asked + "_contended.json")
  }

  test("scale/banding records ride the same guard (round-12 verdict #4)") {
    // ScaleBench (and BandingSweep, last in commit a7d2fb6) write
    // through Bench.recordTarget too:
    // SCALE_ZIPF_*.json are the cross-round slope references and
    // BANDING.json the (b,r) operating table — a steal-burst run must
    // divert, not replace, a committed idle record at those names.
    val idleScale =
      """{"factor":100,"corpus":"zipf","load":{"steal_cores_max":0.2,"contended":false}}"""
    val scale = tmp("SCALE_ZIPF_100x_winnowcap.json", idleScale)
    assert(Bench.recordTarget(scale, contended = true) ==
      scale.stripSuffix(".json") + "_contended.json")
    assert(Bench.recordTarget(scale, contended = false) == scale)
    val banding = tmp("BANDING.json",
      """{"docs":50520,"load":{"contended":false},"configs":{}}""")
    assert(Bench.recordTarget(banding, contended = true) ==
      banding.stripSuffix(".json") + "_contended.json")
  }

  test("the compact final line escapes names and the sf path into valid JSON") {
    val sfDir = "/data/sf\"0.1\\odd\tdir"
    val line = Bench.compactLine(3.5, 2.5, 2,
      Seq("rel_a\"b" -> ((1.5, 1.0)), "_warm_x\ty" -> ((2.0, 1.5))),
      """{"contended":false}""", sfDir)
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(tree.get("sf").asText == sfDir)
    assert(tree.get("n").asInt == 2)
    assert(tree.get("queries").get("rel_a\"b").asDouble == 1.5)
    assert(tree.get("families").get("_warm").asDouble == 2.0)
  }

  test("the scale record escapes the base dir, query and probe names into valid JSON") {
    val base = "/data/sf\"0.1\\odd\tdir"
    val json = ScaleBench.record(base, 500, 10, "zipf", 5000, 2, "lz4", 8192,
      """{"contended":false}""",
      Seq("llm_dedup_winnow_cap\"12" -> """{"base_s":1.000,"scaled_s":9.000}"""),
      Seq("base/llm_dedup_winnow_cap\"12" -> Seq("""{"foreign":0.000}""")))
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(tree.get("base").asText == base)
    assert(tree.get("queries").get("llm_dedup_winnow_cap\"12").get("scaled_s").asDouble == 9.0)
    assert(tree.get("probes").get("base/llm_dedup_winnow_cap\"12").size == 1)
    assert(!tree.get("load").get("contended").asBoolean)
  }
}
