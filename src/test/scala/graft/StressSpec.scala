package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.core.Columnar
import graft.ml.InfoThSelector

class StressSpec extends SparkSpec {

  private lazy val skill: List[String] = {
    val src = scala.io.Source.fromFile(".claude/skills/verify/SKILL.md", "UTF-8")
    try src.getLines().toList finally src.close()
  }

  private def section(title: String): List[String] = {
    val body = skill.dropWhile(_ != title).drop(1).takeWhile(!_.startsWith("## "))
    assert(body.nonEmpty, s"no '$title' section in the verify skill")
    body
  }

  test("the mode table is the set of modes the verify skill documents and sweeps") {
    assert(Stress.modes.size == 37)
    // the documented runs; a line without a mode runs the default
    val cmd = """runMain graft\.Stress\s*([a-z]*)""".r
    val documented = section("## Build + drive")
      .flatMap(l => cmd.findAllMatchIn(l).map(_.group(1)))
      .map(m => if (m.isEmpty) "selector" else m)
    assert(documented.toSet == Stress.modes.keySet)
    // the gate's sweep: one `<mode> <size...>` line per mode
    val swept = section("## Stress gate").dropWhile(!_.endsWith("<<'MODES'"))
      .drop(1).takeWhile(_ != "MODES").map(_.split(" ").head)
    assert(swept.sorted == Stress.modes.keys.toSeq.sorted)
  }

  test("selector through the mode table: one JSON line in the documented " +
      "key order, the library's selection, a peak task memory, and the " +
      "caller's session left running") {
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(out)(Stress.run(spark, Seq("selector", "2000", "3"), 4))
    val lines = out.toString("UTF-8").split("\n").filter(_.startsWith("{"))
    assert(lines.length == 1, lines.mkString("\n"))
    val json = new ObjectMapper().readTree(lines.head)
    assert(json.fieldNames().asScala.toSeq == Seq("metric", "rows", "features",
      "k", "transpose_stats_sec", "greedy_mrmr_sec", "per_round_sec",
      "driver_rows_per_round", "peak_task_memory_bytes", "selected"))
    assert(json.get("metric").asText == "stress")
    assert(json.get("rows").asLong == 2000L && json.get("features").asInt == 32 &&
      json.get("k").asInt == 3 && json.get("driver_rows_per_round").asInt == 32)
    val colData = Columnar.fromIntColumns(Stress.selectorFrame(spark, 2000, 32, 4),
      (0 until 32).map(j => s"f$j"), "label")
    val want = try InfoThSelector.select(colData, "mrmr", 3, 0.0).map(_._1)
      finally colData.unpersist()
    assert(json.get("selected").elements().asScala.map(_.asInt).toSeq == want.toSeq)
    assert(json.get("peak_task_memory_bytes").asLong > 0L)
    assert(spark.range(10).count() == 10L)
  }

  test("sketch through the mode table: one JSON line in the documented " +
      "key order, every drift 0") {
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(out)(Stress.run(spark, Seq("sketch", "2000"), 4))
    val lines = out.toString("UTF-8").split("\n").filter(_.startsWith("{"))
    assert(lines.length == 1, lines.mkString("\n"))
    val json = new ObjectMapper().readTree(lines.head)
    val keys = json.fieldNames().asScala.toSeq
    assert(keys == Seq("metric", "docs", "hll_sec", "hll_groups",
      "hll_many_groups", "hll_many_register_sec", "hll_many_sec",
      "hll_register_drift", "kmv_sec", "kmv_rows", "kmv_merge_drift",
      "cm_sec", "cm_build_sec", "cm_probe_sec", "cm_cells",
      "cm_heavy_confirmed", "merge_check_sec", "register_drift",
      "quantile_sec", "quantile_buckets", "quantile_rows",
      "quantile_merge_sec", "quantile_drift", "mg_heavy_sec",
      "mg_exact_sec", "mg_heavy_rows"))
    assert(json.get("metric").asText == "stress_sketch" &&
      json.get("docs").asLong == 2000L && json.get("hll_groups").asLong == 8L &&
      json.get("kmv_rows").asLong == 8L * 64)
    val drifts = keys.filter(_.endsWith("_drift"))
    assert(drifts.size == 4)
    drifts.foreach(d => assert(json.get(d).asLong == 0L, d))
    assert(spark.range(10).count() == 10L)
  }
}
