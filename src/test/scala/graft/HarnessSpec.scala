package graft

import com.fasterxml.jackson.databind.ObjectMapper

import scala.jdk.CollectionConverters._

/** The harness entry points: the plan tool's query-name check, the bench
 * result line, and the stress runner's dispatch and workloads. */
class HarnessSpec extends SparkTestBase {

  test("Plans fails on an unknown query name instead of skipping it") {
    val e = intercept[IllegalArgumentException] {
      Plans.queryNames(Some("t01_text_analyze,t01_text_analyse,nope"))
    }
    assert(e.getMessage.contains("unknown query name(s): t01_text_analyse, nope"))
    assert(Plans.queryNames(Some("t01_text_analyze,q60_sql_curation")) ===
      Seq("t01_text_analyze", "q60_sql_curation"))
    assert(Plans.queryNames(None).contains("h01_tpch"))
  }

  test("Verify fails on an unknown query name instead of skipping it") {
    val e = intercept[IllegalArgumentException] {
      Verify.queryFilter(Seq("sf", "out", "q24_comap,q24_comapp,q40_sql_zip,nope"))
    }
    assert(e.getMessage.contains("unknown query name(s): q24_comapp, nope"))
    assert(Verify.queryFilter(Seq("sf", "out", "q24_comap, q40_sql_zip")) ===
      Some(Set("q24_comap", "q40_sql_zip")))
    assert(Verify.queryFilter(Seq("sf", "out")) === None)
  }

  test("query bodies that write a temp dir delete it and return rows that outlive it") {
    for (name <- Seq("m08_binary_ingest", "q75_stream_sketch",
        "q83_stream_heavy_hitters", "q84_stream_ingest_dedup", "q85_schema_evolution")) {
      val before = SparkTestBase.scratch
      val out = SparkEntry.queries(name)(spark, "perfbench/data/sf0.001")
      assert(SparkTestBase.scratch -- before === Set.empty, name)
      assert(out.collect().nonEmpty, name)
    }
  }

  test("Bench result line: valid JSON, 21 keys in order, error for a failed query") {
    val line = Bench.resultLine(
      results = Seq("q01_agg" -> Some(1.2344), "d04_dedup_ngram" -> None),
      hResults = Seq("h01_tpch" -> Some(0.5)),
      loadStart = 0.25, loadEnd = 2.5, loadDecayed = 1.25, waitedSec = 15,
      retried = true, outliers = Seq("q01_agg" -> 3.0), remeasured = false,
      contended = false, sfDir = "/data/sf0.01")
    val json = new ObjectMapper().readTree(line)
    assert(json.fieldNames().asScala.toSeq === Seq("metric", "value", "unit",
      "runs", "agg", "errors", "queries", "h_total", "h_runs", "h_errors",
      "h_queries", "loadavg_start", "loadavg_end", "loadavg_end_decayed",
      "loadavg_waited_sec", "retried", "outliers_first_pass",
      "outliers_remeasured", "stamp_load", "contended", "sf"))
    assert(json.get("queries").get("d04_dedup_ngram").asText === "error")
    assert(json.get("queries").get("q01_agg").asDouble === 1.234)
    assert(json.get("value").asDouble === 1.234)
    assert(json.get("errors").asInt === 1)
    assert(json.get("h_errors").asInt === 0)
    assert(json.get("runs").asInt === 3 && json.get("h_runs").asInt === 2)
    assert(json.get("outliers_first_pass").get("q01_agg").asDouble === 3.0)
    assert(json.get("retried").asBoolean && !json.get("contended").asBoolean)
    assert(json.get("sf").asText === "/data/sf0.01")
  }

  test("Stress rejects an unknown name, or a size for an unsized entry, listing the names") {
    val names = Seq("graph", "lake", "layout", "margin", "media", "pca", "pq",
      "retrieval", "sketch", "skew", "span", "temporal")
    assert(Stress.names === names)
    for (args <- Seq(Seq("nope"), Seq(), Seq("graph", "10"), Seq("media", "1", "2"))) {
      val e = intercept[IllegalArgumentException](Stress.resolve(args))
      assert(e.getMessage.contains(s"names: ${names.mkString(", ")}"), args)
    }
  }

  test("Stress media and lake run at a small n, every check included") {
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(out) {
      Stress.resolve(Seq("media", "64"))(spark)
      Stress.resolve(Seq("lake", "2000"))(spark)
    }
    val lines = out.toString("UTF-8").split("\n").toSeq
    val media = lines.find(_.startsWith("MEDIASTRESS docs=64 ")).getOrElse(fail(lines.mkString("\n")))
    assert("randomMembers=(\\d+)".r.findFirstMatchIn(media).exists(_.group(1).toLong > 0), media)
    assert(media.contains("mkvFrames="), media)
    val lake = lines.find(_.startsWith("LAKESTRESS n=2000 ")).getOrElse(fail(lines.mkString("\n")))
    Seq("pq_v1_snappy: decoded=2000 rows", "pq_v2_zstd: decoded=2000 rows",
      "orc_zstd_values: decoded=2000 rows", "orc_scalars: decoded=2000 rows",
      "pq_lists: decoded=500 rows", "sparkRead=2000 ", "sparkRead=500 ",
      "hudi_timeline: tables=1000").foreach(s => assert(lake.contains(s), s"$s\n$lake"))
  }
}
