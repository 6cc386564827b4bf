package graft

import graft.engine.SparkGraftEngine
import graft.functions.{Dedup, Multimodal, Similarity, Sketches, TextFunctions}
import graft.transform.Transform
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import graft.EntryHelpers._

/** (continued registry) core relational / engine-surface (q*) conformance queries and their DuckDB oracles — split out
 * of SparkEntry by family so the registries stay reviewable (the
 * assembled maps are behavior-identical; entries were moved verbatim).
 * Shared fixtures/loaders live in [[EntryHelpers]]. */
private[graft] object EntriesQ2 {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // per-key interval union (coalesce overlapping/touching intervals),
    // FULL oracle: each event spawns a 30-min window per user; DuckDB
    // replays the identical sweep (running-max-end window + flag prefix
    // sum) — exact integer epoch arithmetic on both engines
    "q106_merge_intervals" -> ((s, dir) => {
      val iv = events(s, dir).select(col("user_id"),
        unix_timestamp(col("ts")).as("start_s"),
        (unix_timestamp(col("ts")) + 1800).as("end_s"))
      graft.operators.TemporalOps.mergeIntervals(
        iv, Seq("user_id"), "start_s", "end_s")
    }),

    // rank/quantile normalization on the distributed prefix sum, FULL
    // oracle: (rank − 0.5)/n Hazen positions over (n_chars, doc_id) —
    // DuckDB's row_number window recomputes the identical quantiles
    "q107_rank_normalize" -> ((s, dir) =>
      graft.functions.Sampling.rankNormalize(
        t(s, dir, "documents").select("doc_id", "n_chars"),
        "n_chars", Seq("doc_id"))),

    // two-sample KS drift over bucketed CDFs, FULL oracle: combined-range
    // equi-width grid, exact cumulative counts, sup displacement + the
    // asymptotic 5% critical value, all at the declared 9-decimal
    // precision — DuckDB recomputes bucket-for-bucket
    "q108_ks_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.functions.Stats.ksTest(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0), "n_chars", bins = 20)
    }),

    // the dialect drives the curation pipeline end-to-end: built-in
    // PROCESS extensions (redact_pii then quality_filter) over a
    // PII-injected corpus, oracled by the composed DuckDB rewrite+filter
    "q60_sql_curation" -> ((s, dir) => {
      val injected = t(s, dir, "documents")
        .select(col("doc_id"), piiInjected.as("text"))
      graft.sql.GraftSql.run(eng(s),
        """clean = PROCESS docs USING redact_pii
          |kept = PROCESS clean USING quality_filter(min_tokens:30, max_stopword_ratio:0.4)
          |YIELD kept AS out
          |""".stripMargin, Map("docs" -> injected)).yields("out")
    }),

    // data-quality gate driven from the SQL dialect (quality_report rule
    // DSL end-to-end); oracle recomputes each metric in DuckDB
    "q93_sql_quality" -> ((s, dir) => {
      graft.sql.GraftSql.run(eng(s),
        """r = PROCESS ord USING quality_report(rules:"not_null:o_orderkey,unique:o_orderkey,in_set:o_orderstatus:F|O|P,distinct:o_orderstatus:1:5,min:o_totalprice:0")
          |YIELD r AS out
          |""".stripMargin, Map("ord" -> t(s, dir, "orders"))).yields("out")
    }),

    // group-aware split differential: every group's rows land in exactly
    // one split, splits cover the data, realized proportions are within
    // 5σ at the GROUP count, and assignment is deterministic per seed
    "q63_group_split" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val w = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
      val s1 = graft.functions.Sampling.splitByGroup(o, "o_custkey", w, seed = 7L)
      val s2 = graft.functions.Sampling.splitByGroup(o, "o_custkey", w, seed = 7L)
      val atomicOk = s1.groupBy("o_custkey")
        .agg(countDistinct(col("split")).as("ns"))
        .filter(col("ns") =!= 1).isEmpty
      val coverOk = s1.filter(!col("split").isin("train", "val", "test")).isEmpty &&
        s1.count() == o.count()
      val groups = s1.select("o_custkey", "split").distinct()
      val nG = groups.count().toDouble
      val bySplit = groups.groupBy("split").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val propOk = w.forall { case (name, wt) =>
        val n = bySplit.getOrElse(name, 0L).toDouble
        math.abs(n - wt * nG) <= 5 * math.sqrt(nG * wt * (1 - wt))
      }
      val detOk = graft.api.DfUtils.dfEq(s1, s2)
      eng(s).toDF(Seq(Seq(
        if (atomicOk && coverOk && propOk && detOk) 1L else 0L)),
        "split_ok:long")
    }),

    // Bloom-prefiltered exact semi-join: the selective-join scale pattern
    // (probe rows drop at the scan, before the exchange); composition with
    // the exact join keeps plain semi-join semantics — full DuckDB oracle
    "q62_bloom_semi" -> ((s, dir) => {
      val build = t(s, dir, "orders").filter(col("o_totalprice") > 450000)
        .select(col("o_orderkey").as("l_orderkey"))
      graft.operators.BloomJoin.semiJoin(
        t(s, dir, "lineitem"), build, "l_orderkey")
        .select("l_orderkey", "l_linenumber", "l_quantity")
    }),

    // contiguous global row index via the distributed prefix sum (what
    // monotonically_increasing_id is not) — full DuckDB oracle
    "q69_row_index" -> ((s, dir) =>
      graft.api.DfUtils.withRowIndex(
        t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
        Seq("o_orderkey"))),

    // column-level data profile (Deequ-style): exact distincts, null
    // counts, min/max — one aggregation pass; full DuckDB oracle over the
    // non-FP orders columns (FP/timestamp string rendering differs across
    // engines, so the conformance subset sticks to exact-rendering types)
    "q66_profile" -> ((s, dir) =>
      graft.api.DfUtils.profile(t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))),

    "q37_sketch" -> ((s, dir) =>
      // HLL sketch vs exact cardinality per event type (sketch impls differ
      // per engine → rows-only)
      eng(s).aggregate(events(s, dir), Seq("event_type"), Seq(
        approx_count_distinct(col("user_id")).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n")))),

    // sketch-error differential: the HLL estimate must be within 2×rsd
    // (default rsd 0.05) of the exact count on every group
    "q37x_sketch_error" -> ((s, dir) => {
      val agg = eng(s).aggregate(events(s, dir), Seq("event_type"), Seq(
        approx_count_distinct(col("user_id")).as("a"),
        countDistinct(col("user_id")).as("x")))
      agg.agg(max(abs(col("a") - col("x")).cast("double") /
          col("x").cast("double")).as("err"))
        .select((col("err") <= 0.10).cast("bigint").as("sketch_ok"))
    }),

    // ---- streaming (bounded AvailableNow run, oracle-checked) ----------
    "q50_stream_window" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val batchSchema = t(s, dir, "events").schema
      // streaming file sources need a DIRECTORY: point at the sf dir and
      // glob-filter to the events file
      val stream = normalizeEventTs(graft.streaming.Streaming
        .loadStream(s, dir, batchSchema,
          options = Map("pathGlobFilter" -> "events.parquet")))
      val agg = graft.streaming.Streaming.windowedAgg(stream, "ts",
        watermarkDelay = "1 minute", windowDuration = "1 hour",
        slideDuration = None, groupBy = Seq("event_type"),
        aggs = Seq(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total")))
      val name = "graft_q50_" + java.util.UUID.randomUUID().toString.take(8)
      graft.streaming.Streaming.runToMemory(agg, name, outputMode = "complete")
      s.table(name).select(col("window.start").as("win_start"),
        col("event_type"), col("n"), col("total"))
    }),

    // stream-static enrichment join: events stream vs a broadcast dimension
    "q59_stream_static_join" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val batchSchema = t(s, dir, "events").schema
      val stream = graft.streaming.Streaming
        .loadStream(s, dir, batchSchema,
          options = Map("pathGlobFilter" -> "events.parquet"))
      val dim = eng(s).toDF(Seq(
        Seq("click", "engagement"), Seq("view", "engagement"),
        Seq("purchase", "revenue"), Seq("error", "ops")),
        "event_type:str,category:str")
      val joined = graft.streaming.Streaming
        .enrichWithStatic(stream, dim, Seq("event_type"), "left")
        .select("event_id", "event_type", "category")
      val name = "graft_q59_" + java.util.UUID.randomUUID().toString.take(8)
      graft.streaming.Streaming.runToMemory(joined, name)
      s.table(name)
    }),

    // SQL-function registry differential: every injected function must
    // agree with its API-level expression on real data
    "q51_sql_functions" -> ((s, dir) => {
      GraftSession.registerFunctions(s)
      val e = eng(s)
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val viaSql = e.sqlSelect(
        """SELECT doc_id, fingerprint64(text) AS fp,
          | simhash64(array(xxhash64(text))) AS sh,
          | shingle_hashes(text, 3) AS sg FROM documents""".stripMargin,
        Map("documents" -> docs))
      val viaApi = docs.select(col("doc_id"),
        graft.functions.expressions.VectorExpressions.fingerprint64(col("text")).as("fp"),
        graft.functions.expressions.VectorExpressions
          .simhash64(array(xxhash64(col("text")))).as("sh"),
        Dedup.shingleHashes(col("text"), 3).as("sg"))
      val dotSql = e.sqlSelect(
        """SELECT vec_id, vec_dot(vec_l2_normalize(embedding), vec_l2_normalize(embedding)) AS d
          |FROM embeddings""".stripMargin, Map("embeddings" -> emb))
      val dotApi = emb.select(col("vec_id"),
        graft.functions.Similarity.dot(
          graft.functions.Similarity.l2normalize(col("embedding")),
          graft.functions.Similarity.l2normalize(col("embedding"))).as("d"))
      val ok = graft.api.DfUtils.dfEq(viaSql, viaApi) &&
        graft.api.DfUtils.dfEq(dotSql, dotApi)
      e.toDF(Seq(Seq(if (ok) 1L else 0L)), "fns_ok:long")
    }),

    // streaming exact dedup: distinct-key output is order-independent, so
    // keep-first-arrival semantics still oracle against DISTINCT
    "q54_stream_dedup" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val batchSchema = t(s, dir, "events").schema
      val stream = graft.streaming.Streaming
        .loadStream(s, dir, batchSchema,
          options = Map("pathGlobFilter" -> "events.parquet"))
        .select("user_id", "event_type")
      val dd = graft.streaming.Streaming.dropDuplicatesStream(
        stream, Seq("user_id", "event_type"))
      val name = "graft_q54_" + java.util.UUID.randomUUID().toString.take(8)
      graft.streaming.Streaming.runToMemory(dd, name, outputMode = "append")
      s.table(name)
    }),

    // streaming curation: PII redaction + quality filtering are pure
    // narrow expressions, so the SAME operators run unchanged over a
    // stream (no state, no watermark) — oracled by the q60 batch SQL
    "q61_stream_curation" -> ((s, dir) => {
      val batchSchema = t(s, dir, "documents").schema
      val stream = graft.streaming.Streaming
        .loadStream(s, dir, batchSchema,
          options = Map("pathGlobFilter" -> "documents.parquet"))
        .select(col("doc_id"), piiInjected.as("text"))
        .withColumn("text", TextFunctions.redactPii(col("text")))
      val kept = TextFunctions.qualityFilter(stream, "text",
        minTokens = 30, maxStopwordRatio = 0.4)
      val name = "graft_q61_" + java.util.UUID.randomUUID().toString.take(8)
      graft.streaming.Streaming.runToMemory(kept, name, outputMode = "append")
      s.table(name)
    }),

    // exact join-size pre-flight: the count-aggregate computation must
    // equal the materialized join's cardinality — DuckDB materializes the
    // (skew-amplified) self-join to check, the Spark side never does
    "q79_join_size" -> ((s, dir) => {
      val e = events(s, dir)
      val size = graft.api.DfUtils.equiJoinSize(e, e, Seq("user_id"))
      eng(s).toDF(Seq(Seq(size)), "join_size:long")
    }),

    // CDC merge/upsert: deterministic change feed derived from orders —
    // deletes (%10=0), updates (%10 in 1,2), inserts (%10=3 under shifted
    // keys), with a same-key V1/V2 version race the election must resolve
    // toward the latest version — exact DuckDB oracle
    "q80_upsert" -> ((s, dir) => {
      val base = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val changes = base.filter(col("o_orderkey") % 10 <= 3)
        .select(
          when(col("o_orderkey") % 10 === 3, col("o_orderkey") + 10000000L)
            .otherwise(col("o_orderkey")).as("o_orderkey"),
          col("o_custkey"),
          (col("o_totalprice") + lit(1000.0)).as("o_totalprice"),
          lit("X").as("o_orderstatus"),
          when(col("o_orderkey") % 10 === 0, lit("D")).otherwise(lit("U")).as("op"),
          lit(2L).as("version"))
      // a stale V1 row per changed key that the election must discard
      val stale = changes.withColumn("version", lit(1L))
        .withColumn("o_totalprice", lit(-1.0))
      graft.operators.Upsert.upsert(base, changes.unionByName(stale),
        Seq("o_orderkey"), versionCol = Some("version"))
    }),

    // mergeable Misra-Gries heavy hitters over the per-language word
    // stream, self-verified against exact counts computed distributively:
    // the oracle pins the two guarantee counters at zero (heavy items
    // with count > err_bound missed by the sketch; estimate bounds
    // est <= count <= est + err_bound broken) and independently recomputes
    // the exact stream size and top word (ties -> min word)
    "q81_heavy_hitters" -> ((s, dir) => {
      import graft.functions.{Sketches, TextFunctions}
      val words = t(s, dir, "documents")
        .select(col("lang"),
          explode(TextFunctions.tokensOrEmpty(col("text"))).as("w"))
      val hh = Sketches.frequentItems(words, Seq("lang"), "w", k = 20)
      val exact = words.groupBy("lang", "w").agg(count(lit(1)).as("cnt"))
      val joined = exact.join(
        hh.select(col("lang"), col("item").as("w"), col("estimate"),
          col("err_bound")), Seq("lang", "w"), "left")
      val errByLang = hh.groupBy("lang").agg(
        max("err_bound").as("err"), max("n_rows").as("n_sketch"))
      joined.join(errByLang, "lang")
        .groupBy("lang").agg(
          sum("cnt").as("n_words"),
          min_by(col("w"), struct((col("cnt") * -1).as("nc"), col("w")))
            .as("top_w"),
          max("cnt").as("top_cnt"),
          sum(when(col("cnt") > col("err") && col("estimate").isNull, 1L)
            .otherwise(0L)).as("missed"),
          sum(when(col("estimate").isNotNull &&
              (col("estimate") > col("cnt") ||
                col("estimate") + col("err") < col("cnt")), 1L)
            .otherwise(0L)).as("violations"),
          (max("n_sketch") === sum("cnt")).as("n_consistent"))
    }),

    // Count-Min sketch: 8 per-shard partials merged on the driver (the
    // bounded sketch-space pattern, like IVF training) must (a) never
    // underestimate any exact count — CMS's deterministic one-sided
    // guarantee — and (b) agree EXACTLY with a direct whole-stream sketch
    // (counter addition is lossless, the CMS analogue of q73's HLL union)
    "q82_cms" -> ((s, dir) => {
      import graft.functions.Sketches
      val ev = events(s, dir)
        .filter(col("event_type").isNotNull)
        .select(col("user_id"), col("event_type"))
      def sketchOf(partials: DataFrame) = Sketches.cmsMerge(
        partials.select("cms_sketch").collect().map(_.getAs[Array[Byte]](0)))
      val merged = sketchOf(Sketches.cmsPartial(
        ev.withColumn("shard", pmod(col("user_id"), lit(8))),
        Seq("shard"), "event_type"))
      val direct = sketchOf(Sketches.cmsPartial(
        ev.withColumn("g", lit(1)), Seq("g"), "event_type"))
      val rows = ev.groupBy("event_type").agg(count(lit(1)).as("cnt"))
        .collect().toSeq.map { r =>
          val et = r.getString(0); val cnt = r.getLong(1)
          val est = Sketches.cmsEstimate(merged, et)
          Seq(et, cnt, est >= cnt, est == Sketches.cmsEstimate(direct, et))
        }
      eng(s).toDF(rows,
        "event_type:str,cnt:long,over_ok:bool,merge_agrees:bool")
    }),

    // weighted-sample law differential (Efraimidis–Spirakis): with 10% of
    // docs carrying 1000× weight, the top-20-per-lang sample must (a) be
    // seed-deterministic, (b) be a subset with exact per-key sizes
    // min(20, group size), (c) cover ≥80% of the heavy rows per lang —
    // a uniform sample would include heavy rows at ~their 10% base rate
    "q78_weighted_sample" -> ((s, dir) => {
      import graft.functions.Sampling
      val docs = t(s, dir, "documents")
        .withColumn("w", when(col("doc_id") % 10 === 0, 1000.0).otherwise(1.0))
      val s1 = Sampling.weightedTake(docs, Seq("lang"), Seq("doc_id"), "w",
        n = 20, seed = 7L)
      val s2 = Sampling.weightedTake(docs, Seq("lang"), Seq("doc_id"), "w",
        n = 20, seed = 7L)
      val det = graft.api.DfUtils.dfEq(s1, s2)
      val subset = s1.select("doc_id")
        .join(docs.select("doc_id"), "doc_id").count() == s1.count()
      val sizes = s1.groupBy("lang").agg(count(lit(1)).as("c"))
        .join(docs.groupBy("lang").agg(count(lit(1)).as("tot")), "lang")
        .agg(min(when(col("c") === least(lit(20), col("tot")), 1)
          .otherwise(0)).as("ok")).first().getInt(0) == 1
      val heavy = s1.filter(col("w") === 1000.0)
        .groupBy("lang").agg(count(lit(1)).as("h"))
        .join(docs.filter(col("w") === 1000.0)
          .groupBy("lang").agg(count(lit(1)).as("ht")), "lang")
        .agg(min(when(col("h") >= ceil(least(col("ht"), lit(20)) * 0.8), 1)
          .otherwise(0)).as("ok")).first().getInt(0) == 1
      eng(s).toDF(Seq(Seq(if (det && subset && sizes && heavy) 1L else 0L)),
        "sample_ok:long")
    }),

    // streaming session windows: native session_window aggregation over
    // the event stream, oracled by the SAME gap-sessionization SQL the
    // batch q39 uses (boundary: Spark opens a NEW session at
    // ts >= prev + gap, so the oracle marks with >=, not >)
    "q77_stream_session" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val batchSchema = t(s, dir, "events").schema
      val stream = normalizeEventTs(graft.streaming.Streaming
        .loadStream(s, dir, batchSchema,
          options = Map("pathGlobFilter" -> "events.parquet")))
      val agg = graft.streaming.Streaming.sessionAgg(stream, "ts",
        watermarkDelay = "1 minute", gap = "30 minutes",
        groupBy = Seq("user_id"),
        aggs = Seq(count(lit(1)).as("n_events")))
      val name = "graft_q77_" + java.util.UUID.randomUUID().toString.take(8)
      graft.streaming.Streaming.runToMemory(agg, name, outputMode = "complete")
      s.table(name).select(col("user_id"),
        col("session_window.start").as("session_start"), col("n_events"))
    }),

    // ---- temporal operators -------------------------------------------
    // batch resample: 15-minute epoch-aligned buckets per event type —
    // bucket identity is integer epoch arithmetic, reproduced exactly
    "q96_resample" -> ((s, dir) =>
      graft.operators.TemporalOps.resample(events(s, dir), "ts", 900,
        Seq("event_type"),
        Seq(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total")))),

    // rolling trailing-hour aggregate per user, RANGE frame over truncated
    // epoch seconds on both engines (peers at the same second included)
    "q97_rolling" -> ((s, dir) =>
      graft.operators.TemporalOps.rollingAggregate(events(s, dir), "ts", 3600,
        Seq("user_id"),
        Seq("n_1h" -> count(lit(1)),
          "total_1h" -> sum(col("value").cast("decimal(18,2)"))))
        .select(col("event_id"), col("user_id"), col("n_1h"),
          col("total_1h").cast("double").as("total_1h"))),

    "q38_asof_join" -> ((s, dir) => {
      val e = events(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("prior_purchase_id"),
          col("value").as("prior_purchase_value"))
      graft.operators.TemporalOps.asofJoin(clicks, purchases,
        keys = Seq("user_id"), tsCol = "ts",
        tieBreak = Seq("prior_purchase_id"))
        .select("event_id", "user_id", "prior_purchase_id", "prior_purchase_value")
    }),

    "q39_sessionize" -> ((s, dir) => {
      val e = events(s, dir)
      graft.operators.TemporalOps.sessionize(e, Seq("user_id"), "ts",
        "30 minutes", tieBreak = Seq("event_id"))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
    }),

    // binned interval-overlap join: purchase windows × error windows with
    // bin-ownership dedup (each overlapping pair joins in exactly one bin)
    "q65_interval_join" -> ((s, dir) => {
      val e = events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("ts").as("ps"),
          (col("ts") + expr("INTERVAL 20 MINUTES")).as("pe"))
      val errors = e.filter(col("event_type") === "error")
        .select(col("event_id").as("e_id"), col("ts").as("es"),
          (col("ts") + expr("INTERVAL 15 MINUTES")).as("ee"))
      graft.operators.TemporalOps.intervalJoin(purchases, errors,
        "ps", "pe", "es", "ee", binWidth = 900.0)
        .select("p_id", "e_id")
    }),

    // binned point-in-interval range join (NO equi-key: the bin keys alone
    // carry the join, where bare Spark would nested-loop) — every event
    // paired with every 30-minute purchase window containing it
    "q64_range_join" -> ((s, dir) => {
      val e = events(s, dir)
      val pts = e.select(col("event_id"), col("ts"))
      val wins = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("win_id"), col("ts").as("win_start"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("win_end"))
      graft.operators.TemporalOps.rangeJoin(pts, wins, "ts", "win_start",
        "win_end", binWidth = 1800.0)
        .select("event_id", "win_id")
    }),

    // semi-structured parsing: JSON props column → typed field, grouped
    "q67_json_props" -> ((s, dir) =>
      events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          max(col("k")).as("max_k"))),

    // pivot: per-user event counts spread across event-type columns
    "q68_pivot" -> ((s, dir) =>
      events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        // scoped fill: an unqualified na.fill would also rewrite a null
        // GROUP KEY to 0, silently merging it with the real user 0
        .na.fill(0L, Seq("click", "view", "purchase", "signup", "error"))),

    // unpivot (melt): the inverse of q68 — event-type count columns back
    // to (user_id, event_type, n) long format via the Dataset unpivot API
    "q72_unpivot" -> ((s, dir) => {
      val wide = events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("click", "view", "purchase", "signup", "error"))
      wide.unpivot(Array(col("user_id")),
        Array(col("click"), col("view"), col("purchase"), col("signup"),
          col("error")),
        "event_type", "n")
    }),

    // mergeable cardinality summaries: per-(key, ingest shard) HLL
    // partials merged WITHOUT rescanning — the incremental pattern for
    // distinct-user tracking at 100 TB. Differentials: (a) the union is
    // ASSOCIATIVE — a hierarchical rollup (shards → halves → corpus)
    // yields the IDENTICAL estimate to the flat merge, so any ingest
    // grouping agrees (byte-equality vs a direct whole-table sketch is
    // deliberately NOT asserted: past the sparse→dense transition the
    // direct sketch takes a different promotion path and may differ
    // inside the error envelope — caught by the sf0.1 full gate),
    // (b) every merged estimate is within 5% of the exact distinct
    // count (rsd ≈ 1.6% at lgK=12); n_keys is oracle-exact
    "q73_sketch_merge" -> ((s, dir) => {
      val ev = events(s, dir).withColumn("shard", pmod(col("event_id"), lit(8)))
      val partials = Sketches.hllPartial(ev, Seq("event_type", "shard"), "user_id")
      val flat = Sketches.hllMergeEstimate(partials, Seq("event_type"))
      val hier = Sketches.hllMergeEstimate(
        Sketches.hllMergePartial(
          partials.withColumn("half", pmod(col("shard"), lit(2))),
          Seq("event_type", "half")),
        Seq("event_type")).withColumnRenamed("estimate", "hier")
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact"))
      flat.join(exact, "event_type").join(hier, "event_type")
        .agg(
          min(when(col("estimate") === col("hier"), 1).otherwise(0))
            .as("ma"),
          min(when(abs(col("estimate") - col("exact")) <=
            col("exact") * 0.05, 1).otherwise(0)).as("bo"),
          count(lit(1)).as("nk"))
        .select(col("ma").cast("bigint").as("merge_agrees"),
          col("bo").cast("bigint").as("bound_ok"),
          col("nk").cast("bigint").as("n_keys"))
    }),

    // streaming incremental sketch maintenance: the input is pre-sharded
    // (a simulated multi-day ingest), each micro-batch appends its HLL
    // partials to a sketch store via foreachBatch. Laws: merging the
    // stored per-batch partials is ASSOCIATIVE (batch-parity rollup ==
    // flat merge — any maintenance schedule agrees) and the incremental
    // estimate stays within the lgK accuracy bound of the exact distinct
    // count. (Byte-equality vs a direct batch sketch is NOT asserted —
    // see q73.) The only driver-side value is the micro-batch count
    "q75_stream_sketch" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val ev = events(s, dir).select("event_type", "user_id")
      withTempDir("graft_q75_") { base =>
        val (inDir, outDir, ck) = (s"$base/in", s"$base/out", s"$base/ck")
        ev.repartition(6).write.mode("overwrite").parquet(inDir)
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir)
        graft.streaming.Streaming.foreachBatchSink(stream, ck) { (batch, id) =>
          if (!batch.isEmpty)
            Sketches.hllPartial(batch, Seq("event_type"), "user_id")
              .withColumn("batch_id", lit(id))
              .write.mode("append").parquet(outDir)
        }
        val partials = eng(s).load(outDir, "parquet")
        val merged = Sketches.hllMergeEstimate(partials, Seq("event_type"))
        val hier = Sketches.hllMergeEstimate(
          Sketches.hllMergePartial(
            partials.withColumn("par", pmod(col("batch_id"), lit(2))),
            Seq("event_type", "par")),
          Seq("event_type")).withColumnRenamed("estimate", "hier")
        val exact = ev.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact"))
        val nBatches = partials.select(countDistinct(col("batch_id")))
          .first().getLong(0)
        merged.join(hier, "event_type").join(exact, "event_type")
          .agg(min(when(col("estimate") === col("hier") &&
              abs(col("estimate") - col("exact")) <= col("exact") * 0.05, 1)
            .otherwise(0)).as("ma"), count(lit(1)).as("nk"))
          .select(col("ma").cast("bigint").as("merge_agrees"),
            (lit(nBatches) >= 2).cast("bigint").as("multi_batch"),
            col("nk").cast("bigint").as("n_keys")).localCheckpoint(true)
      }
    }),

    // streaming incremental heavy hitters: per-micro-batch Misra-Gries
    // partials appended by foreachBatch, merged sketch-space at read time
    // (the q75 pattern for MG). The merged result must keep MG's
    // deterministic guarantees vs exact counts computed over the SAME
    // stream: zero heavy items (count > err_bound) missed, zero estimate
    // bounds broken, exact n_rows per key — all oracle-pinned
    "q83_stream_heavy_hitters" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val ev = events(s, dir).select("event_type", "user_id")
        .withColumn("user_id", col("user_id").cast("string"))
      withTempDir("graft_q83_") { base =>
        val (inDir, outDir, ck) = (s"$base/in", s"$base/out", s"$base/ck")
        ev.repartition(6).write.mode("overwrite").parquet(inDir)
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir)
        graft.streaming.Streaming.foreachBatchSink(stream, ck) { (batch, id) =>
          if (!batch.isEmpty)
            Sketches.frequentItemsPartial(batch, Seq("event_type"), "user_id",
              k = 30)
              .withColumn("batch_id", lit(id))
              .write.mode("append").parquet(outDir)
        }
        val partials = eng(s).load(outDir, "parquet")
        val nBatches = partials.select(countDistinct(col("batch_id")))
          .first().getLong(0)
        val hh = Sketches.frequentItems(partials.drop("batch_id"),
          Seq("event_type"))
        val exact = ev.groupBy("event_type", "user_id")
          .agg(count(lit(1)).as("cnt"))
        val joined = exact.join(
          hh.select(col("event_type"), col("item").as("user_id"),
            col("estimate"), col("err_bound")), Seq("event_type", "user_id"),
          "left")
        val errByKey = hh.groupBy("event_type").agg(
          max("err_bound").as("err"), max("n_rows").as("n_sketch"))
        joined.join(errByKey, "event_type")
          .groupBy("event_type").agg(
            sum("cnt").as("n_rows"),
            sum(when(col("cnt") > col("err") && col("estimate").isNull, 1L)
              .otherwise(0L)).as("missed"),
            sum(when(col("estimate").isNotNull &&
                (col("estimate") > col("cnt") ||
                  col("estimate") + col("err") < col("cnt")), 1L)
              .otherwise(0L)).as("violations"),
            (max("n_sketch") === sum("cnt")).as("n_consistent"),
            lit(nBatches >= 2).as("multi_batch")).localCheckpoint(true)
      }
    }),

    // streaming ingestion dedup: micro-batches are deduplicated
    // within-batch (exact n-gram jaccard components) then against the
    // accumulated survivor index before appending — d14's incremental
    // pattern under continuous arrival. The oracle pins the
    // order-INDEPENDENT laws: survivors are pairwise clean (no >= 0.5
    // jaccard pair survives), every dropped doc has a near-dup partner in
    // the corpus (it was dropped FOR something), and the exact corpus size
    "q84_stream_ingest_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      withTempDir("graft_q84_") { base =>
        val (inDir, outDir, ck) = (s"$base/in", s"$base/out", s"$base/ck")
        docs.repartition(5).write.mode("overwrite").parquet(inDir)
        val stream = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir)
        val fs = org.apache.hadoop.fs.FileSystem.get(
          s.sparkContext.hadoopConfiguration)
        val outPath = new org.apache.hadoop.fs.Path(outDir)
        graft.streaming.Streaming.foreachBatchSink(stream, ck) { (batch, _) =>
          if (!batch.isEmpty) {
            val pairs = Dedup.ngramJaccardJoin(batch, "doc_id", "text",
              batch, "doc_id", "text", shingleK = 3, threshold = 0.5)
              .filter(col("id_a") < col("id_b"))
            val internal = Dedup.dropNearDuplicates(batch, "doc_id", pairs)
            val survivors =
              if (fs.exists(outPath))
                Dedup.dropNearDuplicatesAgainst(internal, "doc_id", "text",
                  eng(s).load(outDir, "parquet"), "doc_id", "text",
                  shingleK = 3, threshold = 0.5)
              else internal
            survivors.write.mode("append").parquet(outDir)
          }
        }
        val surv = eng(s).load(outDir, "parquet")
        val dropped = docs.join(surv.select("doc_id"), Seq("doc_id"),
          "left_anti")
        val survDirty = Dedup.ngramJaccardJoin(surv, "doc_id", "text",
          surv, "doc_id", "text", shingleK = 3, threshold = 0.5)
          .filter(col("id_a") =!= col("id_b")).limit(1).count() > 0
        val uncovered = dropped.join(
          Dedup.ngramJaccardJoin(dropped, "doc_id", "text",
            docs, "doc_id", "text", shingleK = 3, threshold = 0.5)
            .filter(col("id_a") =!= col("id_b"))
            .select(col("id_a").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti").limit(1).count() > 0
        eng(s).toDF(Seq(Seq(docs.count(), !survDirty, !uncovered)),
          "n_docs:long,survivors_clean:bool,dropped_covered:bool")
      }
    }),

    // schema-evolution read: two parquet batches with DIFFERENT schemas
    // (v2 adds columns) reconciled by the engine's load with
    // mergeSchema — v1 rows surface NULLs for the added columns; exact
    // DuckDB oracle recomputes the reconciled aggregate from the split
    "q85_schema_evolution" -> ((s, dir) => {
      withTempDir("graft_q85_") { base =>
        val orders = t(s, dir, "orders")
        orders.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .write.mode("overwrite").parquet(s"$base/d")
        orders.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderstatus"))
          .write.mode("append").parquet(s"$base/d")
        eng(s).load(s"$base/d", "parquet",
            options = Map("mergeSchema" -> "true"))
          .groupBy(coalesce(col("o_orderstatus"), lit("<v1>"))
            .as("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              .as("total")).localCheckpoint(true)
      }
    }),

    // size-targeted compaction: content identity is the oracle; the file
    // count law (fragmented shrinks toward target, compact left alone)
    // is asserted in ApiSpec
    "q86_compact" -> ((s, dir) => {
      val frag = t(s, dir, "orders").repartition(64)
      graft.operators.Layout.compact(frag, targetBytes = 8L << 20)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    }),

    // jinja-class templating end-to-end: {% for %} builds the IN list,
    // {% if %} gates the extra predicate — the RENDERED pipeline runs
    // through the full dialect and is oracled as plain SQL (the reference
    // renders FugueSQL through jinja2, fugue/sql/_utils.py:13-41)
    "q87_sql_template" -> ((s, dir) => {
      graft.sql.GraftSql.run(eng(s),
        """res = SELECT r_regionkey, r_name FROM region
          | WHERE r_name IN ({% for n in names %}'{{ n }}'{% if not loop.last %}, {% endif %}{% endfor %})
          | {%- if min_key >= 0 %} AND r_regionkey >= {{ min_key }}{% endif %}
          |YIELD res AS out
          |""".stripMargin,
        Map("region" -> t(s, dir, "region")),
        vars = Map("names" -> Seq("ASIA", "EUROPE", "AFRICA"),
          "min_key" -> 1L)).yields("out")
    }),

    // the r10 template surface end-to-end through the FugueSQL front end
    // (the q87 pattern, widened): a for-if loop over dicts selects the
    // enabled bands, a macro renders each aggregate, a namespace counts
    // what was emitted, a filter block shapes an alias, and an is-defined
    // ternary gates the default band — all rendering to STATIC SQL, so
    // the oracle is the fully-expanded DuckDB text
    "q120_template_advanced" -> ((s, dir) => {
      graft.sql.GraftSql.run(eng(s),
        """{% macro band(lo, hi) %}sum(CASE WHEN o_totalprice >= {{ lo }} AND o_totalprice < {{ hi }} THEN 1 ELSE 0 END) AS {% filter trim %} band_{{ lo }} {% endfilter %}{% endmacro %}
          |{% set ns = namespace(k=0) %}
          |res = SELECT o_orderpriority,
          | {% for b in bands if b.on %}{{ band(b.lo, b.hi) }}, {% set ns.k = ns.k + 1 %}{% endfor %}
          | {{ band(0, fallback_hi if fallback_hi is defined else 50000) }},
          | CAST({{ ns.k }} AS BIGINT) AS n_bands,
          | count(*) AS n
          |FROM orders GROUP BY o_orderpriority
          |YIELD res AS out
          |""".stripMargin,
        Map("orders" -> t(s, dir, "orders")),
        vars = Map("bands" -> Seq(
          Map("lo" -> 100000L, "hi" -> 200000L, "on" -> true),
          Map("lo" -> 200000L, "hi" -> 300000L, "on" -> false),
          Map("lo" -> 300000L, "hi" -> 400000L, "on" -> true)))).yields("out")
    }),

    // {% set %} + {% macro %} templating through the FugueSQL front end
    // (the jinja construct classes round 6 lacked): a macro builds the
    // projection, a set-assembled predicate gates the WHERE. FULL oracle:
    // the rendered SQL is static
    "q87b_sql_template_set" -> ((s, dir) => {
      graft.sql.GraftSql.run(eng(s),
        """{% macro proj(key, name) %}{{ key }}, {{ name }}{% endmacro %}
          |{% set lo = base_key + 1 %}
          |{% set hi = lo * 2 %}
          |res = SELECT {{ proj('n_nationkey', 'n_name') }} FROM nation
          | WHERE n_nationkey >= {{ lo }} AND n_nationkey < {{ hi }}
          |YIELD res AS out
          |""".stripMargin,
        Map("nation" -> t(s, dir, "nation")),
        vars = Map("base_key" -> 4L)).yields("out")
        .select(col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_name"))
    }),

    // mergeable quantile summary: percentile_approx (KLL-style, bounded
    // rank error ≤ n/accuracy). Differential: the ACTUAL rank of each
    // reported p50/p95 must sit within twice the guarantee of the target
    // rank per event_type (2× absorbs boundary ties); n_keys oracle-exact
    "q74_quantile_sketch" -> ((s, dir) => {
      val acc = 1000
      val ev = events(s, dir)
      val qs = ev.groupBy("event_type").agg(
        percentile_approx(col("value"), lit(0.5), lit(acc)).as("p50"),
        percentile_approx(col("value"), lit(0.95), lit(acc)).as("p95"),
        count(lit(1)).as("n"))
      ev.join(qs, "event_type")
        .groupBy(col("event_type"))
        .agg(
          sum(when(col("value") <= col("p50"), 1L).otherwise(0L)).as("r50"),
          sum(when(col("value") <= col("p95"), 1L).otherwise(0L)).as("r95"),
          first(col("n")).as("n"))
        .agg(min(when(
          abs(col("r50") - col("n") * 0.5) <= col("n") * 2.0 / acc + 2 &&
            abs(col("r95") - col("n") * 0.95) <= col("n") * 2.0 / acc + 2,
          1).otherwise(0)).as("qo"), count(lit(1)).as("nk"))
        .select(col("qo").cast("bigint").as("quantile_ok"),
          col("nk").cast("bigint").as("n_keys"))
    }),

    // Z-order layout: Morton clustering over (user_id, value) — content
    // must be EXACTLY preserved (the oracle is the identity projection;
    // the checker's order-insensitive compare proves reordering lost and
    // invented nothing). Locality itself is pinned by the spec's
    // per-partition span assertion and the SCALE.md skipping measurement
    "q76_zorder_layout" -> ((s, dir) => {
      val ev = events(s, dir).select("event_id", "user_id", "value")
      graft.operators.Layout.zorderBy(ev, Seq("user_id", "value"),
        bits = 6, numPartitions = Some(16))
    }),

    // ---- SQL passthrough breadth (same text on Spark and DuckDB) ------
    "q32_rollup" -> ((s, dir) =>
      eng(s).sqlSelect(SqlRollup, Map("orders" -> t(s, dir, "orders")))),

    "q33_running_window" -> ((s, dir) =>
      eng(s).sqlSelect(SqlRunning, Map("lineitem" -> t(s, dir, "lineitem")))),

    "q34_exists_subquery" -> ((s, dir) =>
      eng(s).sqlSelect(SqlExists, Map(
        "customer" -> t(s, dir, "customer"), "orders" -> t(s, dir, "orders")))),

    "q35_string_date_fns" -> ((s, dir) =>
      eng(s).sqlSelect(SqlStringDate, Map("orders" -> t(s, dir, "orders")))),

    "q36_case_in" -> ((s, dir) =>
      eng(s).sqlSelect(SqlCaseIn, Map("part" -> t(s, dir, "part")))),

    "q55_percentile" -> ((s, dir) =>
      eng(s).sqlSelect(SqlPercentile, Map("orders" -> t(s, dir, "orders")))),

    "q70_window_suite" -> ((s, dir) =>
      eng(s).sqlSelect(SqlWindowSuite, Map("orders" -> t(s, dir, "orders")))),

    "q71_cube" -> ((s, dir) =>
      eng(s).sqlSelect(SqlCube, Map("orders" -> t(s, dir, "orders")))),

    "q56_ntile" -> ((s, dir) =>
      // DfUtils.ntile: identical output to `ntile(4) OVER (ORDER BY ...)`
      // (the DuckDB oracle) but via the distributed prefix sum — no
      // single-partition window exchange (100 TB path; the window form
      // remains available through plain Spark SQL for small frames)
      graft.api.DfUtils.ntile(
        t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
        4, Seq("o_totalprice", "o_orderkey"), outCol = "quartile")
        .select("o_orderkey", "quartile")),

    // ---- FugueSQL dialect statement families --------------------------
    // ZIP + TRANSFORM-on-zipped (cotransformer) — same semantics as q24
    "q40_sql_zip" -> ((s, dir) => {
      import graft.sql.GraftSql
      val exts = GraftSql.Extensions(cotransformers = Map(
        "pair_counts" -> GraftSql.CoTransformerDef(
          outputSchema = (_, _, _) => graft.schema.SchemaExpr.parse(
            "o_orderkey:long,n_orders:long,n_items:long"),
          fn = (k, ls, rs, _) =>
            Iterator.single(Row(k.head, ls.size.toLong, rs.size.toLong)))))
      GraftSql.runWith(eng(s),
        """o = SELECT o_orderkey FROM orders
          |l = SELECT l_orderkey AS o_orderkey FROM lineitem
          |z = ZIP o, l FULL OUTER BY o_orderkey
          |TRANSFORM z USING pair_counts
          |YIELD AS out
          |""".stripMargin,
        Map("orders" -> t(s, dir, "orders"), "lineitem" -> t(s, dir, "lineitem")),
        exts).yields("out")
    }),

    // CREATE literal data
    "q41_sql_create" -> ((s, dir) => {
      graft.sql.GraftSql.run(eng(s),
        """CREATE [[0, "x"], [1, "y"], [2, NULL]] SCHEMA a:long,b:str
          |YIELD AS out
          |""".stripMargin).yields("out")
    }),

    // catalog table IO round-trip
    "q42_table_io" -> ((s, dir) => {
      val e = eng(s)
      dropTableAndLocation(s, "graft_q42_nation")
      e.saveTable(t(s, dir, "nation"), "graft_q42_nation")
      require(e.tableExists("graft_q42_nation"))
      e.loadTable("graft_q42_nation")
    }),

    // SAVE AND USE + LOAD with params
    "q43_sql_save_use" -> ((s, dir) => {
      graft.sql.GraftSql.run(eng(s),
        s"""LOAD PARQUET "$dir/nation.parquet"
           |n2 = SAVE AND USE OVERWRITE PARQUET "/root/repo/target/tmp/q43_nation"
           |YIELD n2 AS out
           |""".stripMargin).yields("out")
    }),

    // checkpoint keywords + YIELD FILE. The deterministic checkpoint's key
    // carries the input files' fingerprint, so a regenerated input is not
    // served a stale round's parquet.
    "q44_sql_checkpoint" -> ((s, dir) => {
      graft.sql.GraftSql.run(eng(s),
        s"""SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 100000
           |WEAK CHECKPOINT LAZY
           |DETERMINISTIC CHECKPOINT "q44"
           |YIELD FILE AS out
           |""".stripMargin,
        Map("orders" -> t(s, dir, "orders"))).yields("out")
    }),

    // workflow DAG end-to-end: nodes + deterministic checkpoint, oracled
    "q53_workflow" -> ((s, dir) => {
      val w = new graft.workflow.Workflow(eng(s), checkpointDir = "/tmp/graft_checkpoints/q53")
      w.load(s"$dir/orders.parquet")
        .filter(col("o_totalprice") > 150000)
        .aggregate(Seq("o_orderstatus"), Seq(
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"),
          count(lit(1)).as("n")))
        .deterministicCheckpoint()
        .yield_("out")
      w.run()("out")
    }))

  val oracles: Map[String, String] = Map(

    "q54_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    "q50_stream_window" ->
      """SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS win_start,
        | event_type, CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q38_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |  event_type, value FROM events),
        |clicks AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'click'),
        |purchases AS (SELECT user_id, ts, event_id AS prior_purchase_id,
        |  value AS prior_purchase_value FROM e WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, p.prior_purchase_id, p.prior_purchase_value
        |FROM clicks c ASOF LEFT JOIN purchases p
        | ON c.user_id = p.user_id AND p.ts <= c.ts""".stripMargin,

    "q39_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |marked AS (
        | SELECT user_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |    OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        | SELECT user_id, ts,
        |  CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - 1 AS session_id
        | FROM marked)
        |SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        | MIN(ts) AS session_start, MAX(ts) AS session_end
        |FROM sess GROUP BY user_id, session_id""".stripMargin,

    "q65_interval_join" ->
      """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |  FROM events),
        |p AS (SELECT event_id AS p_id, ts AS ps,
        |  ts + INTERVAL 20 MINUTE AS pe FROM e WHERE event_type = 'purchase'),
        |r AS (SELECT event_id AS e_id, ts AS es,
        |  ts + INTERVAL 15 MINUTE AS ee FROM e WHERE event_type = 'error')
        |SELECT p.p_id, r.e_id
        |FROM p, r WHERE p.ps <= r.ee AND r.es <= p.pe""".stripMargin,

    "q72_unpivot" ->
      """WITH wide AS (
        | SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
        | FROM events GROUP BY user_id)
        |SELECT user_id, 'click' AS event_type, click AS n FROM wide
        |UNION ALL SELECT user_id, 'view', view FROM wide
        |UNION ALL SELECT user_id, 'purchase', purchase FROM wide
        |UNION ALL SELECT user_id, 'signup', signup FROM wide
        |UNION ALL SELECT user_id, 'error', error FROM wide""".stripMargin,

    "q67_json_props" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        | CAST(max(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,

    "q68_pivot" ->
      """SELECT user_id,
        | CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        | CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
        | CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        | CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        | CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
        |FROM events GROUP BY user_id""".stripMargin,

    "q64_range_join" ->
      """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |  FROM events),
        |p AS (SELECT event_id AS win_id, ts AS ws,
        |  ts + INTERVAL 30 MINUTE AS we FROM e WHERE event_type = 'purchase')
        |SELECT e.event_id, p.win_id
        |FROM e, p WHERE e.ts >= p.ws AND e.ts <= p.we""".stripMargin,

    "q40_sql_zip" ->
      """SELECT COALESCE(o.k, l.k) AS o_orderkey, COALESCE(o.n, 0) AS n_orders,
        | COALESCE(l.n, 0) AS n_items
        |FROM (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS n FROM orders GROUP BY 1) o
        |FULL JOIN (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS n FROM lineitem GROUP BY 1) l
        | ON o.k = l.k""".stripMargin,

    "q41_sql_create" ->
      """SELECT * FROM (VALUES (CAST(0 AS BIGINT), 'x'), (CAST(1 AS BIGINT), 'y'),
        | (CAST(2 AS BIGINT), NULL)) AS t(a, b)""".stripMargin,

    "q42_table_io" -> "SELECT * FROM nation",

    "q43_sql_save_use" -> "SELECT * FROM nation",

    "q44_sql_checkpoint" ->
      "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 100000",

    "q53_workflow" ->
      """SELECT o_orderstatus,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        | CAST(COUNT(*) AS BIGINT) AS n
        |FROM orders WHERE o_totalprice > 150000 GROUP BY o_orderstatus""".stripMargin,

    "q51_sql_functions" -> "SELECT CAST(1 AS BIGINT) AS fns_ok",

    "q59_stream_static_join" ->
      """SELECT e.event_id, e.event_type, d.category
        |FROM events e LEFT JOIN (VALUES
        |  ('click', 'engagement'), ('view', 'engagement'),
        |  ('purchase', 'revenue'), ('error', 'ops')) AS d(event_type, category)
        |ON e.event_type = d.event_type""".stripMargin,

    "q78_weighted_sample" -> "SELECT CAST(1 AS BIGINT) AS sample_ok",

    "q79_join_size" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS join_size
        |FROM events a JOIN events b ON a.user_id = b.user_id""".stripMargin,

    "q80_upsert" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice,
        |  o_orderstatus FROM orders),
        |changes AS (
        | SELECT CASE WHEN o_orderkey % 10 = 3 THEN o_orderkey + 10000000
        |   ELSE o_orderkey END AS o_orderkey,
        |  o_custkey, o_totalprice + 1000.0 AS o_totalprice,
        |  'X' AS o_orderstatus,
        |  CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op
        | FROM base WHERE o_orderkey % 10 <= 3)
        |SELECT b.o_orderkey, b.o_custkey, b.o_totalprice, b.o_orderstatus
        |FROM base b LEFT JOIN changes c ON b.o_orderkey = c.o_orderkey
        |WHERE c.op IS NULL
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |FROM changes WHERE op <> 'D'""".stripMargin,

    "q81_heavy_hitters" ->
      """WITH words AS (
        | SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS w
        | FROM documents
        | WHERE length(regexp_replace(text, '\s', '', 'g')) > 0),
        |counts AS (SELECT lang, w, count(*) AS cnt FROM words GROUP BY 1, 2),
        |ranked AS (SELECT lang, w, cnt,
        |  row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, w) AS rk
        | FROM counts)
        |SELECT c.lang, CAST(sum(c.cnt) AS BIGINT) AS n_words,
        | max(CASE WHEN r.rk = 1 THEN r.w END) AS top_w,
        | CAST(max(c.cnt) AS BIGINT) AS top_cnt,
        | CAST(0 AS BIGINT) AS missed, CAST(0 AS BIGINT) AS violations,
        | TRUE AS n_consistent
        |FROM counts c LEFT JOIN ranked r ON c.lang = r.lang AND c.w = r.w
        |GROUP BY 1""".stripMargin,

    "q82_cms" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
        | TRUE AS over_ok, TRUE AS merge_agrees
        |FROM events WHERE event_type IS NOT NULL
        |GROUP BY 1""".stripMargin,

    "q37x_sketch_error" -> "SELECT CAST(1 AS BIGINT) AS sketch_ok",

    // sketch differentials: booleans the Spark side must hit; n_keys is
    // the one externally-checkable value (distinct group count)
    "q73_sketch_merge" ->
      """SELECT CAST(1 AS BIGINT) AS merge_agrees, CAST(1 AS BIGINT) AS bound_ok,
        | (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) FROM events) AS n_keys""".stripMargin,

    "q74_quantile_sketch" ->
      """SELECT CAST(1 AS BIGINT) AS quantile_ok,
        | (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) FROM events) AS n_keys""".stripMargin,

    "q75_stream_sketch" ->
      """SELECT CAST(1 AS BIGINT) AS merge_agrees, CAST(1 AS BIGINT) AS multi_batch,
        | (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) FROM events) AS n_keys""".stripMargin,

    "q83_stream_heavy_hitters" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS missed, CAST(0 AS BIGINT) AS violations,
        | TRUE AS n_consistent, TRUE AS multi_batch
        |FROM events GROUP BY 1""".stripMargin,

    "q84_stream_ingest_dedup" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        | TRUE AS survivors_clean, TRUE AS dropped_covered
        |FROM documents""".stripMargin,

    "q85_schema_evolution" ->
      """SELECT coalesce(CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END,
        |  '<v1>') AS o_orderstatus,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1""".stripMargin,

    "q86_compact" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |FROM orders""".stripMargin,

    "q87_sql_template" ->
      """SELECT r_regionkey, r_name FROM region
        |WHERE r_name IN ('ASIA', 'EUROPE', 'AFRICA') AND r_regionkey >= 1""".stripMargin,

    "q87b_sql_template_set" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name
        |FROM nation WHERE n_nationkey >= 5 AND n_nationkey < 10""".stripMargin,

    // the fully-expanded static render of q120's template
    "q120_template_advanced" ->
      """SELECT o_orderpriority,
        | CAST(sum(CASE WHEN o_totalprice >= 100000 AND o_totalprice < 200000
        |   THEN 1 ELSE 0 END) AS BIGINT) AS band_100000,
        | CAST(sum(CASE WHEN o_totalprice >= 300000 AND o_totalprice < 400000
        |   THEN 1 ELSE 0 END) AS BIGINT) AS band_300000,
        | CAST(sum(CASE WHEN o_totalprice >= 0 AND o_totalprice < 50000
        |   THEN 1 ELSE 0 END) AS BIGINT) AS band_0,
        | CAST(2 AS BIGINT) AS n_bands,
        | CAST(count(*) AS BIGINT) AS n
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q106_merge_intervals" ->
      """WITH iv AS (
        | SELECT user_id,
        |  CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS s,
        |  CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) + 1800 AS e
        | FROM events),
        |m AS (SELECT user_id, s, e,
        |  max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
        | FROM iv),
        |g AS (SELECT user_id, s, e,
        |  sum(CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        | FROM m)
        |SELECT user_id, min(s) AS start_s, max(e) AS end_s,
        | CAST(count(*) AS BIGINT) AS n_merged
        |FROM g GROUP BY user_id, grp""".stripMargin,

    "q107_rank_normalize" ->
      """WITH r AS (
        | SELECT doc_id, n_chars,
        |  row_number() OVER (ORDER BY n_chars, doc_id) AS rn,
        |  count(*) OVER () AS n
        | FROM documents)
        |SELECT doc_id, n_chars,
        | (CAST(rn AS DOUBLE) - 0.5) / CAST(n AS DOUBLE) AS quantile
        |FROM r""".stripMargin,

    "q108_ks_drift" ->
      """WITH b AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
        |  WHERE doc_id % 2 = 0),
        |a AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
        |  WHERE doc_id % 2 <> 0),
        |p AS (SELECT least((SELECT min(v) FROM b), (SELECT min(v) FROM a)) AS mn,
        |  greatest((SELECT max(v) FROM b), (SELECT max(v) FROM a)) AS mx),
        |pp AS (SELECT mn,
        |  CASE WHEN mx <= mn THEN CAST(1.0 AS DOUBLE) ELSE (mx - mn) / 20 END AS w,
        |  CASE WHEN mx <= mn THEN 1 ELSE 20 END AS nb FROM p),
        |bb AS (SELECT CAST(greatest(0, least(CAST(floor((v - pp.mn) / pp.w)
        |    AS BIGINT), CAST(pp.nb - 1 AS BIGINT))) AS INTEGER) AS bucket,
        |   count(*) AS n FROM b, pp GROUP BY 1),
        |ab AS (SELECT CAST(greatest(0, least(CAST(floor((v - pp.mn) / pp.w)
        |    AS BIGINT), CAST(pp.nb - 1 AS BIGINT))) AS INTEGER) AS bucket,
        |   count(*) AS n FROM a, pp GROUP BY 1),
        |f AS (SELECT CAST(range AS INTEGER) AS bucket FROM range(20)
        |  WHERE range < (SELECT nb FROM pp)),
        |t AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM b) AS tb,
        |  (SELECT CAST(count(*) AS DOUBLE) FROM a) AS ta),
        |c AS (SELECT f.bucket, COALESCE(bb.n, 0) AS cb, COALESCE(ab.n, 0) AS ca
        | FROM f LEFT JOIN bb USING (bucket) LEFT JOIN ab USING (bucket)),
        |cum AS (SELECT bucket,
        |  sum(cb) OVER (ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS accb,
        |  sum(ca) OVER (ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS acca
        | FROM c),
        |d AS (SELECT max(abs(CAST(acca AS DOUBLE) / ta
        |   - CAST(accb AS DOUBLE) / tb)) AS ks FROM cum, t)
        |SELECT CAST(tb AS BIGINT) AS n_before, CAST(ta AS BIGINT) AS n_after,
        | round(ks, 9) AS ks_d,
        | round(CAST(1.3581 AS DOUBLE) * sqrt((tb + ta) / (tb * ta)), 9)
        |   AS critical_95,
        | round(ks, 9) > round(CAST(1.3581 AS DOUBLE)
        |   * sqrt((tb + ta) / (tb * ta)), 9) AS drifted
        |FROM d, t""".stripMargin,

    "q96_resample" ->
      """SELECT event_type,
        |  CAST(to_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 900)
        |    AS BIGINT) * 900) AS TIMESTAMP) AS bucket_start,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q97_rolling" ->
      """SELECT event_id, user_id,
        |  CAST(count(*) OVER w AS BIGINT) AS n_1h,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS total_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
        |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q93_sql_quality" ->
      """SELECT 'not_null' AS "constraint", 'o_orderkey' AS "column",
        | CAST(count(*) - count(o_orderkey) AS DOUBLE) AS metric,
        | count(*) = count(o_orderkey) AS passed FROM orders
        |UNION ALL SELECT 'unique', 'o_orderkey',
        | CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS DOUBLE),
        | count(o_orderkey) = count(DISTINCT o_orderkey) FROM orders
        |UNION ALL SELECT 'in_set>=1.0', 'o_orderstatus',
        | round(CAST(count(CASE WHEN o_orderstatus IN ('F','O','P') THEN 1 END)
        |   AS DOUBLE) / count(o_orderstatus), 9),
        | round(CAST(count(CASE WHEN o_orderstatus IN ('F','O','P') THEN 1 END)
        |   AS DOUBLE) / count(o_orderstatus), 9) >= 1.0 FROM orders
        |UNION ALL SELECT 'distinct[1,5]', 'o_orderstatus',
        | CAST(count(DISTINCT o_orderstatus) AS DOUBLE),
        | count(DISTINCT o_orderstatus) BETWEEN 1 AND 5 FROM orders
        |UNION ALL SELECT 'min>=0.0', 'o_totalprice',
        | CAST(min(o_totalprice) AS DOUBLE), min(o_totalprice) >= 0.0
        | FROM orders""".stripMargin,

    "q76_zorder_layout" ->
      "SELECT event_id, user_id, value FROM events",

    "q77_stream_session" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |marked AS (
        | SELECT user_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |    OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        | SELECT user_id, ts,
        |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        | FROM marked)
        |SELECT user_id, min(ts) AS session_start,
        | CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM sess GROUP BY user_id, sid""".stripMargin,

    "q60_sql_curation" -> SqlCurationOracle,

    "q61_stream_curation" -> SqlCurationOracle,

    "q69_row_index" ->
      """SELECT o_orderkey, o_totalprice,
        | CAST(row_number() OVER (ORDER BY o_orderkey) - 1 AS BIGINT) AS row_index
        |FROM orders""".stripMargin,

    "q66_profile" ->
      """WITH p AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |  o_orderpriority FROM orders)
        |SELECT 'o_orderkey' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_nulls,
        | CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
        | CAST(min(o_orderkey) AS VARCHAR) AS min_value,
        | CAST(max(o_orderkey) AS VARCHAR) AS max_value FROM p
        |UNION ALL
        |SELECT 'o_custkey', CAST(count(*) AS BIGINT),
        | CAST(count(*) - count(o_custkey) AS BIGINT),
        | CAST(count(DISTINCT o_custkey) AS BIGINT),
        | CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR) FROM p
        |UNION ALL
        |SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
        | CAST(count(*) - count(o_orderstatus) AS BIGINT),
        | CAST(count(DISTINCT o_orderstatus) AS BIGINT),
        | min(o_orderstatus), max(o_orderstatus) FROM p
        |UNION ALL
        |SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
        | CAST(count(*) - count(o_orderpriority) AS BIGINT),
        | CAST(count(DISTINCT o_orderpriority) AS BIGINT),
        | min(o_orderpriority), max(o_orderpriority) FROM p""".stripMargin,

    "q63_group_split" -> "SELECT CAST(1 AS BIGINT) AS split_ok",

    "q62_bloom_semi" ->
      """SELECT l.l_orderkey, l.l_linenumber, l.l_quantity
        |FROM lineitem l
        |WHERE EXISTS (SELECT 1 FROM orders o
        | WHERE o.o_orderkey = l.l_orderkey AND o.o_totalprice > 450000)""".stripMargin,

    "q32_rollup" -> SqlRollup,

    "q70_window_suite" -> SqlWindowSuite,

    "q71_cube" -> SqlCube,

    "q33_running_window" -> SqlRunning,

    "q34_exists_subquery" -> SqlExists,

    "q35_string_date_fns" -> SqlStringDate,

    "q36_case_in" -> SqlCaseIn,

    "q55_percentile" -> SqlPercentile,

    "q56_ntile" -> SqlNtile)
}
