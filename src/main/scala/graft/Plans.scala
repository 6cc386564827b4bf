package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SimpleMode}
import org.apache.spark.sql.functions.col

/** Plan evidence, one tool over one session: the bench's
  * (`GraftSession.builder()` defaults, 64 MB broadcast threshold), so
  * the plans shown are the plans the measured numbers come from, on
  * SPARK_GRAFT_SF_DIR (default sf0.1, the bench scale: AQE's
  * broadcast/skew decisions can differ at 10x). Run after plan-affecting
  * changes.
  *
  *  - `sbt "runMain graft.Plans inventory"` writes PLANS.md in the working
  *    directory: representative plans with their scale-relevant
  *    observations, three special sections, and the adjudicated PlanLint
  *    inventory of every conformance query.
  *  - `sbt "runMain graft.Plans dump <round> <suffix> [q1,q2,...]"` writes
  *    `explain("formatted")` for every benchmarked query (14 headline + 22
  *    h-suite), or the named subset, to `plans/<round>/<query>_<suffix>.txt`.
  */
object Plans {
  /** The queries to dump. Default: the timed surface; an explicit
    * comma-separated subset may name ANY declared query (plan evidence for
    * untimed operators, e.g. s06's salted pairs), and a name that is not
    * declared fails the run instead of being skipped. */
  def queryNames(subset: Option[String]): Seq[String] = subset match {
    case Some(list) => SparkEntry.queryNames(list)
    case None =>
      SparkEntry.benchQueries ++ TpchSuite.sql.keys.toSeq.sorted.map(n => s"${n}_tpch")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // arguments and query names are checked before Spark starts
    val run: SparkSession => Unit = args.toSeq match {
      case Seq("inventory") => inventory(_, sfDir)
      case Seq("dump", round, suffix, subset @ _*) if subset.size <= 1 =>
        val names = queryNames(subset.headOption)
        dump(_, sfDir, Paths.get("plans", round), suffix, names)
      case _ => throw new IllegalArgumentException(
        "usage: Plans inventory | Plans dump <roundDir> <suffix> [q1,q2,...]")
    }
    val spark = GraftSession.builder()
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // plan-inspection mode: operators that terminally localCheckpoint
    // their result (funnel, retention) return the real chain instead of a
    // Scan ExistingRDD, so the dumps AND the PlanLint inventory see the
    // actual exchanges/windows. The deferred mode leaks each op's
    // once-scanned base by design — clearState frees the blocks between
    // queries.
    spark.conf.set(Materialize.DeferConf, "true")
    try run(spark) finally spark.stop()
  }

  private def clearState(spark: SparkSession): Unit = {
    graft.functions.Dedup.clearSignatureCache()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  private def dump(spark: SparkSession, sfDir: String, outDir: Path,
      suffix: String, names: Seq[String]): Unit = {
    Files.createDirectories(outDir)
    for (name <- names) {
      try {
        val plan = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(FormattedMode)
        Files.write(outDir.resolve(s"${name}_$suffix.txt"),
          plan.getBytes(StandardCharsets.UTF_8))
        println(s"PLANDUMP OK $name")
      } catch { case t: Throwable =>
        println(s"PLANDUMP ERROR $name: ${t.getClass.getSimpleName}: ${t.getMessage}")
      }
      clearState(spark)
    }
  }

  /** PLANS.md's representative queries, in document order, each with the
    * scale-relevant observation its plan shows. */
  private val sections: Seq[(String, String)] = Seq(
    "q02_filter" -> "Both predicates reach the parquet scan (PushedFilters); no Spark-side filter work beyond the codegen'd residual.",
    "q01_agg" -> "Column pruning (5 of 11 lineitem columns read) + map-side partial aggregation; exactly one exchange.",
    "q06_join_inner" -> "Catalyst/AQE picks BroadcastHashJoin, building on the (small) customer side - the fact table never shuffles.",
    "q20_take_per_key" -> "Spark 4 WindowGroupLimit runs BEFORE the exchange: each map task keeps only its local top-3 per user, so the shuffle moves O(keys x 3) rows, not the full table.",
    "d01_dedup_exact" -> "Same rank-limit pushdown applies to the dedup window: partial WindowGroupLimit before the exchange.",
    "s01_knn_brute" -> "Query vectors broadcast; corpus scanned once; scored rows flow into a windowed top-k per query.",
    "s02_knn_lsh" -> "Candidate generation and the pair-distinct carry ONLY (query_id, neighbor_id) - grep the exchanges: no cv/qv vector columns move before scoring. Vectors re-join after the distinct (corpus by id, queries broadcast).",
    "d05_dedup_embed" -> "Scale path by default: multi-probe hyperplane LSH bucketing; the banded exchange carries (id, 8-byte bucket key), never embeddings; exact cosine verification joins vectors per candidate pair only.",
    "t12_lm_score" -> "Self-trained unigram LM: the 'model' is one hash aggregate (vocab) with map-side partial counts; the corpus total is a broadcast single-row join (no driver action); scoring joins the exploded token stream to vocab (AQE broadcasts small vocabularies) and the per-document log-prob sum is a decimal partial aggregate - exact and order-independent.",
    "q62_bloom_semi" -> "The bloom_might_contain predicate evaluates INSIDE the lineitem scan's WholeStageCodegen span (a codegen'd Filter directly over the FileScan), so probe rows drop before any exchange; the exact semi-join after it only sees (matches + fpp*misses) rows. Composition stays exactly the semi-join.",
    "d12_fuzzy_join" -> "Deletion-neighborhood blocking: the self-join exchange carries (8-byte variant hash, id, short string); candidate pairs distinct BEFORE the levenshtein verify; skewed variant keys split by AQE skew-join handling.",
    "q64_range_join" -> "The range predicate compiles to an EQUI-join on the bin key (grep: SortMergeJoin/ShuffledHashJoin keyed on __bin, not BroadcastNestedLoopJoin) with the exact containment check as a post-join filter; a bare non-equi join here would be a nested-loop over every (event, window) pair.",
    "d13_segment_dedup" -> "Winner election per segment value: WindowGroupLimit keeps one candidate per (map partition, segment) BEFORE the exchange, so a segment duplicated across the corpus ships once per map task; reassembly is a single id-keyed aggregation.",
    "t20_pack_sequences" -> "Distributed prefix sum: the id range-partitioning materializes inside the eager localCheckpoint; the downstream plan's cumulative window partitions by __pid and the final exchange hashes on example id - grep: no SinglePartition exchange and no Window with an empty partition spec anywhere, so the global-offset step never funnels the corpus into one partition.",
    "q89_quality_checks" -> "All 11 constraints compile into ONE aggregation over the scan (grep: a single HashAggregate pair per distinct-aggregate group; the two exact count_distinct constraints add the documented Expand branch). The report rows are generated in-plan from the agg row - no driver collect anywhere.",
    "q92_snapshot_diff" -> "hashOnly mode: both sides project to (key, xxhash64) BEFORE the full-outer SortMergeJoin - grep the exchanges: the only payload column moving is an 8-byte long, never o_totalprice or wider rows.",
    "q90_outliers" -> "Group stats via one partial-aggregated groupBy joined back on the key (AQE broadcasts the 3-row stats side); grep: no Window operator anywhere - the gate never sorts within groups.",
    "t35_bm25" -> "Posting frame aggregated once with map-side partials; the bounded query side broadcasts into the posting join (grep: BroadcastHashJoin on __tok with qt as the build side); per-query top-k runs behind WindowGroupLimit so k rows per query cross the last exchange, never the full score list.",
    "q110_funnel" -> "Greedy funnel: k-1 rounds of user-keyed conditional-min hash aggregate + join over a once-checkpointed (user, epoch, event) projection - every exchange is user-keyed and user-table-sized; grep: no Window operator, no sort.",
    "q110b_funnel_restart" -> "Re-entry funnel: the identical chain keyed by (user, anchor) - the attempt table is step-1-event-sized, exchanges stay user-co-partitioned; the best-attempt pick is a per-user row_number whose WindowGroupLimit keeps one local winner per map task BEFORE the exchange.",
    "q111_retention" -> "Distinct (user, period) -> user-keyed first-activity min -> join -> (cohort, offset) count: all hash exchanges on bounded keys, map-side partials everywhere; the report frame is cohortsxoffsets sized.",
    "q112_triangles" -> "Degree-ordered wedge counting: edges oriented low-degree->high before the wedge self-join, so hub skew cannot explode the join (O(m^1.5) wedges regardless of degree distribution); grep: the join keys are oriented edge endpoints, no cartesian anywhere.",
    "q113_ppr" -> "Personalized PageRank: edges normalized+checkpointed ONCE, each iteration joins the node-table-sized rank frame to edges and re-aggregates - per-iteration lineage is freed (localCheckpoint) so the plan never grows with iteration count.",
    "q114_clustering_coeff" -> "Exact per-node triangle counts via the q112 oriented wedge join, then one degree join - the division is scalar arithmetic in-plan; no global window, no driver loop.",
    "t36_trigram_ce" -> "Trigram/bigram/unigram count tables are vocabulary-sized hash aggregates with map-side partials; the scoring join streams the corpus triple stream against them (AQE broadcasts small count tables); the (N, V) pair rides a one-row broadcast.",
    "t37_link_graph" -> "Anchor extraction is a narrow codegen'd regexp chain per row; edge aggregation is one (src, dst) hash aggregate with partials - no shuffle before the aggregate's own exchange.",
    "t38_gopher_rules" -> "All Gopher metrics and rule verdicts compute in ONE codegen'd projection over the scan (array/string ops, no UDF, no shuffle, no aggregate) - the whole bundle is map-only.",
    "t39_c4_clean" -> "Line-level C4 cleanup is a pure per-row array pipeline (split -> filter -> rejoin) in whole-stage codegen; map-only, no exchange.",
    "q115_connected_components" -> "Hash-min + pointer-jumping CC: every iteration is a node-keyed join + min-aggregate (O(log n) rounds); per-round localCheckpoint caps lineage so the plan below - ONE round's chain under the inspection conf - is also the per-iteration cost model: exchanges keyed on node id only, no global window, no driver-side graph.",
    "m13_mp4_demux" -> "Progressive-MP4 demux is a NARROW mapPartitions over the payload column - grep: no Exchange anywhere before the dump's own sink; the per-sample byte probes (conv/hex/substring) stay inside the WholeStageCodegen projection over the demux output.",
    "m14_fmp4_demux" -> "Fragmented-MP4 (moof/tfhd/trun) demux: the identical narrow shape as m13 - per-row box walk in mapPartitions, zero exchanges; at cluster scale this is the ranged-read slicing step before decode fan-out, so shuffle-freedom here is the point.",
    "m18_ogg_pages" -> "Ogg page walk (RFC 3533, CRC-verified): the same narrow mapPartitions shape as the m13/m14/m16 container walks - zero exchanges, per-row linear; the page table is the ranged-read index an audio-ingest pipeline builds before decode fan-out.",
    "m19_ogg_packets" -> "Ogg packet reassembly (cross-page lacing continuation): still a narrow per-row mapPartitions - the per-serial partial-packet state lives inside one row's walk, never across rows, so zero exchanges and linear cost hold exactly as for the page census.",
    "m20_audio_meta" -> "Ogg identification-header decode (OpusHead / Vorbis id): one reassembled packet per row, narrow map, zero exchanges - the typed-metadata projection a 100 TB audio column gets before any per-sample work.",
    "m21_id3_tags" -> "ID3v2 text-frame extraction: header-only reads per row in a narrow map, zero exchanges - tag metadata lands as rows without touching the MPEG stream bytes behind the tag.",
    "m22_flac_info" -> "FLAC STREAMINFO decode: one bit-packed 34-byte block per row in a narrow map, zero exchanges - the cheapest possible typed-metadata projection over a lossless-audio column.",
    "m23_ogg_muxed" -> "Multiplexed (two-serial) Ogg reassembly: the per-serial partial-packet state is still INSIDE one row's walk (a mapPartitions over payloads), so interleaved streams add hash-map entries per row, not exchanges - the plan is identical in shape to m19's single-stream walk: narrow, zero exchanges.",
    "m24_ogg_comments" -> "VorbisComment/OpusTags extraction: packet-2 decode over the reassembled packets of the same narrow per-row walk - the tag-metadata projection (vendor + KEY=value rows) lands with zero exchanges, exactly like m21's ID3 walk on the MP3 side.",
    "m28_riff_tags" -> "RIFF LIST/INFO tag extraction: the same narrow per-row mapPartitions shape as every container walk - zero exchanges; chunk striding (incl. the odd-size pad rule) happens inside one row's walk.",
    "m29_image_meta" -> "Image HEADER census (JPEG SOF/EXIF, PNG, GIF, BMP, WebP, TIFF): narrow map, zero exchanges, O(header) bytes per row - the dims pass that makes pixel-decode fan-out optional downstream; at 100 TB this is the difference between a census and a cluster-month.",
    "m30_mkv_tracks" -> "Matroska/WebM EBML walk: per-row element-tree stride (Clusters skipped by size) in a narrow map, zero exchanges - the video-lake census reads kilobytes of metadata out of gigabyte files.",
    "m31_zip_entries" -> "ZIP central-directory walk: EOCD back-scan + CD decode per row, narrow map, zero exchanges, nothing inflated - the archive manifest pass before any member extraction fan-out.",
    "m32_zstd_frames" -> "zstd frame census: block headers stride the compressed stream per row - narrow map, zero exchanges, zero decompression; expanded-size accounting for a compressed lake without paying for decode.",
    "m33_id3v1_tags" -> "ID3v1 trailing-tag extraction: a 128-byte read per row in a narrow map, zero exchanges - the legacy half of the MP3 tag census next to m21's ID3v2 walk.",
    "m34_gzip_members" -> "Gzip member walk: the one walker that must inflate (deflate has no length field), still a narrow per-row mapPartitions with zero exchanges - the streaming 16 KiB buffer keeps memory O(1) per row regardless of member size, so the .warc.gz record-locator scales out linearly.",
    "m35_avro_blocks" -> "Avro OCF block census: header + block-header reads in a narrow map, zero exchanges; block payloads are strided whether null/deflate/snappy-coded, so the census cost is independent of the codec.",
    "m36_png_text" -> "PNG text-chunk extraction: chunk walk + CRC verification per row in one mapPartitions, zero exchanges; the only non-header work is inflating the (small, capped) compressed text chunks themselves.",
    "m37_parquet_footer" -> "Parquet footer census: the plan is a binaryFile scan into a narrow footer-parse map, then two ordinary hash aggregates over per-file rows - at lake scale the scan reads whole files here only because the conformance fixture is small; the production shape pairs the same parser with a tail-range read.",
    "m38_exif_gps" -> "EXIF deep walk: IFD0->Exif->GPS chain reads in a narrow map, zero exchanges - the photo-provenance projection (time, dims, lat/lon) lands as plain columns for downstream geo/time filters to push against.",
    "t40_url_canon" -> "URL canonicalization: pure per-row string work in one mapPartitions - zero exchanges; the downstream exact dedup shuffles on the canonical key, so normalization adds no data movement of its own.",
    "t41_subtitle_cues" -> "SRT/WebVTT cue extraction: per-row line parsing in one mapPartitions, zero exchanges - cue rows land keyed by (doc, time) for alignment joins against the m13/m30 sample tables downstream.",
    "t42_robots_rules" -> "robots.txt parse: per-row line parsing in one mapPartitions, zero exchanges - the output is the small, broadcastable rule side of the enforcement join.",
    "t42x_robots_filter" -> "The enforcement join in its 100 TB shape: the robots side collapses to a driver-parsed broadcast (one bounded collect of per-host files), and the URL stream gains its allowed verdict in a narrow map - grep the plan: no exchange anywhere on the crawl side.",
    "t43_eml_headers" -> "EML header extraction: per-row unfold + RFC 2047 decode in one mapPartitions, zero exchanges.",
    "t44_json_shape" -> "JSON shape census: Jackson-streaming (key,type) emission is a narrow map; the census aggregation is an ordinary partial-agg GROUP BY - exactly one exchange, carrying (key,type,count) partials, never documents.",
    "s14_hybrid_rrf" -> "Hybrid RRF fusion: both retrieval stages keep their adjudicated shapes (bm25's broadcast query side + WindowGroupLimit top-k; brute ANN's broadcast bounded query side); the fusion itself unions two ALREADY top-k'd (query, rank, id) frames - one hash aggregate on (query, id) and a per-query WindowGroupLimit, so only bounded ranked rows ever shuffle.",
    "s15x_margin_approx" -> "Margin-mining scale-path verdict: the EXACT leg keeps s15's adjudicated brute shape (broadcast query sides - the declared baseline); the APPROX leg routes both kNN directions through annJoin - grep its subtree: shuffled equi-joins on the 8-byte LSH bucket key and id-only exchanges, NO BroadcastNestedLoopJoin and NO CartesianProduct anywhere on that path (the dedicated section below dumps the approx plan alone). The agreement tail collapses to one row.",
    "q117_odd_columns" -> "Odd column names (spaces, keywords, unicode, '*') through the dialect: the LOAD-projected scan's ReadSchema carries the quoted names as-is and the plan is scan+project only - name mangling would show as a Project alias layer.",
    "m39_parquet_chunks" -> "Parquet column-chunk census: per-file thrift walk in a narrow map; the gate aggregate groups on (path, ptype) - a bounded-key shuffle (#columns keys), so the stats envelope costs one tiny exchange however many files the lake holds.",
    "m40_warcgz_locate" -> "warc.gz record-locator composition: member walk + per-locator re-extraction are ONE narrow map over the file bytes; the agreement join against the whole-file parse shuffles only (uri, type, length, md5) - never payloads.",
    "m41_census_agreement" -> "Format-dispatch agreement census: sniff + own-walker + foreign-walker verdicts in one narrow map, then a <=16-key hash aggregate - the cheapest possible shuffle shape for a corpus-wide dispatch audit.",
    "m42_zip_extract" -> "ZIP extraction by locator: census + extractEntryAt run against the in-hand payload in one narrow map, zero exchanges - on a lake the same locator tuple drives a ranged GET instead.",
    "m43_orc_tail" -> "ORC tail census: the walk itself is a narrow map over file bytes; the query's verdict is a per-codec bounded aggregate collected eagerly so the temp dataset can be deleted before returning.",
    "m44_targz_entries" -> "tar.gz census: gzip locator extraction + checksum-verified ustar walk composed per row, zero exchanges; the decoded tar materializes per document (column-census boundary - file-scale shards stream through loadTarShards).",
    "m45_tfrecord" -> "TFRecord census: both masked CRC-32Cs verified in a single forward walk, narrow map, zero exchanges - every byte is read exactly once, through the CRC.",
    "m46_xz_blocks" -> "XZ census: footer->index->block-header walk reads ~1% of stream bytes (no LZMA2 decode), narrow map, zero exchanges - uncompressed lake capacity from metadata alone.",
    "t45_mime_parts" -> "MIME body census: depth-bounded multipart recursion with decoded-size accounting per row, no payload retention, narrow map, zero exchanges.",
    "t46_sitemap" -> "Sitemap census: bounded protocol-grammar walk per row (no generic XML stack), narrow map, zero exchanges - pairs with the broadcast robots rules for a zero-shuffle politeness layer.",
    "t47_csv_sniff" -> "CSV dialect census: 4 candidate parses over a 16-line sample + one whole-document consistency pass per row, narrow map, zero exchanges.",
    "m47_tfrecord_gz" -> "tfrecord.gz census: gzip members located and re-extracted through the verified locator path, then the masked-CRC32C record walk - all in one narrow map, zero exchanges.",
    "m48_parquet_pageindex" -> "Page-index census: ColumnIndex/OffsetIndex/bloom-header reads are O(index bytes) per file in a narrow map; the verdict aggregate is bounded by (path, type) keys.",
    "m49_avro_extract" -> "Avro block extraction by locator: every block header re-read against its census row, per-codec decode + CRC/sync verification, one narrow pass, zero exchanges.",
    "t48_sitemap_gz" -> "sitemap.xml.gz walk: gzip locator extraction, strict UTF-8, then the sitemap grammar walk - one narrow map, zero exchanges.",
    "m50_parquet_pages" -> "Data-page VALUE decode: the page-skip read is a narrow map over located byte ranges (OffsetIndex locators re-validated per page); the five writer-variant frames union and materialize via localCheckpoint so the temp write is deletable - no exchange anywhere on the decode path.",
    "m51_orc_stripes" -> "Stripe-footer census: narrow map over file tails (O(tail + footerLength) per file, zero stream bytes); the per-codec verdict is a bounded aggregate collected eagerly so the temp dataset can be deleted.",
    "m52_mkv_cues" -> "Cues census + locator replay: one narrow map per file - the replay seeks only the addressed cluster's header bytes, never the frame data.",
    "m53_orc_values" -> "ORC data-stream VALUE decode: stripe footers locate the streams, RLEv2/present/dictionary decode is a narrow map per file; the five codec frames union and materialize via localCheckpoint - no exchange on the decode path.",
    "t49_robots_sitemap" -> "The fetched-sitemap dimension is bounded by the URL universe, not the crawl - parsed once and explicitly broadcast; the crawl side stays a narrow map + one BroadcastHashJoin, zero big-side shuffles.")

  private def inventory(spark: SparkSession, dir: String): Unit = {
    def explain(df: org.apache.spark.sql.DataFrame, lines: Int): String =
      df.queryExecution.explainString(SimpleMode).split("\n").take(lines).mkString("\n")
    val sb = new StringBuilder
    sb ++= "# PLANS - physical-plan evidence for scale-critical queries\n\n"
    sb ++= s"Generated by `sbt \"runMain graft.Plans inventory\"` at $dir with AQE on.\n"
    for ((q, note) <- sections) {
      sb ++= s"\n## $q\n\n$note\n\n```\n${explain(SparkEntry.queries(q)(spark, dir), 30)}\n```\n"
      clearState(spark)
    }

    // partitioned-write → partition-pruning demo, in a temp dir deleted
    // afterwards
    val pdir = Files.createTempDirectory("graft_plans_")
    val prunedPlan = try {
      val part = s"$pdir/part"
      spark.read.parquet(s"$dir/part.parquet").write.partitionBy("p_brand").parquet(part)
      explain(spark.read.parquet(part).filter(col("p_brand") === "Brand#1"), 8)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(pdir.toFile)
    sb ++= "\n## partition pruning (partitioned write -> filtered scan)\n\n" +
      "Writing with partitionBy(p_brand) then filtering on the partition " +
      "column prunes at the directory level: PartitionFilters carries the " +
      "predicate and only matching partitions are listed/read.\n\n" +
      s"```\n$prunedPlan\n```\n"

    // m12 pre-sink exchange: the tar export's data movement, dumped from
    // the exposed pre-sink frame (the sink itself is a per-partition tar
    // writer over this exact frame)
    val preSink = graft.operators.Layout.tarExportPreSink(
      spark.read.parquet(s"$dir/documents.parquet")
        .selectExpr("doc_id", "text",
          "encode(coalesce(text, ''), 'UTF-8') AS img"),
      "doc_id", Seq("text" -> "txt", "img" -> "bin"), nShards = 8)
    sb ++= "\n## m12 tar-shard export (pre-sink exchange)\n\n" +
      "Exactly ONE hash exchange, on the salt-mapped shard id (the salt " +
      "search gives identity shard->task placement through the ordinary " +
      "UnsafeRow shuffle - no RDD pair-shuffle, no range sampling), then " +
      "an INTRA-partition sort on (shard, key, ord). Grep: one Exchange " +
      "hashpartitioning, a Sort with global=false, and no second " +
      "exchange - kilobyte payload bytes move exactly once.\n\n" +
      s"```\n${explain(preSink, 14)}\n```\n"
    clearState(spark)

    // s15x approx path alone (r11 verdict #1): the annJoin-routed
    // marginMine with NOTHING broadcast-cross-joined — the count of
    // BNLJ/Cartesian operators in the plan is computed here and written
    // into the document as evidence, not asserted by prose
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val approxPlan = graft.functions.Similarity.marginMine(
      emb.filter(col("vec_id") % 2 === 0), emb.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", k = 4, minMargin = Double.NegativeInfinity,
      approx = true, nTables = 16, nBits = 8, probes = 2)
      .queryExecution.explainString(SimpleMode)
    val bnljCount = "BroadcastNestedLoopJoin".r.findAllIn(approxPlan).length
    val cartCount = "CartesianProduct".r.findAllIn(approxPlan).length
    sb ++= "\n## s15 margin mining — approx (annJoin-routed) path alone\n\n" +
      s"Operator census of the full physical plan: " +
      s"**$bnljCount BroadcastNestedLoopJoin, $cartCount CartesianProduct** " +
      "(both must be 0 — the exact leg's broadcast cross scoring is what " +
      "this path exists to avoid). Candidates pair through shuffled " +
      "equi-joins on the 8-byte LSH bucket key; every exchange before the " +
      "rescore carries ids and keys only; vectors re-join BY ID; the " +
      "margin arithmetic past the kNN lists is two bounded aggregates + " +
      "a join + a per-src window.\n\n" +
      s"```\n${approxPlan.split("\n").take(40).mkString("\n")}\n```\n"
    clearState(spark)

    // ---- adjudicated PlanLint inventory ---------------------------------
    // Every conformance query's physical plan, flagged for the four scale
    // hazards (PlanLint.flags), each (query, flag) PAIR adjudicated
    // independently: a new hazard appearing on an already-flagged query
    // renders UNADJUDICATED rather than inheriting a justification written
    // for a different flag. Anything UNADJUDICATED is a regression to fix
    // or justify.
    sb ++= "\n## PlanLint inventory (adjudicated)\n\n" +
      "Flags: CARTESIAN / BNLJ / GLOBALWINDOW (empty partition spec, " +
      "structural) / SINGLEPART — per (query, flag) pair. Every flag " +
      "below is intentional for the stated reason; anything marked " +
      "UNADJUDICATED is a regression.\n\n" +
      "| query | flag | why intentional |\n|---|---|---|\n"
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        PlanLint.flags(fn(spark, dir).queryExecution.executedPlan)
          .foreach { flag =>
            val reason = adjudication(name, flag).getOrElse("UNADJUDICATED")
            sb ++= s"| $name | $flag | $reason |\n"
          }
      } catch {
        case e: Throwable =>
          sb ++= s"| $name | ERROR ${e.getClass.getSimpleName} | UNADJUDICATED |\n"
      }
      clearState(spark)
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("PLANS written")
  }

  private val bnljish = Set("BNLJ", "CARTESIAN")

  private def adjudication(q: String, flag: String): Option[String] = {
    val limitTail = "TPC-H LIMIT/TOP-N tail or scalar subquery result - a " +
      "one-row/bounded final stage after distributed aggregation"
    val bruteAnn = "deliberately small query/eval side broadcast (bounded " +
      "by the broadcast cap); brute-force cross scoring is the declared " +
      "exact baseline, not the scale path"
    val scalarRide = "single-row corpus-total (or #domains-row plan) " +
      "broadcast-joined back - a scalar riding a BNLJ/one-partition stage " +
      "by design"
    val sketchTail = "mergeable-sketch rollup tail: partials collapse to " +
      "one row/partition after map-side combination - bounded by design"
    val verdictTail = "boolean-differential tail: the comparison collapses " +
      "to a one-row verdict - SinglePartition on O(1) rows"
    val gateRow = "single-pass gate/stats: the whole-frame aggregation " +
      "emits one row (then explodes to the report in-plan) - " +
      "SinglePartition on a single row by construction"
    // only the queries whose DESIGN is brute-force/broadcast — scale-path
    // ANN queries (s02/s04/s06..s09) must never inherit this adjudication
    val bruteForceAnn = Set("s01_knn_brute", "s03_knn_lsh_recall",
      "s05_knn_projected", "s10_semantic_decontaminate",
      "s11_hard_negatives", "m02_multimodal_ann",
      "m02x_feature_differential", "d05x_dedup_embed_exact",
      "d07_embed_lsh_recall", "d08_minhash_precision", "d15_minhash_recall",
      "s15_bitext_margin", "s15x_margin_approx")
    val scalarRiders = Set("t06_rebalance", "t12_lm_score", "t13_tfidf",
      "t16_mixture_plan", "t17_importance", "t30_bigram_ce",
      "t26_quality_model", "t35_bm25", "t36_trigram_ce")
    val sketchTails = Set("q37x_sketch_error", "q73_sketch_merge",
      "q74_quantile_sketch", "q75_stream_sketch", "q81_heavy_hitters",
      "q82_cms", "q83_stream_heavy_hitters")
    val verdictTails = Set("q57_shuffle_det", "t09_fingerprint_consistency",
      "q21x_sample_bounds", "q63_group_split", "q78_weighted_sample",
      "d09_simhash_exactness", "d10_cc_paths_agree", "d11_dedup_best",
      "m07_audio_features", "m10_image_near_dup", "m11_audio_near_dup",
      "q79_join_size", "q86_compact", "q98_export_shards", "m12_tar_shards",
      "d07_embed_lsh_recall", "d08_minhash_precision",
      "s03_knn_lsh_recall", "s05_knn_projected", "m02x_feature_differential",
      "s15x_margin_approx",
      // m37's summary row: per-file footer projections reduce to ONE
      // verdict row (O(n_files) inputs, the same bounded-tail shape)
      "m37_parquet_footer",
      "t06_rebalance", "t12_lm_score", "t13_tfidf", "t17_importance",
      "t26_quality_model", "t30_bigram_ce", "t35_bm25", "t36_trigram_ce")
    val gateRows = Set("q89_quality_checks", "q93_sql_quality",
      "q95_correlation", "q66_profile", "q94_histogram", "q109_spearman")
    (flag, q) match {
      case ("SINGLEPART", qq) if qq.startsWith("h") => Some(limitTail)
      case (f, "q12_join_cross") if bnljish(f) =>
        Some("the operator IS a cross join (reference join-type surface)")
      case (f, qq) if bnljish(f) &&
        Set("q64_range_join", "q65_interval_join")(qq) =>
        Some("long-interval escape path: intervals wider than the bin " +
          "join through an explicitly broadcast side; the main path stays equi")
      case ("GLOBALWINDOW", qq) if Set("t14_vocab", "t19_encode",
        "q116_key_skew")(qq) =>
        Some("rank window AFTER TakeOrderedAndProject truncation - the " +
          "global window sees at most maxVocab/topK rows")
      case (f, "q116_key_skew") if bnljish(f) || f == "SINGLEPART" =>
        Some("distributed top-K (TakeOrderedAndProject) + one-row " +
          "summary broadcast-joined back - bounded tail by design")
      case (f, qq) if bnljish(f) && bruteForceAnn(qq) => Some(bruteAnn)
      // s14 composes the t35 bm25 (scalar stats rider) and s01 brute-ANN
      // (bounded broadcast) sub-plans; both flags inherit those reasons
      case (f, "s14_hybrid_rrf") if bnljish(f) => Some(bruteAnn)
      case ("SINGLEPART", "s14_hybrid_rrf") => Some(scalarRide)
      case (f, qq) if bnljish(f) && scalarRiders(qq) => Some(scalarRide)
      case ("SINGLEPART", qq) if sketchTails(qq) => Some(sketchTail)
      case ("SINGLEPART", qq) if verdictTails(qq) => Some(verdictTail)
      case ("SINGLEPART", qq) if gateRows(qq) => Some(gateRow)
      case _ => None
    }
  }
}
