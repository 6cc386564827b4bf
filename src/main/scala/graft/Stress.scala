package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stress workloads at scale (figures in SCALE.md):
  * `sbt "runMain graft.Stress <name> [n]"`.
  *
  * The runner owns the session (`GraftSession.builder()` defaults), the
  * log level, the timer and `spark.stop`; each entry owns its workload,
  * its printed readout lines and its checks. Only `media` and `lake` take
  * the optional size `n`.
  */
object Stress {
  /** Wall seconds of `f`, with its result. */
  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime
    val a = f
    (a, (System.nanoTime - t0) / 1e9)
  }

  private val fixed: Map[String, SparkSession => Unit] = Map(
    "graph" -> (graph _), "layout" -> (layout _), "margin" -> (margin _),
    "pca" -> (pca _), "pq" -> (pq _), "retrieval" -> (retrieval _),
    "sketch" -> (sketch _), "skew" -> (skew _), "span" -> (span _),
    "temporal" -> (temporal _))

  private val sized: Map[String, Option[Long] => SparkSession => Unit] =
    Map("lake" -> (lake _), "media" -> (media _))

  def names: Seq[String] = (fixed.keys ++ sized.keys).toSeq.sorted

  /** The workload `args` (`<name> [n]`) names; fails on an unknown name,
    * or on a size given to an entry that takes none. */
  def resolve(args: Seq[String]): SparkSession => Unit = args match {
    case Seq(name) if fixed.contains(name) => fixed(name)
    case Seq(name) if sized.contains(name) => sized(name)(None)
    case Seq(name, n) if sized.contains(name) => sized(name)(Some(n.toLong))
    case _ => throw new IllegalArgumentException(
      s"usage: graft.Stress <name> [n] (got ${args.mkString(" ")}); " +
        s"names: ${names.mkString(", ")}; n only for ${sized.keys.toSeq.sorted.mkString(", ")}")
  }

  def main(args: Array[String]): Unit = {
    val workload = resolve(args.toSeq)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try workload(spark) finally spark.stop()
  }

  /** PageRank, triangle counting and connected components: 10M synthetic
    * edges over 1M nodes (hash-scattered multigraph with a planted hub
    * family). Readouts: wall time, mass conservation, the planted hubs
    * surfacing at the top of the ranking, and a 1M-node path closing into
    * one component within the default round budget. */
  private def graph(spark: SparkSession): Unit = {
    val nEdges = 10000000L
    val nNodes = 1000000L
    // 10% of edges point at one of 10 hub nodes; the rest scatter
    val edges = spark.range(nEdges).select(
      pmod(xxhash64(col("id"), lit(1)), lit(nNodes)).as("src"),
      when(pmod(xxhash64(col("id"), lit(2)), lit(10L)) === 0,
        pmod(xxhash64(col("id"), lit(3)), lit(10L)))
        .otherwise(pmod(xxhash64(col("id"), lit(4)), lit(nNodes))).as("dst"))
      .localCheckpoint(true)
    val ((total, top), t) = time {
      val ranks = graft.operators.Graph.pageRank(
        edges, "src", "dst", iterations = 10)
      val agg = ranks.agg(sum(col("rank"))).collect()(0).getDouble(0)
      (agg, ranks.orderBy(col("rank").desc).limit(10).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)))
    }
    val hubsOnTop = top.map(_._1).count(_ < 10)
    println(f"GRAPHSTRESS edges=$nEdges nodes=$nNodes iters=10 " +
      f"time=$t%.1f mass=$total%.6f hubs_in_top10=$hubsOnTop/10")
    // triangle counting on the same graph — the 10 hub nodes receive 10%
    // of all edges (in-degree ~100k each), exactly the skew the
    // degree-ordered orientation must absorb: hubs sort HIGHEST, so all
    // their edges point toward them and their out-degree is ~0
    val (nTri, tTri) = time {
      graft.operators.Graph.triangleCount(edges, "src", "dst")
        .agg(sum(col("triangles"))).collect()(0).getLong(0) / 3
    }
    println(f"TRIANGLESTRESS edges=$nEdges nodes=$nNodes " +
      f"time=$tTri%.1f triangles=$nTri")
    // connected components on the same hub-skewed graph: 10M random
    // edges over 1M nodes are far past the percolation threshold, so the
    // bulk collapses into one giant component in a few hash-min+jump
    // rounds — the readout is rounds-to-converge wall time and the
    // component census
    val (census, tCc) = time {
      graft.operators.Graph.connectedComponents(edges, "src", "dst")
        .groupBy(col("comp")).count()
        .agg(count(lit(1)), max(col("count"))).collect()(0)
    }
    println(f"CCSTRESS edges=$nEdges nodes=$nNodes time=$tCc%.1f " +
      f"components=${census.getLong(0)} giant=${census.getLong(1)}")
    // adversarial diameter: a single 1M-node PATH. Plain hash-min needs
    // 1M rounds (one hop per round); the pointer jump must close it
    // within the default 30-round budget — this is the O(log n) claim
    // measured, not asserted
    val chain = spark.range(999999L)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val (chainOk, tChain) = time {
      val cc = graft.operators.Graph.connectedComponents(chain, "src", "dst")
      val c = cc.agg(countDistinct(col("comp")), count(lit(1))).collect()(0)
      c.getLong(0) == 1L && c.getLong(1) == 1000000L
    }
    println(f"CCCHAINSTRESS nodes=1000000 diameter=999999 " +
      f"time=$tChain%.1f one_component=$chainOk")
  }

  /** Z-order layout: 20M uniform 2D points written as 64 files under (a)
    * Morton clustering and (b) a single-column sort, then the files a
    * selective predicate on each dimension must read (file-level min/max
    * overlap — the unit parquet skipping works in); then WebDataset tar
    * export throughput and its verify pass. */
  private def layout(spark: SparkSession): Unit = {
    import spark.implicits._
    val n = 20000000L
    val df = spark.range(n).select(
      ((col("id") * 48271L) % 10000).as("x"),
      ((col("id") * 16807L) % 10000).cast("double").as("y"))
    val base = java.nio.file.Files.createTempDirectory("graft_layout_")
    try {
      val zDir = s"$base/zorder"; val sDir = s"$base/sorted"
      val (_, tZ) = time { graft.operators.Layout.zorderBy(
        df, Seq("x", "y"), bits = 8, numPartitions = Some(64))
        .write.mode("overwrite").parquet(zDir) }
      val (_, tS) = time { df.repartitionByRange(64, col("x"))
        .sortWithinPartitions("x").write.mode("overwrite").parquet(sDir) }
      // per-file min/max, computed ONCE per layout → files each predicate
      // range cannot skip
      def stats(dir: String): Array[(Long, Long, Double, Double)] =
        new java.io.File(dir).listFiles()
          .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
          .map { f =>
            spark.read.parquet(f)
              .agg(min(col("x")), max(col("x")), min(col("y")), max(col("y")))
              .as[(Long, Long, Double, Double)].collect().head
          }
      val (lo, hi) = (5000L, 5099L)
      def xOnly(s: Array[(Long, Long, Double, Double)]) =
        s.count { case (x0, x1, _, _) => x1 >= lo && x0 <= hi }
      def yOnly(s: Array[(Long, Long, Double, Double)]) =
        s.count { case (_, _, y0, y1) => y1 >= lo && y0 <= hi }
      def both(s: Array[(Long, Long, Double, Double)]) =
        s.count { case (x0, x1, y0, y1) =>
          x1 >= lo && x0 <= hi && y1 >= lo && y0 <= hi }
      val (zs, ss) = (stats(zDir), stats(sDir))
      println(s"LAYOUTSTRESS writeZ=${tZ.round}s writeSorted=${tS.round}s " +
        s"zorder: x=${xOnly(zs)}/64 y=${yOnly(zs)}/64 both=${both(zs)}/64 " +
        s"xsort: x=${xOnly(ss)}/64 y=${yOnly(ss)}/64 both=${both(ss)}/64")
      // WebDataset tar export throughput: 2M samples x ~1 KB payload into
      // 64 shards (~32 MB each), then the verify pass (full re-read + CRC).
      // The per-task write is streaming, so the cost model is bytes out,
      // not samples held
      val payload = "x" * 1000
      val docs = spark.range(2000000L).select(col("id"),
        concat(lit(payload), col("id").cast("string")).as("text"))
      val tarDir = s"$base/tar"
      val (manifest, tT) = time { graft.operators.Layout.exportTarShards(
        docs, tarDir, "id", Seq("text" -> "txt"), nShards = 64) }
      val bytes = new java.io.File(tarDir).listFiles()
        .filter(_.getName.endsWith(".tar")).map(_.length()).sum
      val (_, tV) = time {
        require(graft.operators.Layout.verifyTarShards(spark, tarDir).isEmpty)
      }
      println(f"TARSTRESS samples=${manifest.map(_._2).sum} shards=64 " +
        f"bytes=${bytes / 1e6}%.0fMB write=$tT%.1fs verify=$tV%.1fs")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  /** Margin mining, exact vs the annJoin-routed approx path, over
    * hash-generated embedding corpora. The exact leg (broadcast cross
    * scoring) runs at the sf1-gate scale (10k × 10k) where it is the
    * adjudicated baseline; the approx leg then runs at 10× that on BOTH
    * sides — the regime where the exact form's |src|·|tgt| cosine matrix
    * is no longer computable — and the printed pair-agreement at the
    * common scale keeps the speed claim honest. */
  private def margin(spark: SparkSession): Unit = {
    import graft.functions.Similarity
    val dim = 64
    // unit-scale deterministic vectors: coordinate j of row id draws from
    // xxhash64(id, j) mapped into [-1, 1] — non-degenerate, seed-free
    def corpus(n: Long, salt: Int) = {
      val vec = transform(sequence(lit(0), lit(dim - 1)),
        j => (pmod(xxhash64(col("id"), j + lit(salt)), lit(2001L))
          .cast("double") - lit(1000.0)) / lit(1000.0))
      spark.range(n).select(col("id").as("vec_id"), vec.as("embedding"))
        .localCheckpoint(true)
    }
    // common scale: exact is feasible — measure both and their agreement
    val srcS = corpus(10000, 1)
    val tgtS = corpus(10000, 2)
    // localCheckpoint inside the timed region: each leg computes ONCE
    // (the agreement join below reuses the materialized pairs)
    val (exactPairs, tExact) = time {
      Similarity.marginMine(srcS, tgtS, "vec_id", "embedding",
        k = 4, minMargin = Double.NegativeInfinity)
        .select("src_id", "tgt_id").localCheckpoint(true)
    }
    val exactRows = exactPairs.count()
    // one mined pair per src: zero means the exact leg regressed (or the
    // corpus degenerated) — fail loudly instead of printing a NaN
    // agreement line into SCALE.md
    require(exactRows > 0,
      "exact marginMine leg emitted zero pairs; agreement is undefined")
    val (approxPairsS, tApproxS) = time {
      Similarity.marginMine(srcS, tgtS, "vec_id", "embedding",
        k = 4, minMargin = Double.NegativeInfinity, approx = true,
        nTables = 16, nBits = 10, probes = 2)
        .select("src_id", "tgt_id").localCheckpoint(true)
    }
    val approxRowsS = approxPairsS.count()
    val agree = exactPairs.join(approxPairsS, Seq("src_id", "tgt_id"),
      "left_semi").count().toDouble / exactRows
    // 10x on BOTH sides: 100x the exact leg's pair count — approx only
    val srcL = corpus(100000, 3)
    val tgtL = corpus(100000, 4)
    val (approxRowsL, tApproxL) = time {
      Similarity.marginMine(srcL, tgtL, "vec_id", "embedding",
        k = 4, minMargin = Double.NegativeInfinity, approx = true,
        nTables = 8, nBits = 14, probes = 2).count()
    }
    println(f"MARGINSTRESS dim=$dim exact_10kx10k=$tExact%.1f s " +
      f"(rows=$exactRows) approx_10kx10k=$tApproxS%.1f s " +
      f"(rows=$approxRowsS, pair_agreement=$agree%.3f) " +
      f"approx_100kx100k=$tApproxL%.1f s (rows=$approxRowsL)")
  }

  /** Distributed PCA: 2M synthetic 64-dim vectors — one treeAggregate
    * moment pass + driver Jacobi fit, then the full-corpus codegen'd
    * projection, with the captured-variance ratio as the quality readout
    * (the data is full-rank noise + a planted dominant plane, so top-2
    * capture must far exceed 2/64). */
  private def pca(spark: SparkSession): Unit = {
    val n = 2000000L
    val dim = 64
    // noise in every coordinate plus a dominant planted plane on axes 0/1
    def u(i: Int) =
      pmod(xxhash64(col("id"), lit(i)), lit(2000L)).cast("double") / 1000.0 - 1.0
    val vec = array((0 until dim).map {
      case 0 => (u(0) * 20.0).cast("float")
      case 1 => (u(1) * 10.0).cast("float")
      case i => u(i).cast("float")
    }: _*)
    val corpus = spark.range(n)
      .select(col("id").as("vec_id"), vec.as("embedding"))
      .localCheckpoint(true)
    val (model, tFit) = time {
      graft.functions.Pca.fit(corpus, "embedding", 8)
    }
    val (projRows, tProject) = time {
      corpus.select(
        graft.functions.Pca.project(col("embedding"), model).as("p"))
        .agg(count(lit(1))).collect()(0).getLong(0)
    }
    val captured2 = model.explainedVariance.take(2).sum / model.totalVariance
    println(f"PCASTRESS n=$n dim=$dim fit=$tFit%.1f project=$tProject%.1f " +
      f"rows=$projRows captured2=$captured2%.3f")
  }

  /** IVF-PQ ANN: 1M synthetic 64-dim vectors — codebook training,
    * full-corpus encode, ADC search with exact rerank, vs brute-force
    * cosine top-k over the same queries. */
  private def pq(spark: SparkSession): Unit = {
    import graft.functions.Similarity
    val n = 1000000L
    val dim = 64
    // deterministic pseudo-random unit-ish vectors, plan-generated
    val vec = array((0 until dim).map(i =>
      (pmod(xxhash64(col("id"), lit(i)), lit(2000L)).cast("double") / 1000.0
        - 1.0)): _*)
    val corpus = spark.range(n).select(col("id").as("vec_id"), vec.as("embedding"))
      .localCheckpoint(true)
    val queries = corpus.filter(col("vec_id") < 50).localCheckpoint(true)
    val ((cents, books), tTrain) = time {
      (Similarity.trainIvfCentroids(
        corpus, "embedding", k = 64, iterations = 2, sampleSize = 20000,
        totalRows = Some(n)),
      Similarity.trainPqCodebooks(
        corpus, "embedding", numSubspaces = 8, codebookSize = 256,
        iterations = 6, sampleSize = 20000, totalRows = Some(n)))
    }
    val (_, tEncode) = time {
      corpus.select(Similarity.pqEncode(
        Similarity.l2normalize(col("embedding")), books)
        .as("codes")).agg(count(lit(1))).collect()
    }
    val ((brute, bruteRows), tBrute) = time {
      val b = Similarity.bruteForceTopK(
        corpus, queries, "vec_id", "embedding", k = 10).localCheckpoint(true)
      (b, b.count())
    }
    // the recall/cost dial, measured on the ANN worst case (i.i.d.
    // uniform vectors — no cluster structure for IVF to exploit):
    // recall@10 at two probe/refine budgets
    val results = Seq((8, 4), (32, 20)).map { case (nProbe, refine) =>
      val (pqTop, t) = time {
        val r = Similarity.ivfPqTopK(
          corpus, queries, "vec_id", "embedding", k = 10, cents, books,
          nProbe = nProbe, refine = refine).localCheckpoint(true)
        r.count()
        r
      }
      val hits = brute.select("query_id", "neighbor_id")
        .join(pqTop.select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id"), "left_semi").count()
      f"probe$nProbe/refine$refine: t=$t%.1f recall=${
        hits.toDouble / math.max(1L, bruteRows)}%.3f"
    }
    println(f"PQSTRESS n=$n train=$tTrain%.1f encode=$tEncode%.1f " +
      f"brute=$tBrute%.1f bruteRows=$bruteRows ${results.mkString(" | ")}")
  }

  /** BM25: 1M synthetic documents (hash-generated token streams over a
    * 50k-term vocabulary with a Zipf-ish skew) × 1k queries, top-10 — the
    * posting-aggregate + broadcast-query-join + windowed-top-k pipeline
    * at retrieval scale. */
  private def retrieval(spark: SparkSession): Unit = {
    val nDocs = 1000000L
    val docLen = 40
    // skewed vocabulary: 20% of positions draw from the 100 hottest
    // tokens, the rest spread over 50k — a web-ish Zipf head without
    // overflow-prone arithmetic (ANSI mode is on)
    val tok = (i: Int) => concat(lit("t"),
      when(pmod(xxhash64(col("id"), lit(i * 2)), lit(5L)) === 0,
        pmod(xxhash64(col("id"), lit(i * 2 + 1)), lit(100L)))
        .otherwise(pmod(xxhash64(col("id"), lit(i * 2 + 1)), lit(50000L)))
        .cast("string"))
    val docs = spark.range(nDocs).select(col("id").as("doc_id"),
      concat_ws(" ", (1 to docLen).map(tok): _*).as("text"))
      .localCheckpoint(true)
    val queries = spark.range(1000).select(col("id").as("query_id"),
      concat_ws(" ", (1 to 4).map(tok): _*).as("qtext"))
    val (rows, t) = time {
      graft.functions.TextFunctions.bm25TopK(
        docs, "doc_id", "text", queries, "query_id", "qtext", topK = 10)
        .count()
    }
    val (rowsCut, tCut) = time {
      graft.functions.TextFunctions.bm25TopK(
        docs, "doc_id", "text", queries, "query_id", "qtext", topK = 10,
        maxDfFraction = 0.01).count()
    }
    println(f"RETRIEVALSTRESS docs=$nDocs doclen=$docLen queries=1000 " +
      f"topk=10 time=$t%.1f result_rows=$rows " +
      f"dfcut_time=$tCut%.1f dfcut_rows=$rowsCut")
  }

  /** Mergeable sketches: 20M rows → per-(key, shard) HLL partials →
    * sketch-space merge vs the exact expand-and-count plan; Misra-Gries
    * heavy hitters vs the exact top; Count-Min build, merge and probe. */
  private def sketch(spark: SparkSession): Unit = {
    import graft.functions.Sketches
    val df = spark.range(20000000L).select(
      (col("id") % 16).as("k"), pmod(col("id"), lit(64)).as("shard"),
      (col("id") % 1000000).as("u")).localCheckpoint(true)
    val (est, tMerge) = time { Sketches.hllMergeEstimate(
      Sketches.hllPartial(df, Seq("k", "shard"), "u"),
      Seq("k")).collect().map(_.getLong(1)).sorted }
    val (_, tExact) = time { df.groupBy("k").agg(countDistinct(col("u"))).collect() }
    println(f"SKSTRESS merge=$tMerge%.1f exact=$tExact%.1f " +
      s"estMin=${est.head} estMax=${est.last}")

    // Misra-Gries heavy hitters: Zipf-ish item stream (cubed uniform over
    // 50k distinct items), 16 keys. The exact plan's exchange keys on
    // (k, item) — it grows with the distinct population; MG's exchange is
    // numPartitions × (k+1) counter rows regardless of corpus size.
    val zipf = spark.range(20000000L).select((col("id") % 16).as("k"),
      concat(lit("w"), floor(pow(pmod(col("id") * 2654435761L, lit(100000L))
        .cast("double") / 100000.0, 3.0) * 50000).cast("long")).as("w"))
      .localCheckpoint(true)
    val (nHH, tMg) = time {
      Sketches.frequentItems(zipf, Seq("k"), "w", k = 50).count() }
    val (_, tTop) = time { zipf.groupBy("k", "w").count()
      .filter(col("count") > 20000000L / 51 / 16).collect() }
    println(f"MGSTRESS mg=$tMg%.1f exactTop=$tTop%.1f candidates=$nHH")

    // Count-Min: 64 shard partials, driver merge, probe 20 items
    val (_, tCms) = time {
      val m = Sketches.cmsMerge(
        Sketches.cmsPartial(
          zipf.withColumn("shard", pmod(xxhash64(col("w"), col("k")), lit(64))),
          Seq("shard"), "w")
          .collect().map(_.getAs[Array[Byte]](1)))
      (0 until 20).foreach(i => Sketches.cmsEstimate(m, s"w$i"))
    }
    println(f"CMSSTRESS build+merge+probe=$tCms%.1f")
  }

  /** Skew-join advisor: a 10M-row probe frame where ONE key carries 50% of
    * all rows (the stubborn-hot-key corpus the salted join exists for),
    * joined to a 1k-key dimension. Readouts: the advisor's wall time (one
    * groupBy-count + scalar agg), the factor it picks, salted-vs-plain
    * join wall time, and row-count equality. */
  private def skew(spark: SparkSession): Unit = {
    import graft.operators.SkewJoin
    val nRows = 10000000L
    val nKeys = 1000L
    // key 0 takes 50% of the probe; the rest hash-scatter over 1k keys
    val probe = spark.range(nRows).select(
      when(pmod(xxhash64(col("id"), lit(1)), lit(2L)) === 0, lit(0L))
        .otherwise(pmod(xxhash64(col("id"), lit(2)), lit(nKeys))).as("k"),
      col("id").as("v"))
      .localCheckpoint(true)
    val dim = spark.range(nKeys).select(col("id").as("k"),
      (col("id") * 10).as("w")).localCheckpoint(true)
    val (factor, tAdvise) = time {
      SkewJoin.suggestSalt(probe, Seq("k"), targetRowsPerTask = 500000L)
    }
    // regime 1: dim under the broadcast threshold — plain wins, salting
    // is pure overhead (that's WHY the advisor exists; don't salt blindly)
    val (nPlainB, tPlainB) = time {
      probe.join(dim, Seq("k"), "inner").count()
    }
    val (nSaltedB, tSaltedB) = time {
      SkewJoin.saltedJoin(probe, dim, Seq("k"), "inner", factor = factor).count()
    }
    // regime 2: the target case — a shuffle join where AQE's runtime skew
    // split cannot apply (here: disabled, as when the skewed side feeds
    // an aggregation or the join is not sort-merge); the hot key's rows
    // all land in ONE task unless salted
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    val (nPlainS, tPlainS) = time {
      probe.join(dim, Seq("k"), "inner").count()
    }
    val (nSaltedS, tSaltedS) = time {
      SkewJoin.saltedJoin(probe, dim, Seq("k"), "inner", factor = factor).count()
    }
    println(f"SKEWSTRESS rows=$nRows hot_frac=0.5 advise=$tAdvise%.1fs " +
      f"factor=$factor broadcast[plain=$tPlainB%.1fs salted=$tSaltedB%.1fs] " +
      f"shuffle_noskewfix[plain=$tPlainS%.1fs salted=$tSaltedS%.1fs] " +
      f"rows_equal=${nPlainB == nSaltedB && nPlainS == nSaltedS && nPlainB == nPlainS}")
  }

  /** Exact-substring pipeline: 200k synthetic docs × 100 tokens (20M
    * tokens, ~10M span positions at spanTokens=50) with a heavily
    * duplicated vocabulary, through both the diagnostic
    * (duplicateSpanStats) and the rewrite (removeDuplicateSpans). */
  private def span(spark: SparkSession): Unit = {
    // token t(d, i) = w_{(d*31 + i*7) % 5000}: within-corpus 50-grams
    // repeat heavily (5000 token values), docs are pairwise distinct
    val docs = spark.range(200000L).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), lit(100)),
        i => concat(lit("w"),
          pmod(col("id") * 31L + i.cast("long") * 7L, lit(5000L)))))
        .as("text")).localCheckpoint(true)
    val (stats, tStats) = time { graft.functions.Dedup
      .duplicateSpanStats(docs, "doc_id", "text", spanTokens = 50)
      .agg(sum("n_spans"), sum("n_dup_spans")).collect() }
    val (removed, tRewrite) = time { graft.functions.Dedup
      .removeDuplicateSpans(docs, "doc_id", "text", spanTokens = 50)
      .agg(sum("n_removed_tokens")).collect().head.getLong(0) }
    println(f"SPANSTRESS stats=$tStats%.1f rewrite=$tRewrite%.1f " +
      s"spans=${stats.head.getLong(0)} dup=${stats.head.getLong(1)} " +
      s"removedTokens=$removed")
  }

  /** Temporal/product analytics: 20M synthetic events over 500k users
    * across a 30-day horizon, with 10 planted hub users carrying 0.05% of
    * all events EACH — the adversarial shape for the re-entry funnel,
    * whose per-user (anchor × candidate) join is the documented quadratic
    * hazard (a hub's thousands of step-1 anchors each scan its thousands
    * of step-2/3 events). Readouts: wall time for greedy funnel, re-entry
    * funnel, weekly retention, and per-user interval merging of 10M
    * half-open activity windows over 200k keys. */
  private def temporal(spark: SparkSession): Unit = {
    import graft.operators.TemporalOps
    val nEvents = 20000000L
    val nUsers = 500000L
    val horizon = 30L * 86400
    // 10 hub users get 0.05% of events EACH (1/200 of all events split
    // across 10 hubs = 10k events apiece); the rest hash-scatter.
    // Event mix: 30% s1 / 30% s2 / 20% s3 / 20% noise.
    val ev = spark.range(nEvents).select(
      when(pmod(xxhash64(col("id"), lit(1)), lit(200L)) === 0,
        pmod(xxhash64(col("id"), lit(2)), lit(10L)))
        .otherwise(pmod(xxhash64(col("id"), lit(3)), lit(nUsers)))
        .cast("string").as("user_id"),
      timestamp_seconds(pmod(xxhash64(col("id"), lit(4)), lit(horizon)))
        .as("ts"),
      element_at(
        array(lit("s1"), lit("s1"), lit("s1"), lit("s2"), lit("s2"),
          lit("s2"), lit("s3"), lit("s3"), lit("zz"), lit("zz")),
        (pmod(xxhash64(col("id"), lit(5)), lit(10L)) + 1).cast("int"))
        .as("event_type"))
      .localCheckpoint(true)
    val steps = Seq("s1", "s2", "s3")
    val (nG, tG) = time {
      TemporalOps.funnel(ev, "user_id", "ts", "event_type", steps, 86400L).count()
    }
    println(f"TEMPORALSTRESS funnel_greedy events=$nEvents users=$nUsers " +
      f"time=$tG%.1f rows=$nG")
    val (nR, tR) = time {
      TemporalOps.funnel(
        ev, "user_id", "ts", "event_type", steps, 3600L, restart = true)
        .count()
    }
    println(f"TEMPORALSTRESS funnel_restart events=$nEvents users=$nUsers " +
      f"window=3600 time=$tR%.1f rows=$nR")
    val (nRet, tRet) = time {
      TemporalOps.retention(ev, "user_id", "ts", 604800L).count()
    }
    println(f"TEMPORALSTRESS retention events=$nEvents time=$tRet%.1f rows=$nRet")
    // 10M activity intervals over 200k keys (~50 per key), 30-min spans:
    // the per-key sweep sorts ~50 rows per key, parallel across keys
    val iv = spark.range(10000000L).select(
      pmod(xxhash64(col("id"), lit(7)), lit(200000L)).as("k"),
      pmod(xxhash64(col("id"), lit(8)), lit(horizon)).as("s"))
      .withColumn("e", col("s") + 1800)
      .localCheckpoint(true)
    val (nM, tM) = time {
      TemporalOps.mergeIntervals(iv, Seq("k"), "s", "e", validate = true).count()
    }
    println(f"TEMPORALSTRESS merge_intervals n=10000000 keys=200000 " +
      f"time=$tM%.1f merged=$nM")
  }

  /** Lake-format value/metadata walks (default n = 2M rows):
    *
    *   - m50 parquet data-page VALUE decode: an N-row two-column table is
    *     written by Spark under v1/snappy and v2/zstd, then decoded from
    *     RAW BYTES through the page-skip path (OffsetIndex locators,
    *     per-page decompression, dictionary/delta/plain value decode,
    *     def-level null assembly) — reported as rows/s beside Spark's
    *     own vectorized reader over the same files, the honest yardstick;
    *   - m51 ORC stripe-footer census: the same table as many-file ORC,
    *     tails + stripe footers walked (files/s — each file costs O(tail
    *     + footerLength), no stream bytes);
    *   - ORC value decode (m53, m55), nested-list parquet decode (m57) and
    *     the Delta / Iceberg / Hudi snapshot censuses (m56, m58, m63).
    *
    * Every path is a narrow mapPartitions plan — cluster scale-out is
    * linear in executors. */
  private def lake(size: Option[Long])(spark: SparkSession): Unit = {
    val n = size.getOrElse(2000000L)
    val out = java.nio.file.Files.createTempDirectory("graft_lakestress")
    try {
      val docs = spark.range(n).selectExpr("id AS doc_id",
        "CASE WHEN id % 7 = 0 THEN NULL ELSE concat('lang_', CAST(id % 23 AS STRING)) END AS lang_n")
        .repartition(32)
      val results = Seq("v1" -> "snappy", "v2" -> "zstd").map { case (ver, codec) =>
        val p = s"$out/${ver}_$codec"
        docs.write.option("parquet.writer.version", ver)
          .option("compression", codec).mode("overwrite").parquet(p)
        val bin = graft.functions.Multimodal.loadBinaryFiles(spark, p, "*.parquet")
          .selectExpr("monotonically_increasing_id() AS fid", "payload")
          .localCheckpoint(true)
        val (rows, tDecode) = time {
          graft.functions.ParquetFooter
            .parquetDecodeLongStr(bin, "fid", "payload", "doc_id", "lang_n")
            .count()
        }
        val (sparkRows, tSpark) = time {
          spark.read.parquet(p)
            .select("doc_id", "lang_n").filter(col("doc_id") >= 0).count()
        }
        (ver, codec, rows, tDecode, sparkRows, tSpark)
      }
      // ORC: many files, stripe footers walked per file
      val orcP = s"$out/orc_zstd"
      docs.repartition(64).write.option("compression", "zstd")
        .mode("overwrite").orc(orcP)
      val orcBin = graft.functions.Multimodal.loadBinaryFiles(spark, orcP, "*.orc")
        .selectExpr("monotonically_increasing_id() AS doc_id", "payload")
        .localCheckpoint(true)
      val nFiles = orcBin.count()
      val (nStripes, tStripes) = time {
        graft.functions.Orc.orcStripeFooters(orcBin, "doc_id", "payload").count()
      }
      // ORC data-stream VALUE decode (m53) vs Spark's ORC reader
      val (orcRows, tOrcDecode) = time {
        graft.functions.Orc
          .orcDecodeLongStr(orcBin, "doc_id", "payload", "doc_id", "lang_n")
          .count()
      }
      val (orcSparkRows, tOrcSpark) = time {
        spark.read.orc(orcP)
          .select("doc_id", "lang_n").filter(col("doc_id") >= 0).count()
      }
      // m55: full-scalar ORC value decode — five typed columns
      // (long/double/float/boolean/string) zipped per row
      val scal = spark.range(n).selectExpr("id AS doc_id",
        "CASE WHEN id % 7 = 0 THEN NULL ELSE CAST(id % 100 AS DOUBLE) * 0.25 END AS score",
        "CAST(CAST(id % 16 AS DOUBLE) / 4.0 AS FLOAT) AS ratio",
        "id % 3 = 0 AS ok",
        "CASE WHEN id % 5 = 2 THEN NULL ELSE concat('lang_', CAST(id % 23 AS STRING)) END AS lang_n")
        .repartition(32)
      val scalP = s"$out/orc_scalars"
      scal.write.option("compression", "zlib").mode("overwrite").orc(scalP)
      val scalBin = graft.functions.Multimodal
        .loadBinaryFiles(spark, scalP, "*.orc")
        .selectExpr("monotonically_increasing_id() AS doc_id", "payload")
        .localCheckpoint(true)
      val (scalRows, tScal) = time {
        graft.functions.Orc.orcDecodeScalars(scalBin,
          "doc_id", "payload", "doc_id", "score", "ratio", "ok", "lang_n")
          .count()
      }
      // m57: nested-list decode (Dremel reassembly) vs Spark's reader
      val listDocs = spark.range(n / 4).selectExpr("id AS doc_id",
        "CASE WHEN id % 7 = 0 THEN NULL " +
          "WHEN id % 7 = 1 THEN CAST(array() AS ARRAY<BIGINT>) " +
          "ELSE transform(sequence(0, CAST(id % 5 AS INT)), " +
          "i -> CASE WHEN (id + i) % 11 = 3 THEN NULL ELSE id * 10 + i END) " +
          "END AS nums",
        "CASE WHEN id % 9 = 2 THEN NULL " +
          "ELSE transform(sequence(0, CAST(id % 4 AS INT)), " +
          "i -> concat('t', CAST((id + i) % 13 AS STRING))) END AS tags")
        .repartition(32)
      val listP = s"$out/pq_lists"
      listDocs.write.option("compression", "snappy")
        .mode("overwrite").parquet(listP)
      val listBin = graft.functions.Multimodal
        .loadBinaryFiles(spark, listP, "*.parquet")
        .selectExpr("monotonically_increasing_id() AS fid", "payload")
        .localCheckpoint(true)
      val (listRows, tLists) = time {
        graft.functions.ParquetFooter.parquetDecodeLists(
          listBin, "fid", "payload", "doc_id",
          "nums.list.element", "tags.list.element").count()
      }
      val (listSparkRows, tListSpark) = time {
        spark.read.parquet(listP)
          .select("doc_id", "nums", "tags").filter(col("doc_id") >= 0).count()
      }
      // m56: Delta-log snapshot reconstruction over a many-table lake
      // (the shuffle carries action projections only)
      val nTables = math.max(1000L, n / 200)
      def tables = spark.range(nTables).selectExpr("id AS doc_id")
      val (liveFiles, tDelta) = time {
        graft.functions.DeltaLog.deltaSnapshot(
          graft.functions.DeltaLog.syntheticDeltaLogs(tables, "doc_id"),
          "table_id", "file_name", "content").count()
      }
      // m58: Iceberg manifest-chain census over the same table count
      val (icebergFiles, tIceberg) = time {
        graft.functions.Iceberg.icebergSnapshot(
          graft.functions.Iceberg.syntheticIcebergTables(tables, "doc_id"),
          "table_id", "file_name", "payload").count()
      }
      // m63: Hudi timeline census — the trio's third leg
      val (hudiCommits, tHudi) = time {
        graft.functions.Hudi.hudiTimeline(
          graft.functions.Hudi.syntheticHudiTables(tables, "doc_id"),
          "table_id", "file_name", "content").count()
      }
      val lines = results.map { case (ver, codec, rows, tD, sRows, tS) =>
        f"pq_${ver}_$codec: decoded=$rows rows in $tD%.1f s " +
          f"(${rows / tD}%.0f rows/s) vs sparkRead=$sRows in $tS%.1f s " +
          f"(${sRows / tS}%.0f rows/s) ratio=${tD / tS}%.2fx"
      }
      println(s"LAKESTRESS n=$n ${lines.mkString(" | ")} | " +
        f"orcStripeFooters: files=$nFiles stripes=$nStripes " +
        f"wall=$tStripes%.1f s (${nFiles / tStripes}%.0f files/s) | " +
        f"orc_zstd_values: decoded=$orcRows rows in $tOrcDecode%.1f s " +
        f"(${orcRows / tOrcDecode}%.0f rows/s) vs sparkRead=$orcSparkRows " +
        f"in $tOrcSpark%.1f s (${orcSparkRows / tOrcSpark}%.0f rows/s) " +
        f"ratio=${tOrcDecode / tOrcSpark}%.2fx | " +
        f"orc_scalars: decoded=$scalRows rows in $tScal%.1f s " +
        f"(${scalRows / tScal}%.0f rows/s) | " +
        f"pq_lists: decoded=$listRows rows in $tLists%.1f s " +
        f"(${listRows / tLists}%.0f rows/s) vs sparkRead=$listSparkRows " +
        f"in $tListSpark%.1f s (${listSparkRows / tListSpark}%.0f rows/s) " +
        f"ratio=${tLists / tListSpark}%.2fx | " +
        f"delta_snapshot: tables=$nTables liveFiles=$liveFiles " +
        f"wall=$tDelta%.1f s (${nTables / tDelta}%.0f tables/s) | " +
        f"iceberg_snapshot: tables=$nTables liveFiles=$icebergFiles " +
        f"wall=$tIceberg%.1f s (${nTables / tIceberg}%.0f tables/s) | " +
        f"hudi_timeline: tables=$nTables commits=$hudiCommits " +
        f"wall=$tHudi%.1f s (${nTables / tHudi}%.0f tables/s)")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
  }

  /** Container and text walks over synthetic payloads (default n = 200k
    * docs): the CRC-verified Ogg page census, cross-page packet
    * reassembly, one row per further walker below, and the warc.gz
    * random-access leg. Every walk is a narrow mapPartitions plan (zero
    * exchanges), so docs/s here IS the per-executor scan cost — cluster
    * scale-out is linear in executors. */
  private def media(size: Option[Long])(spark: SparkSession): Unit = {
    import graft.functions._
    val n = size.getOrElse(200000L)
    val ids = spark.range(n).select(col("id").as("doc_id"))
      .repartition(32).localCheckpoint(true)
    val (pages, tPages) = time {
      Ogg.oggPages(Ogg.syntheticOggs(ids, "doc_id"), "doc_id", "payload")
        .agg(count(lit(1)), sum(col("header_bytes") + col("body_bytes")))
        .collect().head
    }
    val (nPages, pageBytes) = (pages.getLong(0), pages.getLong(1))
    val (packets, tPackets) = time {
      Ogg.oggPackets(Ogg.syntheticChainedOggs(ids, "doc_id"), "doc_id", "payload")
        .agg(count(lit(1)), sum("size")).collect().head
    }
    val (nPackets, packetBytes) = (packets.getLong(0), packets.getLong(1))
    // (count key, readout stem, walker output): each row is counted,
    // timed and read out as `<key>=rows <stem>Wall=s <stem>DocsPerSec=r`
    val walks: Seq[(String, String, () => DataFrame)] = Seq(
      ("flacTags", "tag", () => Flac.flacComments(
        Flac.syntheticCommentedFlacs(ids, "doc_id"), "doc_id", "payload")),
      ("images", "image", () => Imaging.imageMeta(
        Imaging.syntheticImages(ids, "doc_id"), "doc_id", "payload")),
      ("mkvTracks", "mkv", () => Ebml.mkvTracks(
        Ebml.syntheticMkvs(ids, "doc_id"), "doc_id", "payload")),
      ("zipEntries", "zip", () => Zip.zipEntries(
        Zip.syntheticZips(ids, "doc_id"), "doc_id", "payload")),
      ("zstdFrames", "zstd", () => Zstd.zstdFrames(
        Zstd.syntheticZstds(ids, "doc_id"), "doc_id", "payload")),
      // the gzip walker is the one that must INFLATE (deflate has no
      // length field), so its docs/s is the true .warc.gz
      // record-locator cost
      ("gzipMembers", "gzip", () => Gzip.gzipMembers(
        Gzip.syntheticGzips(ids, "doc_id"), "doc_id", "payload")),
      ("avroBlocks", "avro", () => Avro.avroBlocks(
        Avro.syntheticAvros(ids, "doc_id"), "doc_id", "payload")),
      ("pngText", "pngText", () => Png.pngTextChunks(
        Png.syntheticTextPngs(ids, "doc_id"), "doc_id", "payload")),
      ("robotsItems", "robots", () => Robots.robotsRules(
        Robots.syntheticRobotsFiles(ids, "doc_id"), "doc_id", "robots_text")),
      ("emlHeaders", "eml", () => Eml.emailHeaders(
        Eml.syntheticEmls(ids, "doc_id"), "doc_id", "eml_text")),
      ("mimeParts", "mime", () => Mime.mimeParts(
        Mime.syntheticMimes(ids, "doc_id"), "doc_id", "mime_text")),
      ("zipExtract", "zipX", () => Zip.extractEntries(
        Zip.syntheticRealZips(ids, "doc_id"), "doc_id", "payload")),
      ("targzEntries", "targz", () => Tar.tarGzEntries(
        Tar.syntheticTarGzs(ids, "doc_id"), "doc_id", "payload")),
      ("tfRecords", "tfr", () => TfRecord.tfRecords(
        TfRecord.syntheticTfRecords(ids, "doc_id"), "doc_id", "payload")),
      ("xzBlocks", "xz", () => Xz.xzBlocks(
        Xz.syntheticXzs(ids, "doc_id"), "doc_id", "payload")),
      ("sitemapItems", "sitemap", () => Sitemap.sitemapItems(
        Sitemap.syntheticSitemaps(ids, "doc_id"), "doc_id", "sitemap_text")),
      ("csvSniffs", "csv", () => Csv.csvSniff(
        Csv.syntheticCsvs(ids, "doc_id"), "doc_id", "csv_text")),
      // gzip-composed shard walks: each pays the inflate the locator path
      // pays at 100 TB
      ("tfrGzRecords", "tfrGz", () => TfRecord.tfRecordsGz(
        TfRecord.syntheticTfRecordGzs(ids, "doc_id"), "doc_id", "payload")),
      ("sitemapGzItems", "sitemapGz", () => Sitemap.sitemapGzItems(
        Sitemap.syntheticSitemapGzs(ids, "doc_id"), "doc_id", "payload")),
      // locator-driven block extraction, per-codec decode + CRC/sync
      ("avroExtract", "avroX", () => Avro.extractStringRecords(
        Avro.syntheticRealAvros(ids, "doc_id"), "doc_id", "payload")),
      // full-type-system record decode (m54): fixture ENCODE (six real
      // codecs) dominates the wall, the decode is a narrow map over
      // located blocks
      ("avroRecords", "avroRec", () => AvroRecord.decodeRecords(
        AvroRecord.syntheticRecordAvros(ids, "doc_id"), "doc_id", "payload",
        AvroRecord.docSchemaJson)),
      ("csvBytesSniffs", "csvBytes", () => Csv.csvSniffBytes(
        Csv.syntheticCsvPayloads(ids, "doc_id"), "doc_id", "payload")),
      // Cues census + per-cue locator replay: parse the seek index, then
      // re-seek every cluster it names and verify the timestamp
      ("mkvCues", "mkvCues", () => Ebml.mkvCues(
        Ebml.syntheticMkvCueFiles(ids, "doc_id"), "doc_id", "payload")),
      // frame extraction at the cue locators (m60)
      ("mkvFrames", "mkvFrames", () => Ebml.mkvFrames(
        Ebml.syntheticMkvFrameFiles(ids, "doc_id"), "doc_id", "payload")))
    val walked = walks.map { case (key, stem, frame) =>
      val (rows, t) = time(frame().count())
      (key, rows, t, f"$key=$rows ${stem}Wall=$t%.1f ${stem}DocsPerSec=${n / t}%.0f")
    }
    // the warc.gz RANDOM-ACCESS cost: per-member inflateMemberAt over
    // locator rows vs the sequential whole-file member walk. Random access
    // re-slices and re-inflates each member independently (the ranged-GET
    // pattern), so its docs/s bounds the per-record cost of a Common Crawl
    // locator-driven fetch pipeline.
    val (nRandom, tRandom) = time {
      import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("ok", IntegerType)))
      val extracted = ids.mapPartitions { it =>
        it.flatMap { r =>
          val id = r.getLong(0)
          val gz = Gzip.syntheticGzip(id)
          Gzip.parseMembers(gz).toSeq.flatten.map { m =>
            val body = Gzip.inflateMemberAt(gz, m.offset, m.compBytes)
            org.apache.spark.sql.Row(id, if (body.isDefined) 1 else 0)
          }
        }
      }(org.apache.spark.sql.Encoders.row(schema))
      val agg = extracted.agg(count(lit(1)), sum("ok")).collect().head
      require(agg.getLong(1) == agg.getLong(0), "random-access extraction failed")
      agg.getLong(0)
    }
    val (_, nMembers, tMembers, _) = walked.find(_._1 == "gzipMembers").get
    println(f"MEDIASTRESS docs=$n pages=$nPages pageWall=$tPages%.1f " +
      f"pagesPerSec=${nPages / tPages}%.0f pageMB=${pageBytes / 1e6}%.0f " +
      f"packets=$nPackets packetWall=$tPackets%.1f " +
      f"packetsPerSec=${nPackets / tPackets}%.0f " +
      f"packetMB=${packetBytes / 1e6}%.0f " +
      walked.map(_._4).mkString("", " ", " ") +
      f"randomMembers=$nRandom randomWall=$tRandom%.1f " +
      f"randomMembersPerSec=${nRandom / tRandom}%.0f " +
      f"seqMembersPerSec=${nMembers / tMembers}%.0f")
  }
}
