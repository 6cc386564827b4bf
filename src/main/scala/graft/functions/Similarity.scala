package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast => sparkBroadcast, _}

/**
 * Similarity search over embedding columns (`array<float>`):
 * brute-force cosine top-k as the exact baseline, and a random-hyperplane
 * LSH-bucketed variant as the 100 TB scale path.
 *
 * Scale design: the query set is broadcast (queries ≪ corpus); the corpus
 * is scanned once. Brute force emits |corpus|·|queries| scored rows and
 * window-sorts per query — exact but quadratic-shuffle; the LSH variant
 * shuffles only bucket-colliding pairs. Both return deterministic results
 * (ties broken by neighbor id).
 */
object Similarity {

  private lazy val steerLog =
    org.slf4j.LoggerFactory.getLogger("graft.functions.Similarity")
  private val quadraticWarned =
    new java.util.concurrent.atomic.AtomicBoolean(false)
  /** Last steering decision (None = inputs were small enough), recorded
   * unconditionally so specs can assert the warning fires even after the
   * log-once latch has tripped. */
  @volatile private[graft] var lastQuadraticNote: Option[String] = None

  /** Warn ONCE per JVM when an exact-quadratic operator is invoked with
   * both sides too large to broadcast: at that size the |a|·|b| scored
   * cross product is the bottleneck and the caller almost certainly
   * wants `approx = true` (the annJoin LSH route). Plan statistics only
   * — no job is triggered; a disabled (-1) broadcast threshold falls
   * back to Spark's 10 MB default for the "too big" test. */
  private def steerTowardApprox(
      op: String, a: DataFrame, b: DataFrame): Unit = {
    val conf = org.apache.spark.sql.internal.SQLConf.get
      .autoBroadcastJoinThreshold
    val thr = BigInt(if (conf > 0) conf else 10L << 20)
    val big = Seq(a, b).forall(
      _.queryExecution.optimizedPlan.stats.sizeInBytes > thr)
    if (big) {
      val note = s"$op(approx = false) is the EXACT baseline: compute " +
        "and shuffle grow as |src|x|tgt|, and neither side's plan " +
        s"statistics fit the broadcast threshold ($thr bytes). For " +
        "corpus-scale inputs pass approx = true to route candidates " +
        "through the LSH-bucketed annJoin (bounded recall trade, " +
        "documented there)."
      lastQuadraticNote = Some(note)
      if (quadraticWarned.compareAndSet(false, true)) steerLog.warn(note)
    } else lastQuadraticNote = None
  }

  /** Cosine-normalized copy of a float/double-array column (double
   * precision) — native Catalyst expression, no per-element boxing. */
  def l2normalize(vec: Column): Column =
    graft.functions.expressions.VectorExpressions.l2normalize(vec)

  /** Dot product of two array<double> columns — whole-stage-codegen'd
   * primitive loop ([[graft.functions.expressions.DotProduct]]). */
  def dot(a: Column, b: Column): Column =
    graft.functions.expressions.VectorExpressions.dot(a, b)

  /**
   * Per-vector scalar int8 quantization — the storage-path compressor
   * for embedding corpora (4× smaller than float32, 8× than float64):
   * each vector maps affinely onto the byte range with its own
   * (min, scale), so reconstruction error is bounded by scale/2 =
   * (max−min)/510 per coordinate regardless of global outliers.
   * Output: struct(qmin: double, qscale: double, codes: array<tinyint>).
   * A constant vector gets scale 0 and reconstructs exactly. Native
   * expression ([[graft.functions.expressions.QuantizeInt8]]): one
   * min/max pass + one code pass per vector — a narrow map, no UDF, no
   * shuffle (a higher-order `transform` formulation would re-evaluate
   * the array min/max inside the lambda, O(d²) per vector). Vectors
   * containing NaN/±Infinity (or null elements) quantize to NULL — a
   * poisoned embedding yields a detectable null, never silently
   * collapsed codes.
   *
   * This is the column you SAVE; [[dequantizeInt8]] restores doubles for
   * exact re-scoring, and the ANN recall cost of the quantization is
   * bounded by the per-coordinate error (cosine of smooth embeddings
   * survives int8 essentially unchanged — pinned in FunctionsSpec).
   */
  def quantizeInt8(vec: Column): Column =
    graft.functions.expressions.VectorExpressions
      .quantizeInt8(vec.cast("array<double>"))

  /** Inverse of [[quantizeInt8]]: codes → array<double>,
   * x̂ = qmin + (code + 128) · qscale — native one-pass expression. */
  def dequantizeInt8(q: Column): Column =
    graft.functions.expressions.VectorExpressions.dequantizeInt8(q)

  /**
   * Exact brute-force cosine top-k: for every row of `queries`, the k
   * nearest rows of `corpus` by cosine similarity.
   * Output: (query_id, neighbor_id, rank, cosine), rank 1..k,
   * ties broken by neighbor id ascending. `excludeSelf` (default true)
   * drops the id-equal pair — right for same-corpus kNN, wrong for
   * CROSS-corpus retrieval where src and tgt id spaces are independent
   * and may collide (pass false there, as [[marginMine]] does).
   */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val c = Dedup.spreadForCompute(corpus)
      .select(col(idCol).as("neighbor_id"), l2normalize(col(vecCol)).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), l2normalize(col(vecCol)).as("qv"))
    val paired = c.crossJoin(sparkBroadcast(q))
    val scored =
      (if (excludeSelf) paired.filter(col("neighbor_id") =!= col("query_id"))
       else paired)
        .withColumn("cosine", dot(col("cv"), col("qv")))
    topKByCosine(scored, k)
  }

  /**
   * Reciprocal-rank fusion (RRF) of ranked retrieval lists — the standard
   * hybrid-retrieval combiner (Cormack/Clarke/Buettcher, SIGIR'09):
   * fused(q, d) = Σ_lists 1/(k + rank_list(q, d)), summed over the lists
   * where d appears for q. Rank-based, so BM25 scores and cosine
   * similarities fuse without calibration — the reason training-data
   * curation pipelines reach for RRF when combining lexical and dense
   * retrieval for decontamination or hard-negative mining.
   *
   * Each input carries (queryIdCol, rankCol, idCol); output is
   * (queryIdCol, rank, idCol, rrf) re-ranked per query by fused score
   * descending, id ascending as the deterministic tie-break.
   *
   * Scale: inputs are already top-k'd (bounded rows per query), so the
   * union + one hash aggregate + per-query window is narrow relative to
   * the retrieval stages feeding it; only (query, id, contribution) rows
   * shuffle, never text or vectors. Spark 4 plants WindowGroupLimit
   * before the final exchange, so topK rows per query cross the shuffle.
   * Determinism: each contribution 1/(k+rank) is rounded to 12 digits
   * and summed through decimal(25,12) (order-independent), so the fused
   * score is a pure function of the input ranks on every engine.
   */
  def rrfFuse(
      lists: Seq[DataFrame], queryIdCol: String, idCol: String,
      rankCol: String = "rank", k: Int = 60, topK: Int = 10): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(k >= 0, s"rrf k must be >= 0, got $k")
    require(topK > 0, s"topK must be positive, got $topK")
    val contribs = lists.map { df =>
      df.select(col(queryIdCol), col(idCol),
        round(lit(1.0) / (lit(k) + col(rankCol).cast("double")), 12)
          .cast("decimal(25,12)").as("__c"))
    }.reduce(_ unionAll _)
    val fused = contribs.groupBy(col(queryIdCol), col(idCol))
      .agg(sum(col("__c")).as("__s"))
      .select(col(queryIdCol), col(idCol), col("__s").cast("double").as("rrf"))
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("rrf").desc, col(idCol).asc)
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col(queryIdCol), col("rank"), col(idCol), col("rrf"))
  }

  /**
   * Margin-based bitext/parallel-pair mining (Artetxe & Schwenk, ACL'19
   * "ratio" margin): for every src vector, its best tgt candidate scored
   * by margin(x, y) = cos(x, y) / (½·(avgₖ cos(x, NNₖ(x)) + avgₖ cos(y,
   * NNₖ(y)))) — the normalization that suppresses hubness (a tgt vector
   * close to EVERYTHING gets a large denominator), which raw cosine
   * thresholds cannot do. The standard miner for parallel-corpus
   * construction and cross-lingual dedup.
   *
   * Output: (src_id, tgt_id, margin) — one row per src (its argmax-margin
   * candidate among its top-k, ties by tgt id), filtered to
   * margin ≥ minMargin.
   *
   * Scale: both directions' kNN are the binding cost. The exact form
   * (`approx = false`, the declared baseline) uses [[bruteForceTopK]] —
   * src and tgt query sides broadcast, quadratic compute, right only for
   * a bounded evaluation slice. `approx = true` is the corpus-scale
   * path: BOTH directions route through [[annJoin]] (LSH-bucketed
   * candidates, NEITHER side broadcast, ids-and-keys-only exchanges,
   * same-id pairs preserved — cross-corpus id spaces are independent),
   * and the identical margin arithmetic runs over the approximate
   * neighbor lists. Because the hyperplane keys are shared and Hamming
   * distance is symmetric, a pair surfacing in the a→b direction always
   * has its b-side query in the b→a lists, so the hubness denominators
   * stay inner-joinable. Callers with their OWN candidate lists (e.g.
   * [[ivfTopK]] output) can call [[marginFromNeighbors]] directly.
   * Determinism: cosines round to 7 digits before the decimal-bridged
   * k-average; the margin's declared 5-digit precision uses
   * floor(x·1e5 + 0.5)/1e5 — pure IEEE ops, so any engine computing on
   * the same doubles lands the same value (library `round` functions
   * disagree on .5-boundary doubles: some round the shortest decimal
   * repr, some the binary value).
   *
   * `approx = false` (the default) is the EXACT baseline — |src|·|tgt|
   * cosine compute, like [[bruteForceTopK]]'s declared role. At corpus
   * scale (both sides past the broadcast threshold) pass
   * `approx = true`: a one-time JVM warning steers callers who reach
   * the quadratic path with non-broadcastable inputs.
   */
  def marginMine(
      src: DataFrame, tgt: DataFrame, idCol: String, vecCol: String,
      k: Int = 4, minMargin: Double = 0.0,
      approx: Boolean = false, nTables: Int = 8, nBits: Int = 12,
      seed: Long = 42L, probes: Int = 2,
      maxBucketSize: Int = 100000): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // cross-corpus: src and tgt id spaces are independent, so id-equal
    // pairs are REAL candidates — no self-exclusion (review finding: the
    // default kNN filter silently dropped aligned-id bitext pairs)
    val (ab, ba) =
      if (approx) {
        val abL = annJoin(src, tgt, idCol, vecCol, k, nTables, nBits, seed,
          probes, maxBucketSize, excludeSameId = false)
        val baRaw = annJoin(tgt, src, idCol, vecCol, k, nTables, nBits, seed,
          probes, maxBucketSize, excludeSameId = false)
        // guard against asymmetric bucket caps (review finding): annJoin
        // caps over-full buckets on its INDEX side only, so a tgt that
        // surfaced as someone's neighbor in a→b can still have lost ALL
        // its b→a candidates — it would vanish from the b-side averages
        // and the inner join would erase its srcs from the output.
        // Reversed a→b rows are themselves valid (tgt, src, cosine)
        // candidates (cosine is symmetric), so union them in, dedup the
        // pair, and re-take the per-tgt top-k: every tgt mentioned in ab
        // now has a neighborhood. This is a recall improvement, not a
        // no-op, even with uncapped buckets: annJoin multi-probes only
        // its QUERY side, so collision sets are asymmetric and a
        // reversed (tgt, src) pair need not be a baRaw candidate — the
        // union both repairs capped-bucket asymmetry and adds symmetric
        // candidates the b-side probe missed.
        val baCols = Seq("query_id", "neighbor_id", "cosine").map(col)
        val ba2 = topKByCosine(
          baRaw.select(baCols: _*).unionByName(
            abL.select(col("neighbor_id").as("query_id"),
              col("query_id").as("neighbor_id"), col("cosine")))
            .distinct(), k)
        (abL, ba2)
      } else {
        steerTowardApprox("marginMine", src, tgt)
        (bruteForceTopK(tgt, src, idCol, vecCol, k, excludeSelf = false),
          bruteForceTopK(src, tgt, idCol, vecCol, k, excludeSelf = false))
      }
    marginFromNeighbors(ab, ba, minMargin)
  }

  /**
   * The margin arithmetic of [[marginMine]] over PRE-COMPUTED neighbor
   * lists: `ab` holds src→tgt rows (query_id, neighbor_id, cosine), `ba`
   * tgt→src rows — any kNN family's output shape ([[bruteForceTopK]],
   * [[annJoin]], [[lshTopK]], [[ivfTopK]]) plugs in, which is how a
   * caller swaps its own scale path into the miner. CONTRACT: every tgt
   * id appearing as a neighbor in `ab` must appear as a query in `ba`
   * (the hubness denominators inner-join) — exact kNN satisfies this
   * trivially, and [[marginMine]]'s approx route enforces it by folding
   * reversed ab rows into the b-side lists; a caller supplying its own
   * approximate lists owns the same guarantee or its srcs silently drop.
   * One bounded aggregate per direction + a join + a per-src window —
   * only (id, id, double) rows move past the kNN stages.
   */
  def marginFromNeighbors(
      abList: DataFrame, baList: DataFrame,
      minMargin: Double = 0.0): DataFrame = {
    val ab = abList.withColumn("c7", round(col("cosine"), 7))
    val ba = baList.withColumn("c7", round(col("cosine"), 7))
    // average over the ACTUAL neighborhood size: a corpus smaller than k
    // must not deflate the hubness denominator (and inflate margins)
    val aAvg = ab.groupBy("query_id")
      .agg((sum(col("c7").cast("decimal(25,10)")).cast("double") /
        count(lit(1)).cast("double")).as("a_avg"))
    val bAvg = ba.groupBy("query_id")
      .agg((sum(col("c7").cast("decimal(25,10)")).cast("double") /
        count(lit(1)).cast("double")).as("b_avg"))
      .withColumnRenamed("query_id", "neighbor_id")
    val scored = ab.join(aAvg, "query_id").join(bAvg, "neighbor_id")
      .withColumn("margin",
        floor(col("c7") / (lit(0.5) * (col("a_avg") + col("b_avg")))
          * lit(1e5) + lit(0.5)).cast("double") / lit(1e5))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("margin").desc, col("neighbor_id").asc)
    scored.withColumn("__mr", row_number().over(w))
      .filter(col("__mr") === 1 && col("margin") >= minMargin)
      .select(col("query_id").as("src_id"),
        col("neighbor_id").as("tgt_id"), col("margin"))
  }

  /** Shared top-k tail: per-query rank by cosine desc (ties → neighbor id
   * asc), keep rank ≤ k. One definition so brute/LSH/IVF cannot diverge. */
  private def topKByCosine(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** Embedding dimensionality probe (one small job). Empty/null-leading
   * corpora get a clear error instead of `next on empty iterator`. */
  private def inferDim(df: DataFrame, vecCol: String): Int = {
    val row = df.select(size(col(vecCol)).as("d")).filter(col("d") > 0).head(1)
    require(row.nonEmpty,
      s"cannot infer embedding dimension: no non-empty '$vecCol' values")
    row.head.getInt(0)
  }

  /** Random hyperplane sign-bucket key(s) for a normalized vector: `nBits`
   * sign bits per table, `nTables` independent tables (seeded). Native
   * Catalyst expression ([[graft.functions.expressions.HyperplaneKeys]]) —
   * no per-element boxing on the corpus scan. */
  private def hyperplaneKeys(
      dim: Int, nTables: Int, nBits: Int, seed: Long,
      probes: Int = 0): Column => Column =
    (c: Column) => graft.functions.expressions.VectorExpressions
      .hyperplaneKeys(c, dim, nTables, nBits, seed, probes)

  /**
   * LSH-bucketed approximate top-k: queries and corpus are bucketed by
   * random-hyperplane sign keys in `nTables` tables; scoring happens only
   * within colliding buckets. Recall grows with nTables, cost shrinks with
   * nBits. Deterministic for a fixed seed.
   *
   * Scale shape: the bucket join and the pair dedup carry ONLY
   * (query_id, neighbor_id) — never embedding vectors. Vectors re-join
   * after the distinct (corpus side shuffled once on id over the distinct
   * candidate set; query side broadcast), so multi-table collisions cost
   * 16 bytes each, not 2·dim doubles. The corpus is SCANNED twice (bucket
   * pass + vector re-join) — at scale a columnar rescan is far cheaper
   * than either materializing the normalized corpus or shuffling vectors
   * per colliding pair, which are the alternatives.
   */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nTables: Int = 8, nBits: Int = 12, seed: Long = 42L,
      probes: Int = 2): DataFrame = {
    val dim = inferDim(corpus, vecCol)
    val keys = hyperplaneKeys(dim, nTables, nBits, seed)
    // multi-probe on the QUERY side only: the corpus (the 100 TB side)
    // indexes one key per table; each query additionally probes all keys
    // within Hamming distance `probes` — recall of more tables at the
    // cost of a wider broadcast, not a wider corpus explode.
    val qkeys = hyperplaneKeys(dim, nTables, nBits, seed, probes)
    val c = Dedup.spreadForCompute(corpus)
      .select(col(idCol).as("neighbor_id"), l2normalize(col(vecCol)).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), l2normalize(col(vecCol)).as("qv"))
    val cb = c.select(col("neighbor_id"), explode(keys(col("cv"))).as("bk"))
    val qb = q.select(col("query_id"), explode(qkeys(col("qv"))).as("bk"))
    val pairs = cb.join(sparkBroadcast(qb), "bk")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct() // a pair may collide in several tables — ids only
    val scored = pairs.join(c, "neighbor_id").join(sparkBroadcast(q), "query_id")
      .withColumn("cosine", dot(col("cv"), col("qv")))
    topKByCosine(scored, k)
  }

  /** Rademacher (±1) random projection to `outDim ≤ 64` dimensions —
   * the Johnson–Lindenstrauss reduce step, as a native expression
   * ([[graft.functions.expressions.RandomProject]]); deterministic for a
   * fixed seed across partitionings and cluster sizes. */
  def randomProject(v: Column, outDim: Int, seed: Long = 42L): Column =
    graft.functions.expressions.VectorExpressions.randomProject(v, outDim, seed)

  /**
   * Reduce–shortlist–rescore approximate top-k: score in a random
   * projection of `projDim ≤ 64` dimensions, keep an over-fetched
   * shortlist of `k·overFetch` candidates per query, then re-score the
   * shortlist with EXACT cosine in the original space. The third standard
   * ANN family next to [[lshTopK]] (bucketing) and IVF (coarse
   * quantization): no buckets to tune — recall is governed by
   * (projDim, overFetch) via the JL distance-distortion bound.
   *
   * Scale shape: the corpus scan scores `projDim`-dim dots instead of
   * full-dim (the dominant cost at 100 TB), and the shortlist window
   * (WindowGroupLimit pre-exchange, like brute force) moves only
   * (query_id, neighbor_id, projected score) — no vectors. Exact
   * re-scoring joins the corpus by id over the shortlist only (queries
   * broadcast), so full-dim work is O(queries·k·overFetch), not
   * O(queries·corpus).
   */
  def projectedTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      projDim: Int = 32, overFetch: Int = 5, seed: Long = 42L): DataFrame = {
    require(overFetch >= 1, s"overFetch must be >= 1, got $overFetch")
    val c = Dedup.spreadForCompute(corpus)
      .select(col(idCol).as("neighbor_id"), l2normalize(col(vecCol)).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), l2normalize(col(vecCol)).as("qv"))
    // project the NORMALIZED vectors: projected dot ≈ cosine (JL preserves
    // inner products of unit vectors up to ±ε)
    val cp = c.select(col("neighbor_id"), randomProject(col("cv"), projDim, seed).as("pv"))
    val qp = q.select(col("query_id"), randomProject(col("qv"), projDim, seed).as("pq"))
    val shortlist = cp.crossJoin(sparkBroadcast(qp))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("ps", dot(col("pv"), col("pq")))
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("ps").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k * overFetch)
      .select(col("query_id"), col("neighbor_id"))
    val scored = shortlist.join(c, "neighbor_id").join(sparkBroadcast(q), "query_id")
      .withColumn("cosine", dot(col("cv"), col("qv")))
    topKByCosine(scored, k)
  }

  /**
   * IVF (inverted-file) coarse quantizer: k-means centroids trained with
   * distributed Lloyd iterations on a corpus sample. Returns unit-norm
   * centroids (k × dim doubles — small enough to embed in expressions).
   *
   * Scale design: beyond one count pass to size the sampling fraction
   * (skippable by passing `totalRows`), training touches only a bounded
   * SAMPLE (`sampleSize` rows, one localCheckpoint); each Lloyd step is
   * one scan + one (cell,pos)-keyed aggregation of the sample; the driver
   * holds k×dim doubles only.
   */
  def trainIvfCentroids(
      corpus: DataFrame, vecCol: String, k: Int,
      iterations: Int = 3, sampleSize: Int = 20000,
      seed: Long = 42L, totalRows: Option[Long] = None): Array[Array[Double]] = {
    require(k >= 1, "k must be >= 1")
    val n = totalRows.getOrElse(corpus.count())
    val frac = math.min(1.0, sampleSize.toDouble / math.max(1L, n))
    val sample = graft.Materialize.eager(Dedup.spreadForCompute(corpus)
      .select(l2normalize(col(vecCol)).as("v"))
      .sample(withReplacement = false, frac, seed))
    // init: k DISTINCT sample rows — duplicate vectors would seed duplicate
    // centroids whose higher-index cell stays empty forever (ties resolve
    // to the lower index), silently shrinking effective k. Sorted by a
    // content hash: a bare limit(k) picks whichever rows the shuffle
    // delivers first, which shifts with partitioning/AQE — the init (and
    // the trained centroids) must be a pure function of data+seed.
    var centroids = sample.distinct()
      .sort(xxhash64(col("v").cast("string")), col("v").cast("string"))
      .limit(k).collect()
      .map(_.getSeq[Double](0).toArray)
    require(centroids.length == k,
      s"corpus sample has only ${centroids.length} rows for k=$k centroids")
    for (_ <- 1 to iterations) {
      val assign = graft.functions.expressions.VectorExpressions
        .nearestCells(col("v"), centroids, 1)(0).as("cell")
      // element-wise mean per cell: explode positions, aggregate, pivot back
      val sums = sample.select(assign, posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(sum(col("x")).as("sx"), count(lit(1)).as("cnt"))
        .collect()
      val byCell = sums.groupBy(_.getInt(0))
      centroids = centroids.indices.map { c =>
        byCell.get(c) match {
          case Some(rows) =>
            val dim = rows.map(_.getInt(1)).max + 1
            val v = new Array[Double](dim)
            rows.foreach(r => v(r.getInt(1)) = r.getDouble(2) / r.getLong(3))
            // re-normalize: cosine IVF wants unit centroids
            val norm = math.sqrt(v.map(x => x * x).sum)
            if (norm > 0) v.map(_ / norm) else centroids(c)
          case None => centroids(c) // empty cell keeps its centroid
        }
      }.toArray
    }
    centroids
  }

  /**
   * Embedding k-means clustering as a first-class operator — the coarse
   * partitioning step SemDeDup-style semantic dedup, topic bucketing and
   * mixture curation build on. Trains unit-norm centroids
   * ([[trainIvfCentroids]]: bounded sample, driver holds k×dim doubles
   * only), then assigns EVERY row by the plan-embedded nearest-centroid
   * expression — one scan, no shuffle, no join; at 100 TB the assignment
   * is a narrow codegen'd map over the corpus. Deterministic for fixed
   * (data, seed). Output: (idCol, cluster:int), cluster ∈ [0, k).
   */
  def clusterEmbeddings(
      df: DataFrame, idCol: String, vecCol: String, k: Int,
      iterations: Int = 3, sampleSize: Int = 20000,
      seed: Long = 42L): DataFrame =
    clusterEmbeddingsWithCentroids(df, idCol, vecCol, k, iterations,
      sampleSize, seed)._1

  /** The trained centroids alongside the assignment — for callers that
   * need both (e.g. per-cluster centrality ranking) without training
   * twice. */
  def clusterEmbeddingsWithCentroids(
      df: DataFrame, idCol: String, vecCol: String, k: Int,
      iterations: Int = 3, sampleSize: Int = 20000,
      seed: Long = 42L): (DataFrame, Array[Array[Double]]) = {
    require(idCol != "cluster", "idCol collides with output column 'cluster'")
    val centroids = trainIvfCentroids(df, vecCol, k, iterations, sampleSize, seed)
    import graft.functions.expressions.VectorExpressions.nearestCells
    (df.select(col(idCol),
      nearestCells(l2normalize(col(vecCol)), centroids, 1)(0).as("cluster")),
      centroids)
  }

  /**
   * IVF approximate top-k: the corpus is partitioned into `centroids.length`
   * cells by nearest centroid (ONE scan, no shuffle — cell assignment is a
   * plan-embedded expression); each query probes its `nProbe` nearest cells
   * and scores only those candidates. Recall grows with nProbe; cost is
   * ~nProbe/k of brute force. The classic clustered-data scale path beside
   * [[lshTopK]] (hyperplane LSH favors uniform data; IVF adapts to
   * cluster structure).
   */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      centroids: Array[Array[Double]], nProbe: Int = 8): DataFrame = {
    import graft.functions.expressions.VectorExpressions.nearestCells
    val c = Dedup.spreadForCompute(corpus)
      .select(col(idCol).as("neighbor_id"), l2normalize(col(vecCol)).as("cv"))
      .withColumn("cell", nearestCells(col("cv"), centroids, 1)(0))
    val q = queries.select(col(idCol).as("query_id"), l2normalize(col(vecCol)).as("qv"))
      .withColumn("cell", explode(nearestCells(col("qv"), centroids, nProbe)))
    val scored = c.join(sparkBroadcast(q), "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", dot(col("cv"), col("qv")))
    topKByCosine(scored, k)
  }

  /**
   * IVF cosine near-pair search: corpus rows bucketed by their `nProbe`
   * nearest cells (probing >1 cell catches pairs straddling a cell
   * boundary); candidate pairs share a cell, then exact-cosine verify.
   * The clustered-data counterpart of [[lshCosinePairs]] — candidates
   * shuffle as (id, cell) ints, never vectors.
   */
  def ivfCosinePairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, centroids: Array[Array[Double]],
      nProbe: Int = 2, maxBucketSize: Int = 10000): DataFrame = {
    import graft.functions.expressions.VectorExpressions.nearestCells
    val v = graft.Materialize.eager(Dedup.spreadForCompute(df)
      .select(col(idCol).as("id"), l2normalize(col(vecCol)).as("v")))
    val banded = v.select(col("id"),
      explode(nearestCells(col("v"), centroids, nProbe)).as("cell"))
    val pairIds = Dedup.bucketPairs(banded, Seq("cell"), maxBucketSize)
    val a = v.select(col("id").as("id_a"), col("v").as("v_a"))
    val b = v.select(col("id").as("id_b"), col("v").as("v_b"))
    pairIds.join(a, "id_a").join(b, "id_b")
      .withColumn("cosine", dot(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /**
   * LSH cosine near-pair search over one corpus (self-join flavor of
   * [[lshTopK]]): pairs whose vectors collide in any table and whose exact
   * cosine ≥ threshold. The scale path for [[Dedup.embeddingNearDupPairs]].
   */
  def lshCosinePairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nTables: Int = 8, nBits: Int = 10,
      seed: Long = 42L, maxBucketSize: Int = 2000,
      probes: Int = 1): DataFrame = {
    val dim = inferDim(df, vecCol)
    // self-join: probing BOTH sides by Hamming-1 keys matches any pair
    // whose sketches differ by ≤ 2 bits in some table (their probe sets
    // intersect) — the recall of ~15× more tables for (nBits+1)× keys.
    // Precision is unaffected: every candidate is exact-cosine verified.
    val keys = hyperplaneKeys(dim, nTables, nBits, seed, probes)
    val v = graft.Materialize.eager(Dedup.spreadForCompute(df)
      .select(col(idCol).as("id"), l2normalize(col(vecCol)).as("v")))
    val banded = v.withColumn("bk", explode(keys(col("v"))))
    val pairIds = Dedup.bucketPairs(banded, Seq("bk"), maxBucketSize)
    val a = v.select(col("id").as("id_a"), col("v").as("v_a"))
    val b = v.select(col("id").as("id_b"), col("v").as("v_b"))
    pairIds.join(a, "id_a").join(b, "id_b")
      .withColumn("cosine", dot(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /**
   * Large-×-large ANN join: approximate top-k `right` neighbors for
   * EVERY row of `left`, with NEITHER side broadcast — the enrichment
   * shape ("attach the k nearest reference documents to each of a
   * billion training documents") that [[lshTopK]]'s broadcast-queries
   * design cannot serve.
   *
   * Scale design: both sides explode to (id, 8-byte LSH bucket key) —
   * multi-probe on the LEFT so the right/reference side indexes one key
   * per table; candidates pair through a plain shuffled equi-join on the
   * bucket key; degenerate buckets (a hash region holding more than
   * maxBucketSize right rows) are dropped loudly-by-contract BEFORE the
   * join, the same skew guard as the dedup family; exact cosines then
   * re-join vectors BY ID (the exchanges up to that point carry ids and
   * 8-byte keys, never embeddings), and per-left top-k runs on the rank
   * window (WindowGroupLimit keeps it partial per map task).
   * `excludeSameId = true` for self-enrichment over one corpus.
   */
  def annJoin(
      left: DataFrame, right: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nTables: Int = 8, nBits: Int = 12, seed: Long = 42L,
      probes: Int = 2, maxBucketSize: Int = 100000,
      excludeSameId: Boolean = false): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val dim = inferDim(right, vecCol)
    val rKeys = hyperplaneKeys(dim, nTables, nBits, seed)
    val lKeys = hyperplaneKeys(dim, nTables, nBits, seed, probes)
    // no checkpoint: each side is consumed twice (bucketing + rescore),
    // but the recompute is a narrow scan + normalize — materializing
    // billion-row normalized vectors into executor storage would cost
    // far more than the rescan (the same call lshTopK documents)
    val l = Dedup.spreadForCompute(left)
      .select(col(idCol).as("query_id"), l2normalize(col(vecCol)).as("qv"))
    val r = Dedup.spreadForCompute(right)
      .select(col(idCol).as("neighbor_id"), l2normalize(col(vecCol)).as("cv"))
    val lb = l.select(col("query_id"), explode(lKeys(col("qv"))).as("bk"))
    val rb = r.select(col("neighbor_id"), explode(rKeys(col("cv"))).as("bk"))
    val big = rb.groupBy("bk").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucketSize).select("bk")
    val rbCapped = rb.join(sparkBroadcast(big), Seq("bk"), "left_anti")
    val pairs0 = lb.join(rbCapped, "bk")
      .select(col("query_id"), col("neighbor_id"))
    val pairs =
      (if (excludeSameId) pairs0.filter(col("query_id") =!= col("neighbor_id"))
       else pairs0).distinct() // collisions across tables — ids only
    val scored = pairs.join(r, "neighbor_id").join(l, "query_id")
      .withColumn("cosine", dot(col("cv"), col("qv")))
    topKByCosine(scored, k)
  }

  /**
   * Hard-negative mining for contrastive / embedding training: for every
   * anchor row, the k most-similar rows with a DIFFERENT label — the
   * negatives that sit closest to the decision boundary, where easy
   * random negatives teach nothing. Exact by default (brute-force cosine
   * screen); pass `approx = true` to route candidate generation through
   * [[annJoin]]'s LSH bucketing (nothing broadcast, the 100 TB path —
   * recall tradeoff disclosed there). The exact default is quadratic in
   * the corpus; a one-time JVM warning fires when the input's plan
   * statistics exceed the broadcast threshold and `approx = false`.
   * Output: (query_id, rank, neighbor_id, cosine), rank 1..k by cosine
   * desc within each anchor.
   */
  def hardNegatives(
      df: DataFrame, idCol: String, vecCol: String, labelCol: String,
      k: Int, approx: Boolean = false,
      nTables: Int = 16, nBits: Int = 8, probes: Int = 2): DataFrame = {
    require(k >= 1, "k must be >= 1")
    if (!approx) {
      steerTowardApprox("hardNegatives", df, df)
      // exact: the label filter runs BEFORE top-k selection, so the
      // result is the true k nearest different-label rows per anchor.
      // Deliberately NO broadcast hint: the "queries" side here is the
      // whole dataset, and forcing it into a broadcast would hit Spark's
      // 8 GB table cap on any real corpus — the planner may still choose
      // to broadcast a small input. Exact is inherently O(n²) compute;
      // approx = true is the scale path.
      val c = Dedup.spreadForCompute(df)
        .select(col(idCol).as("neighbor_id"), l2normalize(col(vecCol)).as("cv"),
          col(labelCol).as("__lb"))
      val q = df.select(col(idCol).as("query_id"), l2normalize(col(vecCol)).as("qv"),
        col(labelCol).as("__la"))
      val scored = c.crossJoin(q)
        .filter(col("neighbor_id") =!= col("query_id"))
        .filter(!(col("__la") <=> col("__lb")))
        .withColumn("cosine", dot(col("cv"), col("qv")))
      topKByCosine(scored, k)
    } else {
      // scale path: LSH candidates over-fetch, the label filter prunes,
      // then re-rank — an anchor whose 4k+8 nearest are ALL same-label
      // can come back short (disclosed recall trade, like annJoin's)
      val labels = df.select(col(idCol), col(labelCol))
      val negatives = annJoin(df, df, idCol, vecCol,
        k = math.max(k * 4, k + 8), nTables = nTables, nBits = nBits,
        probes = probes, excludeSameId = true)
        .join(labels.select(col(idCol).as("query_id"),
          col(labelCol).as("__la")), "query_id")
        .join(labels.select(col(idCol).as("neighbor_id"),
          col(labelCol).as("__lb")), "neighbor_id")
        .filter(!(col("__la") <=> col("__lb")))
        .drop("__la", "__lb", "rank")
      topKByCosine(negatives, k)
    }
  }

  /**
   * Train product-quantization codebooks: `numSubspaces` independent
   * k-means runs (Lloyd's), one per contiguous dim/numSubspaces slice of
   * the L2-normalized vectors. Mirrors the reference's ANN posture
   * (approximate, tunable recall) with the FAISS-style IVF-PQ layout the
   * 100 TB path needs: the corpus is represented by `numSubspaces` small
   * ints per row instead of the raw embedding.
   *
   * Scale design: training runs on a bounded, deterministically-ordered
   * sample (≤ sampleSize rows collected to the driver — same bounded-
   * driver-state pattern as [[trainIvfCentroids]]'s init); the cluster
   * never sees more than sampleSize×dim doubles at once. Deterministic
   * for fixed (data, seed): the sample is ordered by content hash, init
   * takes the first `codebookSize` distinct sub-vectors, and Lloyd's
   * ties resolve to the lower codeword index.
   *
   * Returns codebooks(s)(c) = codeword c of subspace s, each of length
   * dim/numSubspaces.
   */
  def trainPqCodebooks(
      corpus: DataFrame, vecCol: String,
      numSubspaces: Int = 8, codebookSize: Int = 16,
      iterations: Int = 8, sampleSize: Int = 20000,
      seed: Long = 42L, totalRows: Option[Long] = None): Array[Array[Array[Double]]] = {
    require(numSubspaces >= 1, "numSubspaces must be >= 1")
    require(codebookSize >= 1, "codebookSize must be >= 1")
    val dim = inferDim(corpus, vecCol)
    require(dim % numSubspaces == 0,
      s"embedding dim $dim not divisible by numSubspaces=$numSubspaces")
    val dsub = dim / numSubspaces
    val n = totalRows.getOrElse(corpus.count())
    val frac = math.min(1.0, sampleSize.toDouble / math.max(1L, n))
    // one bounded collect; ordered by content hash so the trained books
    // are a pure function of (data, seed), not of shuffle arrival order
    val rows = Dedup.spreadForCompute(corpus)
      .select(l2normalize(col(vecCol)).as("v"))
      .sample(withReplacement = false, frac, seed)
      .distinct()
      .sort(xxhash64(col("v").cast("string")), col("v").cast("string"))
      .limit(sampleSize)
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(rows.nonEmpty, "corpus sample is empty — cannot train PQ codebooks")
    Array.tabulate(numSubspaces) { s =>
      val base = s * dsub
      val subs = rows.map { v =>
        Array.tabulate(dsub)(i => if (base + i < v.length) v(base + i) else 0.0)
      }
      // init: first codebookSize distinct sub-vectors in hash order
      val init = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
      val seen = scala.collection.mutable.HashSet.empty[Seq[Double]]
      var r = 0
      while (r < subs.length && init.length < codebookSize) {
        val key = subs(r).toSeq
        if (!seen(key)) { seen += key; init += subs(r) }
        r += 1
      }
      var book = init.toArray
      for (_ <- 1 to iterations) {
        val sums = Array.fill(book.length)(new Array[Double](dsub))
        val cnts = new Array[Long](book.length)
        subs.foreach { x =>
          var best = 0
          var bestD = Double.PositiveInfinity
          var c = 0
          while (c < book.length) {
            var d = 0.0
            var i = 0
            while (i < dsub) { val t = x(i) - book(c)(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          var i = 0
          while (i < dsub) { sums(best)(i) += x(i); i += 1 }
          cnts(best) += 1
        }
        book = book.indices.map { c =>
          if (cnts(c) > 0) sums(c).map(_ / cnts(c)) else book(c)
        }.toArray
      }
      book
    }
  }

  /** PQ-encode a vector column against trained codebooks (plan-embedded
   * codegen'd expression — one narrow map, no shuffle). */
  def pqEncode(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    graft.functions.expressions.VectorExpressions.pqEncode(vec, codebooks)

  /** ADC approximate cosine of a raw query vector against a PQ code
   * array (see [[graft.functions.expressions.PqAdcScore]]). */
  def pqAdcScore(qv: Column, codes: Column,
      codebooks: Array[Array[Array[Double]]]): Column =
    graft.functions.expressions.VectorExpressions.pqAdcScore(qv, codes, codebooks)

  /**
   * IVF-PQ top-k: coarse IVF cells route each query to nProbe partitions
   * of the corpus; within the probed cells candidates are scored by ADC
   * over `numSubspaces` small ints, and only the per-query top
   * (k × refine) shortlist is re-ranked with exact cosines.
   *
   * Scale design — this is the 100 TB ANN operator:
   *   - the candidate join moves (neighbor_id, cell, codes) only: for a
   *     dim-768 float corpus that is a ~190× shuffle reduction;
   *   - queries (≪ corpus) are broadcast, the corpus is scanned once;
   *   - the exact-rerank join touches |queries|·k·refine rows, not the
   *     corpus.
   * refine = 0 skips the re-rank and returns ADC scores as `cosine`
   * (fastest, least exact). With nProbe = #centroids and a shortlist
   * covering the corpus the result is exactly [[bruteForceTopK]].
   */
  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      nProbe: Int = 8, refine: Int = 4): DataFrame = {
    import graft.functions.expressions.VectorExpressions.nearestCells
    require(k >= 1, "k must be >= 1")
    require(refine >= 0, "refine must be >= 0")
    val cPlan = Dedup.spreadForCompute(corpus)
      .select(col(idCol).as("neighbor_id"), l2normalize(col(vecCol)).as("cv"))
      .withColumn("cell", nearestCells(col("cv"), centroids, 1)(0))
      .withColumn("codes", pqEncode(col("cv"), codebooks))
    // checkpoint only when the re-rank actually reuses the encoded corpus;
    // at refine = 0 it is consumed once and materializing it buys nothing
    val c = if (refine > 0) graft.Materialize.eager(cPlan) else cPlan
    val q = queries
      .select(col(idCol).as("query_id"), l2normalize(col(vecCol)).as("qv"))
      .withColumn("cell", explode(nearestCells(col("qv"), centroids, nProbe)))
    val adc = c.select(col("neighbor_id"), col("cell"), col("codes"))
      .join(sparkBroadcast(q), "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", pqAdcScore(col("qv"), col("codes"), codebooks))
    if (refine == 0) topKByCosine(adc, k)
    else {
      val shortlist = topKByCosine(adc, k * refine)
        .select(col("query_id"), col("neighbor_id"))
      val rescored = shortlist
        .join(c.select(col("neighbor_id"), col("cv")), "neighbor_id")
        .join(sparkBroadcast(q.select(col("query_id"), col("qv")).distinct()), "query_id")
        .withColumn("cosine", dot(col("cv"), col("qv")))
      topKByCosine(rescored, k)
    }
  }

}
