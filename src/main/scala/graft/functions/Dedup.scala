package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for large-scale corpus curation — exact,
 * MinHash-LSH, SimHash and exact n-gram-Jaccard near-dup detection.
 *
 * Scale design (100 TB corpora):
 *  - every stage is a declarative DataFrame op (codegen'd, AQE-planned);
 *  - candidate generation shuffles only (doc_id, band/bucket keys, small
 *    signatures), never full documents;
 *  - frequent-bucket skew is capped (`maxBucketSize`) so a degenerate
 *    shingle/band cannot produce a quadratic bucket — the cap is a recall
 *    knob, not a correctness knob, for the LSH variants;
 *  - exact verification joins signatures (shingle-hash arrays), not texts.
 */
object Dedup {

  /** Ensure a CPU-bound projection stage has at least cluster-parallelism
   * partitions; no-op when the input is already well-split (the 100 TB
   * case — splits come from the source). Probes the INTERNAL-row RDD:
   * `df.rdd` would build a row-deserializer plan conversion on every
   * dedup entry point (driver-side planning cost, no job either way). */
  private[functions] def spreadForCompute(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions >= target) df
    else df.repartition(target)
  }

  /** Exact dedup: keep one row per distinct value of `keyCols`, choosing the
   * smallest `tieBreak` (deterministic when `tieBreak` is unique per key —
   * use the row id; unlike `dropDuplicates`, which keeps an arbitrary row).
   * Remaining orderable columns serve as secondary tie-breaks so even
   * duplicate tieBreak values resolve deterministically. Single
   * hash-shuffle on the key columns. */
  def exact(df: DataFrame, keyCols: Seq[String], tieBreak: String): DataFrame = {
    import org.apache.spark.sql.types._
    def orderable(dt: DataType): Boolean = dt match {
      case _: NumericType | StringType | BooleanType | DateType |
           TimestampType | TimestampNTZType | BinaryType => true
      case _ => false
    }
    val secondary = df.schema.fields.collect {
      case f if f.name != tieBreak && !keyCols.contains(f.name) &&
        orderable(f.dataType) => col(f.name).asc_nulls_last
    }
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tieBreak).asc +: secondary.toIndexedSeq: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Word k-shingles of a text column, hashed to 64-bit via xxhash64 —
   * distinct, as an array column. Empty/short docs yield an empty array.
   * Native single-pass expression
   * ([[graft.functions.expressions.ShingleHashes]]); semantics pinned to
   * the declarative formulation ([[shingleHashesDeclarative]]) by a
   * differential spec. */
  def shingleHashes(text: Column, k: Int): Column =
    graft.functions.expressions.VectorExpressions.shingleHashes(text, k)

  /** The declarative (built-in-functions-only) formulation of
   * [[shingleHashes]] — kept as the semantic reference for the
   * differential test; ~25x slower (interpreted lambda + per-window slice
   * copy), do not use in hot paths. */
  private[graft] def shingleHashesDeclarative(text: Column, k: Int): Column = {
    val toks = split(trim(text), "\\s+")
    // sliding k-grams: for i in 0..n-k, hash(join(tokens[i..i+k]));
    // all-whitespace text yields empty for every k (blank-doc guard —
    // regex split of a blank string produces empty-string tokens)
    val n = size(toks)
    val idx = sequence(lit(0), greatest(n - k, lit(-1)))
    array_distinct(
      when(n >= k && length(regexp_replace(text, "\\s+", "")) > 0,
        transform(idx, i => xxhash64(concat_ws(" ", slice(toks, i + lit(1), lit(k))))))
        .otherwise(array().cast("array<bigint>")))
  }

  private val MersennePrime = (1L << 61) - 1

  /** Σdf²/Σdf bar of [[ngramJaccardPairs]]'s one sampled probe: co-occurrence
   * at or below it, prefix filtering above (a wrong route leans to prefix). */
  private val AmpThreshold = 64.0

  /** MinHash signature (H values) of a shingle-hash array — native
   * expression over ArrayData primitives
   * ([[graft.functions.expressions.MinHashSignature]]). */
  def minhashSignature(numHashes: Int, seed: Long = 42L): Column => Column =
    (c: Column) => graft.functions.expressions.VectorExpressions
      .minhashSignature(c, numHashes, seed)

  /** Memo for [[shingleStage]]: the shingle pass over the full corpus is
   * the shared first stage of the whole dedup family (minhash, exact
   * n-gram, pipelines), so it is materialized ONCE per (input plan,
   * params) and reused. Keyed on the canonicalized logical plan +
   * parameters + a file-level data fingerprint (path/size/mtime of the
   * scan's input files — the canonicalized plan alone is rootPath-based,
   * so rewriting the same path within a session would otherwise serve
   * stale shingles). Values are eagerly localCheckpoint'd (materialized).
   * Bounded: eviction unpersists the checkpointed frames — frames
   * returned BEFORE a clear become unusable (local checkpoints truncate
   * lineage), which is the documented contract of
   * [[clearSignatureCache]]. */
  private val shingleCache =
    new java.util.concurrent.ConcurrentHashMap[(Any, Any, String, String, Int, Long), DataFrame]()

  /** Memo for [[minhashSignatures]] — the derived (shingle + sig) frame,
   * NOT separately checkpointed: the signature column is a cheap native
   * pass over the checkpointed shingle stage, and Catalyst prunes it in
   * branches that read only (id, sh). Kept as a map so repeated calls
   * return the identical frame (plan-reuse within one query DAG). */
  private val signatureCache =
    new java.util.concurrent.ConcurrentHashMap[(Any, Any, String, String, Int, Int, Long, Long), DataFrame]()

  /** Drop all memoized shingle/signature frames and eagerly free their
   * blocks. Frames previously returned by [[shingleStage]] /
   * [[minhashSignatures]] must not be used after this call — eager
   * unpersist destroys the checkpoint blocks and local checkpoints cannot
   * be recomputed. (Automatic overflow eviction deliberately does NOT
   * unpersist — see [[evictIfOverflowing]].)
   *
   * Concurrency: must not race in-flight dedup calls on the same session —
   * a stage resolved just before the clear could be re-cached just after
   * it with its blocks already unpersisted. Call it between pipelines
   * (driver-side orchestration is single-threaded in practice), not from
   * a concurrent thread. */
  def clearSignatureCache(): Unit = {
    val it = shingleCache.values.iterator()
    while (it.hasNext) {
      graft.Materialize.release(it.next())
    }
    shingleCache.clear()
    signatureCache.clear()
  }

  /** Bounded-size guard: on overflow, drop the cache REFERENCES only —
   * callers may still hold returned frames, and unpersisting a local
   * checkpoint under them would make those frames unrecoverable (lineage
   * is truncated). The orphaned blocks are reclaimed by Spark's
   * ContextCleaner once the frames become unreachable. Eager reclamation
   * is the explicit [[clearSignatureCache]] call's contract, not the
   * automatic one. */
  private def evictIfOverflowing(): Unit =
    if (shingleCache.size > 32 || signatureCache.size > 32) {
      shingleCache.clear()
      signatureCache.clear()
    }

  /**
   * Shared shingle stage: (id, sh) — the distinct shingle-hash set per
   * document — materialized once per (input plan, params) and reused by
   * every text-dedup operator in the session (minhash banding, exact
   * n-gram, pipelines). Shingle hashes are ~8B each: at 100 TB of text
   * this is the small frame.
   */
  def shingleStage(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3): DataFrame =
    shingleStageKeyed(df, idCol, textCol, shingleK, graft.Materialize.inputFingerprint(df))

  private def shingleStageKeyed(
      df: DataFrame, idCol: String, textCol: String, shingleK: Int,
      fp: Long): DataFrame = {
    // the session is part of the key: a cached frame is bound to its
    // SparkSession (its localCheckpoint blocks die with the context), so a
    // new session in the same JVM must not be served another's entry.
    // Bounded: a JVM cycling sessions would otherwise retain dead sessions
    // and their checkpointed frames forever.
    evictIfOverflowing()
    val key = (df.sparkSession, df.queryExecution.logical.canonicalized,
      idCol, textCol, shingleK, fp)
    shingleCache.computeIfAbsent(key, _ =>
      // Repartition first: a small parquet arrives as 1-2 splits, which
      // would serialize the CPU-bound shingle stage on one core.
      graft.Materialize.eager(spreadForCompute(df)
        .select(col(idCol).as("id"), shingleHashes(col(textCol), shingleK).as("sh"))
        .filter(size(col("sh")) > 0)))
  }

  /**
   * Shared signature stage: (id, sh, sig) — shingle-hash set and MinHash
   * signature per document. Built on the checkpointed [[shingleStage]];
   * the sig column itself is a lazy native pass (no second
   * materialization — branches that read only (id, sh) prune it).
   */
  def minhashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numHashes: Int = 128,
      seed: Long = 42L): DataFrame = {
    // resolve the shingle stage BEFORE entering computeIfAbsent: the
    // mapping function of a ConcurrentHashMap must not touch the maps
    // (shingleStage may evict), and CHM prohibits recursive updates.
    // One fingerprint computation serves both keys (it costs up to 64
    // FileSystem.getFileStatus calls — a network RPC each on object stores)
    val fp = graft.Materialize.inputFingerprint(df)
    val base = shingleStageKeyed(df, idCol, textCol, shingleK, fp)
    val key = (df.sparkSession, df.queryExecution.logical.canonicalized,
      idCol, textCol, shingleK, numHashes, seed, fp)
    signatureCache.computeIfAbsent(key, _ => {
      val sigFn = minhashSignature(numHashes, seed)
      base.withColumn("sig", sigFn(col("sh")))
    })
  }

  /**
   * MinHash-LSH near-duplicate pairs with exact-Jaccard verification.
   *
   * Pipeline: shingle → signature → band buckets → bucket grouping emits
   * candidate pairs → join back shingle sets → exact jaccard filter.
   * Shuffles: one on band keys (doc_id + 8-byte band hash only), one to
   * dedup candidates, two broadcast-or-shuffle joins on doc_id for
   * verification. Output: (id_a, id_b, jaccard) with id_a < id_b.
   *
   * @param maxBucketSize caps pair emission per LSH bucket (skew guard —
   *        a bucket of B docs emits B² pairs; default 1000 ⇒ ≤ ~500k pairs
   *        per degenerate bucket).
   */
  def minhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numHashes: Int = 128,
      bands: Int = 16,
      threshold: Double = 0.5,
      seed: Long = 42L,
      maxBucketSize: Int = 1000): DataFrame =
    minhashNearDupPairsFromSigs(
      minhashSignatures(df, idCol, textCol, shingleK, numHashes, seed),
      numHashes, bands, threshold, maxBucketSize)

  /** [[minhashNearDupPairs]] over a precomputed signature frame
   * ((id, sh, sig) from [[minhashSignatures]]) — the signature stage is
   * the dominant cost; share it across pipeline stages. */
  def minhashNearDupPairsFromSigs(
      sigs: DataFrame,
      numHashes: Int = 128,
      bands: Int = 16,
      threshold: Double = 0.5,
      maxBucketSize: Int = 1000): DataFrame = {
    // bands > numHashes would make every band an empty slice (one
    // corpus-wide bucket → zero pairs after the cap — silent "no
    // duplicates"); a non-dividing bands would silently ignore the
    // trailing hash functions
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands=$bands must divide numHashes=$numHashes")
    val rows = numHashes / bands
    // band keys: hash of each signature slice (bands is a plan-time constant)
    val bandCols = (0 until bands).map(b =>
      xxhash64(concat_ws(",", slice(col("sig"), b * rows + 1, rows)), lit(b)))
    val banded = sigs.select(
      col("id"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bh")))
    // bucket → candidate pairs (size-capped before the quadratic step)
    val candidates = bucketPairs(banded, Seq("band", "bh"), maxBucketSize)
    verifyJaccard(candidates, sigs.select(col("id"), col("sh")), threshold)
  }

  /** Candidate pairs from bucket keys: bucket-size filter (the skew cap,
   * applied BEFORE the quadratic step) then a self-join with id_a < id_b.
   * Type-agnostic in the id column — any orderable id works.
   *
   * Deliberately the SELF-JOIN formulation. An r16 experiment replaced it
   * with a per-bucket collect_list + streaming pair generator (one fewer
   * shuffle of the banded stream, upstream executed once instead of
   * twice) — a wash at bench scale on the banded shape, but a PARALLELISM
   * COLLAPSE on the few-large-buckets shape (ivfCosinePairs: ~8 cells ×
   * thousands of members, cap 10000): the bucket frame is tiny in bytes,
   * AQE coalesces it to ~1 partition, and the quadratic pair expansion +
   * partial-distinct then run in ONE unsplittable task (observed as a
   * 45-minute single-task spill straggler in the sf1 gate). The join
   * formulation keeps the expansion inside a join whose skewed partitions
   * AQE skew-join handling CAN split across tasks. Generation-per-bucket
   * cannot be split below one bucket row — wrong primitive at scale. */
  def bucketPairs(
      banded: DataFrame, bucketCols: Seq[String], maxBucketSize: Int): DataFrame = {
    // r17 also tried (and REVERTED) a deterministic SALT on the quadratic
    // expansion for buckets above 2048 members (verdict ask: split the
    // worst bucket without relying on AQE skew-join grace): side a keyed
    // by pmod(xxhash64(id), ceil(bsz/2048)), side b exploded across the
    // salts — pair set proven identical (PairGenSpec pins it, incl. a
    // genuinely salted 3000-member bucket). Measured on the A2-repro
    // shape (8 cells × 6000 members, cap 10000): 0.98× under forced SMJ,
    // 0.70×-to-noise under the bench-like BHJ regime. The deciding
    // measurement: the one REAL query on the salted path (s06's nProbe=k
    // full-recall differential, cap 100000, buckets = all 20k sf1
    // embeddings) ran a 55+ minute single-task straggler in the r17 sf1
    // gate WITH the salt (5.4 GB partial-distinct hash map, one runnable
    // worker) versus ~2 MINUTES for this unsalted formulation on the
    // re-run gate — a ≥25× salt-caused regression. Probable mechanism:
    // the two-column (bucket, __salt) join key demotes the broadcast
    // build from the specialized LongHashedRelation to the generic
    // unsafe relation, with nsalt× the build rows, and the synthetic A/B
    // shape (nsalt 3) was too small to surface it. Reverted per the r16
    // A2 discipline: no shuffle-topology change ships without sf1-gate
    // evidence.
    val keys = bucketCols.map(col)
    val useful = banded.groupBy(keys: _*).agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz").between(2, maxBucketSize))
      .select(keys: _*)
    val pruned = banded.join(useful, bucketCols)
    val a = pruned.select((keys :+ col("id").as("id_a")): _*)
    val b = pruned.select((keys :+ col("id").as("id_b")): _*)
    a.join(b, bucketCols).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Join candidate (id_a,id_b) pairs back to shingle sets and keep pairs
   * with exact Jaccard ≥ threshold.
   *
   * Deliberately WITHOUT a size-compatibility prefilter (r17,
   * measured-and-rejected twice on the real d02 shape at sf0.1 —
   * same-JVM interleaved A/B over a frozen candidate set, min of 3):
   *  - a dedicated (id, sz) prefilter JOIN pair ahead of the array joins
   *    (the literal r16-verdict ask) measured 0.63× (0.146 → 0.232 s);
   *  - the zero-join variant (size filter between the joins and the
   *    intersect projection) still measured 0.80× (0.152 → 0.191 s).
   * Both pruned ZERO of the 256 banding candidates: LSH banding is
   * itself the size filter — a pair with incompatible sizes has
   * J ≤ min/max < t, and its probability of agreeing on a full
   * rows-per-band signature slice is s^(numHashes/bands) ≪ 1, so
   * size-incompatible false positives are structurally rare at ANY
   * scale. (The r16 verdict's ~409k-candidate figure that motivated the
   * prefilter belongs to d04's co-occurrence path, which already carries
   * the Bayardo length filter through its prefix join.) Any future width
   * work must keep VerifyJaccardSpec green. */
  private[functions] def verifyJaccard(
      candidates: DataFrame, sigs: DataFrame, threshold: Double): DataFrame = {
    val a = sigs.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b = sigs.select(col("id").as("id_b"), col("sh").as("sh_b"))
    candidates.join(a, "id_a").join(b, "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** 64-bit SimHash over word k-gram shingle features (per-bit majority
   * vote on the shingle hashes — native expression). Shingle features, not
   * single tokens, keep signatures discriminative when documents share a
   * vocabulary but not phrasing. */
  def simhash(text: Column, shingleK: Int = 3): Column =
    graft.functions.expressions.VectorExpressions
      .simhash64(shingleHashes(lower(text), shingleK))

  /**
   * SimHash near-dup pairs with Hamming distance ≤ maxHamming. Banding by
   * pigeonhole: with `nBands` 16-bit bands, any pair within Hamming d <
   * nBands shares at least one exact band → candidate. Verification uses
   * native bit_count(xor).
   */
  def simhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000): DataFrame = {
    // docs with NO shingle features (blank/short/null text) all hash to
    // sig=0 — without this filter they'd pairwise report as hamming-0
    // "near-duplicates" despite carrying zero signal. Same exclusion the
    // minhash family applies via shingleStage's size(sh) > 0.
    val sigs = df
      .select(col(idCol).as("id"),
        shingleHashes(lower(col(textCol)), 3).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .select(col("id"), graft.functions.expressions.VectorExpressions
        .simhash64(col("__sh")).as("sig"))
    hamming64Pairs(sigs, maxHamming, maxBucketSize)
  }

  /**
   * All pairs of 64-bit signatures within Hamming distance ≤ `maxHamming`
   * — the shared core of [[simhashNearDupPairs]] (text) and
   * [[Multimodal.imageNearDupPairs]] (perceptual image hashes). `sigs`
   * must be (id, sig: long). Pigeonhole banding: any pair differing in ≤
   * maxHamming bits agrees exactly on at least one of maxHamming+1
   * disjoint bands → candidate; verification is native
   * bit_count(xor) ≤ maxHamming, so the result is EXACT (banding only
   * prunes). Exchanges carry (band#, band hash, id) — never payloads;
   * `maxBucketSize` caps degenerate buckets before the quadratic step.
   */
  def hamming64Pairs(
      sigs: DataFrame, maxHamming: Int,
      maxBucketSize: Int = 1000): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 31,
      s"maxHamming must be in [0, 31], got $maxHamming")
    val nBands = maxHamming + 1
    // equal-width bands of 64/nBands bits; the LAST band absorbs the
    // remainder so all 64 bits are covered (completeness needs every bit
    // inside exactly one band)
    val w = 64 / nBands
    val bandCols = (0 until nBands).map { b =>
      val width = if (b == nBands - 1) 64 - b * w else w
      val shifted = shiftright(col("sig"), b * w)
      if (width >= 64) shifted
      else shifted.bitwiseAND(lit((1L << width) - 1))
    }
    val banded = sigs.select(col("id"), col("sig"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bh")))
    val candidates = bucketPairs(banded, Seq("band", "bh"), maxBucketSize)
    val a = sigs.select(col("id").as("id_a"), col("sig").as("sig_a"))
    val b = sigs.select(col("id").as("id_b"), col("sig").as("sig_b"))
    candidates.join(a, "id_a").join(b, "id_b")
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /**
   * Exact n-gram Jaccard similarity join (no LSH approximation): every
   * unordered pair (id_a < id_b) whose word-`shingleK`-gram sets have
   * Jaccard ≥ `threshold`. Two exact candidate generators read the same
   * [[postings]]:
   *
   * Co-occurrence counting: the inverted index self-joins on the shingle
   * hash and counts each pair's shared shingles, then joins the set sizes
   * back. It generates Σdf² join rows — linear in the corpus when dfs are
   * bounded (duplicate clusters of bounded size, the common curated-corpus
   * case), where its narrow-row aggregate wins (sf0.1: 3.0 s vs 4.9 s —
   * a 2.8M-row count aggregate vs 409k verified candidates).
   *
   * Prefix filtering: AllPairs (Bayardo, Ma, Srikant, "Scaling Up All
   * Pairs Similarity Search", WWW'07). Sort each document's shingles by
   * ascending corpus document-frequency (ties by hash — any consistent
   * global order works); index ONLY the first `|S| - ceil(t*|S|) + 1`
   * shingles. Completeness: for a pair with jaccard >= t, the
   * globally-minimal shared shingle must sit inside BOTH prefixes — if it
   * escaped A's prefix, A would hold at least
   * `|S_A| - prefixLen + 1 = ceil(t*|S_A|)` shingles ordered strictly
   * before every shared one and absent from B, forcing
   * `|A∩B| <= ceil(t*|S_A|) - 1 < t*|S_A| <= |A∩B|` — a contradiction.
   * Candidates are then verified against FULL shingle sets. Frequent
   * shingles almost never land in a df-ascending prefix, so this is the
   * arm that survives an UNBOUNDED df head (web boilerplate, df in the
   * millions), where Σdf² explodes quadratically.
   *
   * Routing: one probe on a deterministic 1-in-8 document sample measures
   * the join amplification Σdf²/Σdf of its df table. A heavy shingle's
   * sampled df concentrates at df/8, so the estimate is de-biased by 8;
   * co-occurrence runs at or below [[AmpThreshold]], prefix filtering
   * above. The chosen arm builds its df table lazily inside its own plan,
   * so routing materializes nothing. Both arms are exact (FunctionsSpec
   * pins them equal), so a wrong route costs time only, and it leans to
   * prefix filtering: the 8× de-bias overstates the amplification of
   * bounded-df corpora (16.6 against an exact 2.67 on the sf0.01
   * documents), so co-occurrence is picked only when the exact Σdf²/Σdf
   * is at most about 64.
   *
   * `maxShingleDf` (a documented skew-guard APPROXIMATION that ignores
   * ubiquitous shingles) always runs co-occurrence: its semantics depend
   * on counting intersections over the cut universe.
   */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      threshold: Double = 0.5,
      maxShingleDf: Int = Int.MaxValue): DataFrame = {
    // shared materialized shingle stage — reused across the dedup family
    val sigs = shingleStage(df, idCol, textCol, shingleK)
    if (maxShingleDf != Int.MaxValue) ngramJaccardCooccur(sigs, threshold, maxShingleDf)
    else {
      // Sums run in double: a Long Σdf² overflows at exactly the
      // unbounded-df scale this probe exists to detect (df ~1e7 ⇒
      // df² ~1e14; a few thousand such shingles exceed 2⁶³ — ANSI mode
      // would throw, non-ANSI would wrap negative and mis-route).
      val (_, sampledDfs) = postings(sigs.filter(pmod(xxhash64(col("id")), lit(8)) === 0))
      val r = sampledDfs.select(sum(col("df").cast("double")),
        sum(col("df").cast("double") * col("df"))).first()
      val est = if (r.isNullAt(0) || r.getDouble(0) == 0.0) 0.0
        else 8.0 * r.getDouble(1) / r.getDouble(0)
      if (est <= AmpThreshold) ngramJaccardCooccur(sigs, threshold, Int.MaxValue)
      else ngramJaccardPrefixFiltered(sigs, threshold)
    }
  }

  /**
   * The inverted index of the Jaccard/containment family over a (id, sh)
   * shingle frame: the (id, s) posting stream and its df table (s, df),
   * both lazy. The df table keeps the shingles of at least two documents,
   * and of at most `maxShingleDf` when a cut is given. Dropping df = 1
   * shingles is exact: a shared shingle has df ≥ 2 by definition, and
   * the prefix-length bound stays valid on the pruned sets (jaccard ≥ t
   * implies |A∩B| ≥ t·|A| ≥ t·|A'| for the pruned A' ⊆ A). On natural
   * text most shingles ARE unique (the long tail), so this also removes
   * the bulk of the join and per-doc sort input. No broadcast hint: AQE
   * broadcasts the df table when small; forcing it would OOM at 100 TB.
   */
  private def postings(
      sigs: DataFrame, maxShingleDf: Int = Int.MaxValue): (DataFrame, DataFrame) = {
    val inverted = sigs.select(col("id"), explode(col("sh")).as("s"))
    val counted = inverted.groupBy("s").agg(count(lit(1)).as("df"))
    val dfs =
      if (maxShingleDf == Int.MaxValue) counted.filter(col("df") >= 2)
      else counted.filter(col("df").between(2, maxShingleDf))
    (inverted, dfs)
  }

  /** Prefix-filtered exact path over a (id, sh) shingle frame. */
  private[graft] def ngramJaccardPrefixFiltered(
      sigs: DataFrame, threshold: Double): DataFrame = {
    val (inverted, dfs) = postings(sigs)
    // prefixLen = |S| - ⌈t·|S|⌉ + 1. The ceiling must be the REAL-
    // arithmetic one: the IEEE product t*|S| can land a hair above an
    // exact integer (0.55*20 = 11.000000000000002), which would shorten
    // the prefix by one and silently drop exact-boundary pairs. Nudge
    // down both RELATIVELY (1e-12 — covers the half-ulp error at any
    // magnitude: ulp(x)/2 ≈ x·1.1e-16 ≪ x·1e-12) and absolutely (1e-9 —
    // covers tiny products where the relative term vanishes) before ceil.
    // When the true product genuinely sits within the nudge above an
    // integer the prefix comes out one LONGER — harmless (a longer prefix
    // only adds candidates, never loses them).
    val prefixLen =
      (size(col("ss")) -
        ceil(lit(threshold) * size(col("ss")) * lit(1.0 - 1e-12) - lit(1e-9))
          .cast("int") + 1)
    val prefixes = inverted.join(dfs, "s")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("ss"))
      .select(col("id"), size(col("ss")).as("sz"),
        explode(slice(col("ss"), lit(1), prefixLen)).as("e"))
      .select(col("id"), col("sz"), col("e.s").as("s"))
    // Bayardo length filter rides the prefix self-join: J >= t forces
    // t·|B| <= |A| <= |B|/t, so carrying the 4-byte set size through the
    // exchange prunes length-incompatible candidates BEFORE the distinct
    // and long before verifyJaccard ships both full shingle arrays per
    // pair. Same FP-boundary nudge as prefixLen: the relaxed bound can
    // only KEEP an extra candidate, never lose a qualifying pair.
    // (sz here counts the df>=2 shingles — both the prefix ordering's and
    // the filter's universe; unique-shingle mass cannot contribute to an
    // intersection, and the bound stays valid on the common universe.)
    val nt = lit(threshold * (1.0 - 1e-12))
    val eps = lit(1e-9)
    val l = prefixes.select(col("s"), col("id").as("id_a"), col("sz").as("sz_a"))
    val r = prefixes.select(col("s"), col("id").as("id_b"), col("sz").as("sz_b"))
    val candidates = l.join(r, "s")
      .filter(col("id_a") < col("id_b") &&
        col("sz_b") * nt <= col("sz_a") + eps &&
        col("sz_a") * nt <= col("sz_b") + eps)
      .select(col("id_a"), col("id_b")).distinct()
    verifyJaccard(candidates, sigs.select(col("id"), col("sh")), threshold)
  }

  /** Co-occurrence exact path over a (id, sh) shingle frame — also the
   * `maxShingleDf` skew-guard mode, and the semantic reference the
   * prefix-filtered path is differential-tested against. */
  private[graft] def ngramJaccardCooccur(
      sigs: DataFrame, threshold: Double, maxShingleDf: Int): DataFrame =
    cooccurCounts(sigs, maxShingleDf)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Shared co-occurrence core: unordered candidate pairs (id_a < id_b)
   * with their exact shingle-intersection count and both set sizes —
   * jaccard ([[ngramJaccardCooccur]]) and directional containment
   * ([[containmentPairs]]) are both one projection away, so the
   * inverted-index machinery (self-join, count aggregate, size
   * join-back) lives exactly once. */
  private def cooccurCounts(sigs: DataFrame, maxShingleDf: Int): DataFrame = {
    val (inverted, dfs) = postings(sigs, maxShingleDf)
    val sizes = sigs.select(col("id"), size(col("sh")).as("sz"))
    // deliberately the SELF-JOIN formulation, not the SortedPairs bucket
    // generator used by bucketPairs: the posting stream is dominated by
    // tiny df≈2 buckets (the natural-text long tail), where the per-group
    // ObjectHashAggregate(collect_list)+generator overhead measures ~55%
    // slower than the codegen'd join + partial-count aggregate at the
    // bench scale (r16 A/B: 0.85 s join vs 1.32 s generator on the sf0.1
    // posting stream). The LSH banded stream (few, larger buckets) is the
    // shape where the generator wins — see bucketPairs.
    val pruned = inverted.join(dfs.select("s"), "s")
    val l = pruned.select(col("s"), col("id").as("id_a"))
    val r = pruned.select(col("s"), col("id").as("id_b"))
    val co = l.join(r, "s").filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    co.join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
  }

  /**
   * Directional n-gram CONTAINMENT join: ordered pairs (id_a, id_b) where
   * the fraction of id_a's distinct word-k-gram shingles also present in
   * id_b meets `threshold` — containment(a→b) = |A ∩ B| / |A|. Unlike
   * the symmetric Jaccard of [[ngramJaccardPairs]], containment catches
   * SUBSET relationships: a quoted paragraph inside a longer article, a
   * chunk of boilerplate embedded in many pages, an excerpt of a larger
   * document — pairs whose Jaccard is tiny because the containing side is
   * large. The standard asymmetric-dedup signal (quote/excerpt detection;
   * cf. the containment measure of Broder's "On the resemblance and
   * containment of documents", SEQUENCES 1997).
   *
   * Output: (id_a, id_b, containment) with id_a ≠ id_b — directional, so
   * a ⊂ b and b ⊂ a are separate rows. Documents with fewer than k tokens
   * have no shingles and never pair. Self-pairs are excluded.
   *
   * Scale: identical machinery to the Jaccard co-occurrence path — one
   * inverted-index self-join over shingles that appear in ≥ 2 documents
   * (8-byte hash keys in the exchange, never text), one (id_a, id_b)
   * count aggregate, sizes joined back. The intersection count is
   * computed once per unordered pair and emitted in both directions —
   * no second self-join. `maxShingleDf` caps the df of any shingle
   * admitted to the self-join (web boilerplate appearing in millions of
   * docs would otherwise explode sum(df²)); capped shingles still count
   * toward |A| in the denominator, so containment is then a LOWER bound —
   * the conservative direction for dedup (documented skew guard, same
   * semantics as the Jaccard path's cut).
   */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      threshold: Double = 0.8,
      maxShingleDf: Int = Int.MaxValue): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    val sigs = shingleStage(df, idCol, textCol, shingleK)
    // one row per unordered pair from the shared core; emit both directions
    cooccurCounts(sigs, maxShingleDf)
      .select(explode(array(
        struct(col("id_a"), col("id_b"),
          (col("inter").cast("double") / col("sz_a")).as("containment")),
        struct(col("id_b").as("id_a"), col("id_a").as("id_b"),
          (col("inter").cast("double") / col("sz_b")).as("containment"))))
        .as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.containment").as("containment"))
      .filter(col("containment") >= threshold)
  }

  /**
   * Remove near-duplicates given a candidate pair list: connected
   * components over the pair graph, then keep only each component's
   * minimum id. Exact and deterministic.
   *
   * Adaptive execution: the pair graph is bounded by the duplicates FOUND
   * — tiny relative to the corpus at any scale (a 100 TB corpus with 1%
   * near-dups has ~1e9 docs but the pair list fits the driver until
   * `driverMaxEdges`). Up to that bound, a single limit-collect + driver
   * union-find + broadcast anti-join resolves components in ONE pass of
   * the pairs frame instead of an iterative join loop (each distributed
   * round costs a checkpoint + convergence job — pure overhead on small
   * graphs). Beyond the bound, the engine's shared distributed core runs
   * ([[graft.operators.Graph.connectedComponents]]: hash-min with a
   * pointer jump per round): O(log n) join rounds even on chain-shaped
   * components, no driver state, scales to billions of pairs.
   */
  def dropNearDuplicates(
      df: DataFrame, idCol: String, pairs: DataFrame,
      maxIterations: Int = 20, driverMaxEdges: Int = 1 << 18): DataFrame = {
    val losers = loserLabels(df, idCol, pairs, maxIterations, driverMaxEdges)
    df.join(losers.select(col("u").as(idCol)), Seq(idCol), "left_anti")
  }

  /**
   * Near-duplicate component assignment: every row of `df` labeled with its
   * duplicate-component representative (the component's minimum id; rows in
   * no pair are their own representative) as a `component` column. Same
   * adaptive connected-components core as [[dropNearDuplicates]].
   */
  def nearDupComponents(
      df: DataFrame, idCol: String, pairs: DataFrame,
      maxIterations: Int = 20, driverMaxEdges: Int = 1 << 18): DataFrame = {
    val losers = loserLabels(df, idCol, pairs, maxIterations, driverMaxEdges)
    df.join(losers.select(col("u").as(idCol), col("lbl").as("__cc_lbl")),
        Seq(idCol), "left")
      .withColumn("component", coalesce(col("__cc_lbl"), col(idCol)))
      .drop("__cc_lbl")
  }

  /**
   * Quality-aware near-duplicate removal: per duplicate component, keep the
   * row with the BEST `qualityCol` (largest when `descending`, ties broken
   * by smallest id) instead of [[dropNearDuplicates]]'s min-id convention —
   * the curation-pipeline variant ("of these near-identical pages, keep
   * the highest-quality one").
   *
   * Scale: the representative choice only touches CONTESTED rows (nodes of
   * the pair graph — bounded by duplicates found, tiny next to the
   * corpus); uncontested rows pass through an anti-join untouched. The
   * quality window shuffles only the contested slice.
   */
  def dropNearDuplicatesBy(
      df: DataFrame, idCol: String, pairs: DataFrame, qualityCol: String,
      descending: Boolean = true,
      maxIterations: Int = 20, driverMaxEdges: Int = 1 << 18): DataFrame = {
    val losers = loserLabels(df, idCol, pairs, maxIterations, driverMaxEdges)
    val nodes = losers.select(col("u")).union(losers.select(col("lbl")))
      .distinct().select(col("u").as(idCol))
    val contested = df.join(nodes, Seq(idCol), "left_semi")
      .join(losers.select(col("u").as(idCol), col("lbl").as("__cc")),
        Seq(idCol), "left")
      .withColumn("__cc", coalesce(col("__cc"), col(idCol)))
    val ord =
      if (descending) col(qualityCol).desc_nulls_last
      else col(qualityCol).asc_nulls_last
    val w = Window.partitionBy(col("__cc")).orderBy(ord, col(idCol).asc)
    val winners = contested.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__cc")
    df.join(nodes, Seq(idCol), "left_anti").unionByName(winners)
  }

  /**
   * Shared connected-components core: (u, lbl) rows for every
   * NON-representative node of the pair graph — u's component contains a
   * smaller id lbl (the component minimum). Representatives and unpaired
   * ids are absent (they map to themselves). Adaptive driver/distributed
   * execution as documented on [[dropNearDuplicates]]; the returned frame
   * is broadcast-hinted when driver-built.
   */
  private def loserLabels(
      df: DataFrame, idCol: String, pairs: DataFrame,
      maxIterations: Int, driverMaxEdges: Int): DataFrame = {
    import org.apache.spark.sql.types._
    // the driver path must order ids EXACTLY like the distributed path's
    // Spark comparisons — only types whose JVM ordering provably matches
    // (and which hash correctly in a java HashMap) are eligible; strings
    // compare as UTF-8 bytes (Spark's binary order), NOT String.compareTo
    // (UTF-16 code units — diverges on supplementary characters)
    val driverOrderable = df.schema(idCol).dataType match {
      // NOT float/double (boxed ±0.0 are distinct HashMap keys but equal
      // Spark join keys) and NOT decimal (BigDecimal equals() disagrees
      // with compareTo() on scale: 1.0 vs 1.00) — only types whose JVM
      // equals/hashCode/ordering all agree with Spark's are eligible
      case ByteType | ShortType | IntegerType | LongType | StringType |
           BooleanType | DateType | TimestampType | TimestampNTZType => true
      case _ => false // binary/struct/etc: arrays don't hash; keep distributed
    }
    // materialize the pair list ONCE: both the driver probe and the
    // distributed loop read it, and the probe must not re-run the
    // (expensive) candidate-generation pipeline. Null-endpoint edges are
    // degenerate (a null id never equi-joins) — drop them uniformly so
    // both paths see the same graph and the driver path cannot NPE.
    // The pair list is freed when the scope exits: the driver path has
    // consumed it into the driver, the distributed path's labels are
    // checkpointed.
    graft.Materialize.scoped { scope =>
      val edgeSrc = scope.eager(pairs.select(col("id_a"), col("id_b"))
        .filter(col("id_a").isNotNull && col("id_b").isNotNull))
      // driverMaxEdges + 1 must not overflow (Int.MaxValue means "always")
      val probeLimit = math.min(driverMaxEdges.toLong + 1, Int.MaxValue).toInt
      val probe =
        if (driverMaxEdges <= 0 || !driverOrderable)
          Array.empty[org.apache.spark.sql.Row]
        else edgeSrc.limit(probeLimit).collect()
      val idField = df.schema(idCol)
      val labelSchema = StructType(Seq(
        StructField("u", idField.dataType), StructField("lbl", idField.dataType)))
      if (driverMaxEdges > 0 && driverOrderable &&
          probe.length <= driverMaxEdges) {
        if (probe.isEmpty)
          df.sparkSession.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](), labelSchema)
        else {
          // union-find with min-id roots
          val parent = new java.util.HashMap[Any, Any]()
          def find(x: Any): Any = {
            var r = x
            var p = parent.getOrDefault(r, r)
            while (p != r) { r = p; p = parent.getOrDefault(r, r) }
            var c = x // path compression
            while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
            r
          }
          def lt(a: Any, b: Any): Boolean = (a, b) match {
            case (x: String, y: String) =>
              org.apache.spark.unsafe.types.UTF8String.fromString(x)
                .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)) < 0
            case _ => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
          }
          probe.foreach { r =>
            val ra = find(r.get(0))
            val rb = find(r.get(1))
            if (ra != rb) {
              if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
            }
          }
          val losers = parent.keySet().toArray.filter(k => find(k) != k)
            .map(k => org.apache.spark.sql.Row(k, find(k)))
          broadcast(df.sparkSession.createDataFrame(
            java.util.Arrays.asList(losers: _*), labelSchema))
        }
      } else {
        // beyond the driver bound: ONE distributed connected-components core
        // for the whole engine — graft.operators.Graph.connectedComponents
        // (hash-min + a pointer jump per round), so chain-shaped near-dup
        // clusters (adversarial but possible: A~B~C~... perturbation chains)
        // inherit the O(log n)-round convergence instead of O(diameter), and
        // the iterative-join/checkpoint discipline lives in exactly one
        // place. It raises on non-convergence rather than silently
        // under-deduplicating (a partial labeling would retain near-dup rows).
        val labels = graft.operators.Graph
          .connectedComponents(edgeSrc, "id_a", "id_b", maxIterations)
        // every node that is not its component's minimum, with that minimum
        labels.filter(col("node") =!= col("comp"))
          .select(col("node").as("u"), col("comp").as("lbl"))
      }
    }
  }

  /**
   * Benchmark-decontamination scores: for each document, the fraction of
   * its word k-grams that appear anywhere in the evaluation set — the
   * standard "is this training doc contaminated with eval data" check.
   * Output: (id, n_shingles, n_matched, contamination ∈ [0,1]).
   *
   * Scale: the eval shingle set is small (eval sets ≪ corpus always), so
   * the semi-join broadcasts; the corpus side is one narrow
   * explode + per-id count — the corpus is scanned once and only
   * (id, matched-shingle) pairs shuffle. Uses the shared [[shingleStage]],
   * so a session that also deduplicates reuses the materialized shingles.
   */
  def contaminationScores(
      df: DataFrame, idCol: String, textCol: String,
      evalDf: DataFrame, evalTextCol: String,
      shingleK: Int = 5): DataFrame = {
    val docSh = shingleStage(df, idCol, textCol, shingleK)
    val evalSh = evalDf
      .select(explode(shingleHashes(col(evalTextCol), shingleK)).as("s"))
      .distinct()
    val (inverted, _) = postings(docSh)
    val matched = inverted.join(evalSh, Seq("s"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_matched"))
    docSh.select(col("id"), size(col("sh")).as("n_shingles"))
      .join(matched, Seq("id"), "left")
      .withColumn("n_matched", coalesce(col("n_matched"), lit(0L)))
      .withColumn("contamination",
        col("n_matched").cast("double") / col("n_shingles").cast("double"))
  }

  /** Drop documents whose eval-set k-gram overlap is at or above
   * `threshold` (see [[contaminationScores]]). */
  def decontaminate(
      df: DataFrame, idCol: String, textCol: String,
      evalDf: DataFrame, evalTextCol: String,
      shingleK: Int = 5, threshold: Double = 0.5): DataFrame = {
    val bad = contaminationScores(df, idCol, textCol, evalDf, evalTextCol, shingleK)
      .filter(col("contamination") >= threshold)
      .select(col("id").as(idCol))
    df.join(bad, Seq(idCol), "left_anti")
  }

  /**
   * Semantic (embedding-level) decontamination: drop every corpus row
   * whose embedding has cosine ≥ `threshold` against ANY eval-set
   * embedding — the paraphrase-robust complement of the n-gram
   * [[decontaminate]] (a reworded eval question shares no 5-grams but
   * sits next to it in embedding space).
   *
   * Scale design: the eval set (benchmarks are thousands of rows, the
   * corpus is the 100 TB side) is BROADCAST once; scoring is a narrow
   * map — corpus embeddings never shuffle and the corpus is scanned
   * once. Exact over the embedding space (every corpus×eval pair is
   * cosine-checked), so unlike the LSH families there is no recall knob
   * to argue about; cost is |corpus|·|eval| codegen'd dot products.
   */
  def semanticDecontaminate(
      df: DataFrame, idCol: String, vecCol: String,
      evalDf: DataFrame, evalVecCol: String,
      threshold: Double = 0.9): DataFrame = {
    import graft.functions.expressions.VectorExpressions.{dot, l2normalize}
    require(threshold > -1.0 && threshold <= 1.0,
      s"cosine threshold must be in (-1, 1], got $threshold")
    val ev = evalDf.select(l2normalize(col(evalVecCol)).as("ev"))
    val bad = spreadForCompute(df)
      .select(col(idCol), l2normalize(col(vecCol)).as("cv"))
      .join(org.apache.spark.sql.functions.broadcast(ev))
      .filter(dot(col("cv"), col("ev")) >= threshold)
      .select(col(idCol)).distinct()
    df.join(bad, Seq(idCol), "left_anti")
  }

  /**
   * Cross-corpus exact n-gram-Jaccard join: every (left, right) document
   * pair with word-`shingleK`-gram Jaccard ≥ `threshold` BETWEEN two
   * corpora — the incremental-ingestion dedup primitive ("which documents
   * of the new crawl near-duplicate the existing corpus"). Output:
   * (id_a = left id, id_b = right id, jaccard). If the corpora overlap,
   * a document pairs with its own copy (jaccard 1) — that is the point.
   *
   * Scale design mirrors [[ngramJaccardPairs]]'s inverted index: both
   * sides explode to (id, shingle-hash), co-occurrence counts join on the
   * 8-byte hash, and sizes re-join for the exact Jaccard — documents
   * never shuffle. Only shingles present on BOTH sides can produce pairs,
   * so the df-cut keeps df ∈ [2, maxShingleDf] over the union; the upper
   * bound caps stop-shingle join amplification (a recall trade, disclosed
   * as in d04).
   */
  def ngramJaccardJoin(
      left: DataFrame, leftIdCol: String, leftTextCol: String,
      right: DataFrame, rightIdCol: String, rightTextCol: String,
      shingleK: Int = 3, threshold: Double = 0.8,
      maxShingleDf: Int = Int.MaxValue): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0,1], got $threshold")
    val la = shingleStage(left, leftIdCol, leftTextCol, shingleK)
    val rb = shingleStage(right, rightIdCol, rightTextCol, shingleK)
    val li = la.select(col("id").as("id_a"), explode(col("sh")).as("s"))
    val ri = rb.select(col("id").as("id_b"), explode(col("sh")).as("s"))
    val dfs = li.select(col("s")).unionAll(ri.select(col("s")))
      .groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, maxShingleDf))
      .select("s")
    val co = li.join(dfs, "s").join(ri.join(dfs, "s"), "s")
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    co.join(la.select(col("id").as("id_a"), size(col("sh")).as("sz_a")), "id_a")
      .join(rb.select(col("id").as("id_b"), size(col("sh")).as("sz_b")), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Drop documents of `df` that near-duplicate ANY document of `ref`
   * (see [[ngramJaccardJoin]]) — dedup a new batch against the corpus you
   * already have without re-deduplicating the corpus itself. */
  def dropNearDuplicatesAgainst(
      df: DataFrame, idCol: String, textCol: String,
      ref: DataFrame, refIdCol: String, refTextCol: String,
      shingleK: Int = 3, threshold: Double = 0.8,
      maxShingleDf: Int = Int.MaxValue): DataFrame = {
    val hit = ngramJaccardJoin(df, idCol, textCol, ref, refIdCol, refTextCol,
      shingleK, threshold, maxShingleDf)
      .select(col("id_a").as(idCol))
    df.join(hit, Seq(idCol), "left_anti")
  }

  /**
   * SemDeDup-style semantic deduplication: cluster embeddings by nearest
   * IVF centroid, detect within-cluster cosine near-duplicate pairs
   * ([[Similarity.ivfCosinePairs]] — probing `nProbe` cells catches pairs
   * straddling a cell boundary), and keep ONE representative per near-dup
   * component ([[dropNearDuplicates]], or [[dropNearDuplicatesBy]] when
   * `qualityCol` picks the best-quality survivor instead of the min id).
   * The embedding-space counterpart of MinHash dedup: removes documents
   * that SAY the same thing, not just ones sharing surface n-grams.
   *
   * Scale design inherits from the parts: candidates shuffle as
   * (id, cell) ints, exact cosine verifies only bucket-colliding pairs,
   * and component election touches only contested rows. Recall is
   * governed by (k centroids, nProbe); precision is exact (every pair is
   * cosine-verified).
   */
  def semanticDedup(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      centroids: Array[Array[Double]], nProbe: Int = 2,
      maxBucketSize: Int = 10000,
      qualityCol: Option[String] = None,
      descending: Boolean = true): DataFrame = {
    val pairs = Similarity.ivfCosinePairs(df, idCol, vecCol, threshold,
      centroids, nProbe, maxBucketSize).select(col("id_a"), col("id_b"))
    qualityCol match {
      case Some(q) => dropNearDuplicatesBy(df, idCol, pairs, q, descending)
      case None    => dropNearDuplicates(df, idCol, pairs)
    }
  }

  /**
   * Corpus-level segment dedup (the RefinedWeb / "deduplicating training
   * data" exact-substring pattern, at token-block granularity): split every
   * document into consecutive `segmentTokens`-token segments, keep only
   * the FIRST occurrence (min id, then min position) of each distinct
   * segment across the WHOLE corpus, and reassemble documents from their
   * surviving segments in order. Repeats within one document dedup too.
   * Output: (idCol, dedup_text, n_segments, n_kept); documents with no
   * surviving segments (and blank documents) keep an empty dedup_text.
   *
   * Scale design: winner election runs per segment VALUE — the window
   * partitions by the segment string (an 8-byte hash of it is what
   * actually drives the exchange's hash partitioner), and Spark 4's
   * WindowGroupLimit keeps one candidate per (partition, segment) BEFORE
   * the exchange, so a segment duplicated a million times ships one row
   * per map partition, not a million. Reassembly is one id-keyed
   * aggregation; segment text crosses the wire once in each pass — the
   * minimum possible, since the output is the text itself.
   */
  def segmentDedup(
      df: DataFrame, idCol: String, textCol: String,
      segmentTokens: Int = 50): DataFrame = {
    require(segmentTokens > 0, s"segmentTokens must be positive, got $segmentTokens")
    Seq("dedup_text", "n_segments", "n_kept").foreach(c =>
      require(c != idCol, s"idCol collides with output column '$c'"))
    // blank (whitespace-only) text → empty token array, zero segments
    val base = spreadForCompute(df).select(col(idCol).as("__id"),
      TextFunctions.tokensOrEmpty(col(textCol)).as("__toks"))
      .withColumn("__m",
        ceil(size(col("__toks")).cast("double") / segmentTokens).cast("int"))
    val segs = base.filter(col("__m") > 0)
      .select(col("__id"), posexplode(transform(
        sequence(lit(0), col("__m") - 1),
        j => concat_ws(" ",
          slice(col("__toks"), j * segmentTokens + 1, lit(segmentTokens)))))
        .as(Seq("pos", "seg")))
    // first occurrence wins, ordered by (id, pos) — deterministic
    val w = Window.partitionBy(col("seg")).orderBy(col("__id"), col("pos"))
    val kept = segs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val agg = kept.groupBy("__id").agg(
      count(lit(1)).as("n_kept"),
      array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("seg")))),
        s => s.getField("seg")), " ").as("dedup_text"))
    base.select(col("__id"), col("__m"))
      .join(agg, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("dedup_text"), lit("")).as("dedup_text"),
        col("__m").as("n_segments"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /**
   * Line-level corpus dedup (the Dolma / CCNet boilerplate-removal
   * pattern): remove every line whose trimmed form appears in MORE than
   * `maxDocFrequency` distinct documents across the whole corpus (nav
   * bars, cookie banners, signatures), keeping each document's surviving
   * lines in their original order. Lines that are empty after trimming
   * are structural, not content — they are never counted and never
   * removed. Output: (idCol, dedup_text, n_lines, n_kept) with the counts
   * over ALL lines (including blanks).
   *
   * Scale design — the frequent set is small even when its support is
   * huge (a million-document boilerplate line is ONE entry), so the
   * removal never reshuffles documents:
   *  1. one aggregation shuffle over (8-byte line hash, doc id) pairs
   *     with map-side partial distinct — no line TEXT crosses the wire;
   *  2. hashes with doc-frequency > `maxDocFrequency` are collected
   *     (bounded by `maxFrequentLines`, loud failure beyond — a corpus
   *     whose frequent-line set doesn't fit a driver belongs in
   *     [[segmentDedup]]'s join-based reassembly instead) and shipped
   *     once per executor as a sorted long[];
   *  3. the rebuild is a NARROW per-row `filter(split(text))` against a
   *     codegen'd exact binary-search probe
   *     ([[graft.functions.expressions.LongSetContains]]) — no explode,
   *     no reassembly shuffle, no second pass over the corpus.
   *
   * Removal keys on `xxhash64(trim(line))`; a 64-bit collision could
   * remove an innocent line — at 2^32 distinct frequent lines the
   * birthday bound is ~0.5, at realistic frequent-set sizes (≤ 2^22) it
   * is < 10^-5 and the cost is one lost line, not a wrong join.
   */
  def lineDedup(
      df: DataFrame, idCol: String, textCol: String,
      maxDocFrequency: Int = 1, lineSep: String = "\n",
      maxFrequentLines: Int = 1 << 22): DataFrame = {
    require(maxDocFrequency >= 1,
      s"maxDocFrequency must be >= 1, got $maxDocFrequency")
    require(lineSep.nonEmpty, "lineSep must be non-empty")
    Seq("dedup_text", "n_lines", "n_kept").foreach(c =>
      require(c != idCol, s"idCol collides with output column '$c'"))
    val sepRegex = java.util.regex.Pattern.quote(lineSep)
    val lines = split(col(textCol), sepRegex, -1)

    val freq = frequentLineHashes(df, idCol, lines, maxDocFrequency)
    val frequent = freq.limit(maxFrequentLines + 1).collect().map(_.getLong(0))
    require(frequent.length <= maxFrequentLines,
      s"frequent-line set exceeds maxFrequentLines=$maxFrequentLines; " +
        "raise the cap or use segmentDedup's join-based path")
    java.util.Arrays.sort(frequent)

    import graft.functions.expressions.VectorExpressions
    val keep = filter(lines, l =>
      length(trim(l)) === 0 ||
        !VectorExpressions.longSetContains(xxhash64(trim(l)), frequent))
    df.select(col(idCol),
      array_join(keep, lineSep).as("dedup_text"),
      size(lines).as("n_lines"),
      size(keep).as("n_kept"))
  }

  /** Doc-frequency election shared by [[lineDedup]] and
   * [[bloomLineDedup]]: hashes of trimmed non-blank lines appearing in
   * more than `maxDocFrequency` distinct documents. ONE aggregation
   * shuffle over (8-byte hash, doc id) with map-side partial distinct —
   * no line text crosses the wire. */
  private def frequentLineHashes(
      df: DataFrame, idCol: String, lines: Column,
      maxDocFrequency: Int): DataFrame =
    spreadForCompute(df)
      .select(col(idCol).as("__id"), explode(lines).as("__l"))
      .filter(length(trim(col("__l"))) > 0)
      .select(xxhash64(trim(col("__l"))).as("__h"), col("__id"))
      .groupBy("__h").agg(countDistinct(col("__id")).as("__df"))
      .filter(col("__df") > maxDocFrequency)
      .select("__h")

  /**
   * [[lineDedup]]'s unbounded-scale variant — same semantics (drop every
   * line whose trimmed form appears in more than `maxDocFrequency`
   * distinct documents; blanks untouched; original order kept; same
   * output schema) with the frequent-line set held as a BLOOM FILTER
   * instead of a driver-collected sorted array.
   *
   * When to use which: lineDedup's exact probe is the boilerplate case —
   * the frequent set is small (nav bars, banners) no matter how large the
   * corpus, and the probe never misfires. TRUE line/paragraph dedup at
   * web scale inverts that: the duplicated-line set grows WITH the corpus
   * (the Bloom-paragraph-dedup regime of large curation pipelines) and
   * blows lineDedup's `maxFrequentLines` driver bound, while Bloom bits
   * stay ~10 bits/key at fpp=0.01 — 100 M duplicated lines ≈ 120 MB
   * shipped once per executor. The price is one-sided error: an ~`fpp`
   * fraction of unique lines is wrongly dropped; no false negatives —
   * every truly frequent line IS dropped (the exact dedup's removals are
   * always a subset of this one's). Deterministic for a given
   * (corpus, maxDocFrequency, fpp): Spark's BloomFilter hash seeds are
   * fixed and insertion order is commutative (bit OR).
   *
   * Scale shape: stage 1 is the shared one-shuffle doc-frequency
   * election; stage 2 treeAggregates per-partition partial filters into
   * ONE driver filter (the election output is localCheckpoint'd so its
   * sizing count() does not recompute the corpus scan); stage 3 is the
   * same narrow per-row rebuild with the Bloom probe replacing the
   * binary search — no explode, no reassembly shuffle.
   */
  def bloomLineDedup(
      df: DataFrame, idCol: String, textCol: String,
      maxDocFrequency: Int = 1, lineSep: String = "\n",
      fpp: Double = 0.01): DataFrame = {
    require(maxDocFrequency >= 1,
      s"maxDocFrequency must be >= 1, got $maxDocFrequency")
    require(lineSep.nonEmpty, "lineSep must be non-empty")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    Seq("dedup_text", "n_lines", "n_kept").foreach(c =>
      require(c != idCol, s"idCol collides with output column '$c'"))
    val sepRegex = java.util.regex.Pattern.quote(lineSep)
    val lines = split(col(textCol), sepRegex, -1)

    val freq = graft.Materialize.eager(
      frequentLineHashes(df, idCol, lines, maxDocFrequency))
    val bloomBytes = graft.operators.BloomJoin.buildBloomBytes(
      freq, "__h", fpp)

    import graft.functions.expressions.VectorExpressions
    val keep = filter(lines, l =>
      length(trim(l)) === 0 ||
        !VectorExpressions.bloomMightContain(xxhash64(trim(l)), bloomBytes))
    df.select(col(idCol),
      array_join(keep, lineSep).as("dedup_text"),
      size(lines).as("n_lines"),
      size(keep).as("n_kept"))
  }

  /**
   * Duplicated-span statistics (the "deduplicating training data makes
   * LMs better" exact-substring diagnostic, at token granularity):
   * every stride-1 window of `spanTokens` tokens is a span; a span VALUE
   * occurring `minCount`+ times corpus-wide (within-doc repeats count) is
   * duplicated. Output per document — including blank/short ones:
   * (idCol, n_spans, n_dup_spans, dup_ratio) where n_dup_spans counts
   * span POSITIONS whose value is duplicated and dup_ratio is their
   * fraction (0.0 when the document has no spans).
   *
   * This is the detection half of the RefinedWeb pipeline — pair it with
   * [[segmentDedup]] (block-granularity removal) when the goal is
   * rewriting the corpus rather than scoring it.
   *
   * Scale design: spans never materialize as text off-row — each window
   * is hashed to 8 bytes IN the projection (`xxhash64` over the joined
   * tokens, a narrow codegen'd pass), so the explode ships (id, hash)
   * pairs only. Frequency election is a map-side-partial count; the
   * dup-mark join keys on the same 8-byte hash (AQE broadcasts the
   * frequent set when it is small) rather than a whole-partition window,
   * so a billion-fold duplicated span partial-aggregates instead of
   * buffering one window partition. A 64-bit collision merges two span
   * values (over-counts duplication by one position) — negligible below
   * 2^32 distinct spans per corpus.
   */
  /** Stride-1 window hashes for the exact-substring family — the native
   * [[graft.functions.expressions.SpanHashes]] expression: one flat JVM
   * loop per document, each token's UTF-8 bytes materialized once and
   * shared by all windows. Byte-identical to the declarative
   * `xxhash64(concat_ws(" ", slice(tokens, p, spanTokens)))` per position
   * (same tokenization, same XXH64 seed), so the string-grouping DuckDB
   * oracles of t24/t25 stay exact. Replaced an interpreted higher-order
   * transform+slice+concat chain that allocated a slice per window. */
  private def spanHashArray(text: Column, spanTokens: Int): Column =
    graft.functions.expressions.VectorExpressions.spanHashes(text, spanTokens)

  def duplicateSpanStats(
      df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 50, minCount: Int = 2): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    Seq("n_spans", "n_dup_spans", "dup_ratio").foreach(c =>
      require(c != idCol, s"idCol collides with output column '$c'"))
    val base = spreadForCompute(df)
      .select(col(idCol).as("__id"),
        spanHashArray(col(textCol), spanTokens).as("__sp"))
    // the slim (id, hash) stream feeds BOTH the frequency election and the
    // dup-mark join; materialize it so the tokenize+window-hash pass over
    // the corpus runs once, not twice. An eager frame is an RDD-level
    // persist, so the ContextCleaner frees its blocks once the result is
    // unreachable; a Dataset `.persist` is held by the CacheManager until
    // `unpersist`, which nothing here could call
    val exploded = graft.Materialize.eager(
      base.select(col("__id"), explode(col("__sp")).as("__h")))
    val freq = exploded.groupBy("__h").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount).select("__h")
    val dup = exploded.join(freq, "__h")
      .groupBy("__id").agg(count(lit(1)).as("__dup"))
    base.select(col("__id"), size(col("__sp")).as("__n"))
      .join(dup, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        col("__n").cast("long").as("n_spans"),
        coalesce(col("__dup"), lit(0L)).as("n_dup_spans"),
        when(col("__n") > 0,
          coalesce(col("__dup"), lit(0L)).cast("double") / col("__n"))
          .otherwise(lit(0.0)).as("dup_ratio"))
  }

  /**
   * Exact-substring span REMOVAL — the rewrite half of the Lee et al. 2021
   * ("Deduplicating Training Data Makes Language Models Better") pipeline,
   * at token granularity, pairing [[duplicateSpanStats]]'s diagnostic.
   * Every stride-1 window of `spanTokens` tokens whose VALUE occurs
   * `minCount`+ times corpus-wide is duplicated; for each duplicated value
   * one global winner occurrence survives (lexicographically least
   * (id, position) — deterministic, engine-independent) and every other
   * occurrence has its token positions masked. Untouched documents keep
   * their original text VERBATIM; rewritten documents are re-joined with
   * single spaces (a token-granularity rewrite normalizes whitespace —
   * disclosed, not hidden). Output: (idCol, dedup_text, n_tokens,
   * n_removed_tokens).
   *
   * Masked-position unions may juxtapose previously-distant tokens and
   * create NEW duplicated spans; like the paper's pipeline, run to a
   * fixpoint by iterating if that matters for the corpus.
   *
   * Scale design mirrors [[duplicateSpanStats]]: spans travel as 8-byte
   * xxhash64 values, never text; frequency election and winner election
   * are hash-keyed aggregations (map-side partial, AQE-broadcastable
   * frequent set); the rebuild is a narrow per-row higher-order-function
   * pass (no second corpus scan, no driver state). The removed-position
   * lists shipped back to documents are bounded by each document's own
   * span count.
   */
  def removeDuplicateSpans(
      df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 50, minCount: Int = 2): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    Seq("dedup_text", "n_tokens", "n_removed_tokens").foreach(c =>
      require(c != idCol, s"idCol collides with output column '$c'"))
    val toks = TextFunctions.tokensOrEmpty(col(textCol))
    val base = spreadForCompute(df)
      .select(col(idCol).as("__id"), col(textCol).as("__text"),
        toks.as("__t"), spanHashArray(col(textCol), spanTokens).as("__sp"))
    // occurrences: (value hash, doc, 1-based start position) —
    // materialized: it feeds the frequency election, the dup-occurrence
    // join AND the winner election (an eager frame's blocks are freed by
    // the ContextCleaner once the result is unreachable)
    val occ = graft.Materialize.eager(base.select(col("__id"),
      posexplode(col("__sp")).as(Seq("__p0", "__h")))
      .select(col("__h"), col("__id"), (col("__p0") + 1).as("__pos")))
    val freq = occ.groupBy("__h").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount).select("__h")
    val dupOcc = occ.join(freq, "__h")
    val winners = dupOcc.groupBy("__h")
      .agg(min(struct(col("__id"), col("__pos"))).as("__w"))
    val kills = dupOcc.join(winners, "__h")
      .filter(struct(col("__id"), col("__pos")) =!= col("__w"))
      .groupBy("__id").agg(collect_list(col("__pos")).as("__kill"))
    val span = lit(spanTokens)
    val keptIdx = filter(sequence(lit(1), size(col("__t"))),
      ti => !exists(col("__kill"), p => ti >= p && ti < p + span))
    base.join(kills, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        when(col("__kill").isNull, col("__text"))
          .otherwise(array_join(
            transform(keptIdx, ti => element_at(col("__t"), ti)), " "))
          .as("dedup_text"),
        size(col("__t")).cast("long").as("n_tokens"),
        when(col("__kill").isNull, lit(0L))
          .otherwise(size(col("__t")) - size(keptIdx))
          .cast("long").as("n_removed_tokens"))
  }

  /**
   * Embedding-cosine near-duplicate pairs. Small/medium corpora: exact
   * all-pairs via a block-nested join. At scale prefer
   * [[Similarity.lshCosinePairs]] (random-hyperplane bucketing) — this exact
   * variant shuffles O(n²) scored pairs.
   */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val normed = graft.Materialize.eager(spreadForCompute(df)
      .select(col(idCol).as("id"), Similarity.l2normalize(col(vecCol)).as("v")))
    val a = normed.select(col("id").as("id_a"), col("v").as("v_a"))
    val b = normed.select(col("id").as("id_b"), col("v").as("v_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cosine", Similarity.dot(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /**
   * Exact edit-distance self-join over SHORT strings (record linkage on
   * names/ids/titles — for long-document near-dup use the minhash/ngram
   * family): all pairs (id_a < id_b) with levenshtein ≤ `maxDist`,
   * output (id_a, id_b, dist).
   *
   * Blocking is the deletion-neighborhood (SymSpell/FastSS) scheme: every
   * string emits its variants with ≤ `maxDist` characters deleted; if
   * lev(s,t) ≤ d then deleting the ≤d edited positions from each side
   * yields a COMMON variant, so joining on variant keys is a sound (no
   * false negatives) candidate generator, and the final native
   * `levenshtein` filter makes the result exact — hash collisions and
   * neighborhood false positives only cost verification work, never
   * correctness.
   *
   * Scale: the shuffle carries (xxhash64(variant), id, string) — the
   * 8-byte key, not the variant text; strings are required short (≤ 256
   * chars) so carrying them beats two id→string re-joins. Key fan-out is
   * 1 + L + C(L,2) per row at d=2 — quadratic in STRING LENGTH, linear in
   * rows. Duplicate candidate pairs collapse via `distinct` BEFORE the
   * levenshtein verify. Skewed variant keys (shared prefixes) are split
   * by AQE's skew-join handling.
   */
  def editDistanceJoin(
      df: DataFrame, idCol: String, strCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist <= 2,
      s"maxDist must be 0..2 (deletion-neighborhood fan-out is C(len,d)), got $maxDist")
    // delete the character at 0-based position i of c (c must be non-null)
    def del(c: Column, i: Column): Column =
      concat(c.substr(lit(1), i), c.substr(i + lit(2), length(c)))
    // all single-deletion variants; empty strings have none (the sequence
    // guard matters: sequence(0, -1) would COUNT DOWN, not come back empty)
    def del1(c: Column): Column =
      when(length(c) === 0, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0), length(c) - 1), i => del(c, i)))
    val s = col(strCol)
    val variants = maxDist match {
      case 0 => array(s)
      case 1 => array_union(array(s), del1(s))
      case _ => array_union(array_union(array(s), del1(s)),
        array_distinct(flatten(transform(del1(s), v => del1(v)))))
    }
    // long strings would make the d=2 fan-out quadratic in their length —
    // fail loudly instead of silently dropping or accepting the blow-up
    val guarded = when(length(s) > 256, raise_error(concat(
      lit(s"editDistanceJoin: '$strCol' longer than 256 chars (len="),
      length(s).cast("string"),
      lit(") — this operator targets short identifier strings"))))
      .otherwise(variants)
    val keyed = spreadForCompute(
      df.filter(s.isNotNull)
        .select(col(idCol), s.as("__str"), explode(guarded).as("__v"))
        .select(col(idCol), col("__str"), xxhash64(col("__v")).as("__kh")))
    val a = keyed.select(col("__kh"), col(idCol).as("id_a"), col("__str").as("__sa"))
    val b = keyed.select(col("__kh"), col(idCol).as("id_b"), col("__str").as("__sb"))
    a.join(b, "__kh")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("__sa"), col("__sb"))
      .distinct()
      .withColumn("dist", levenshtein(col("__sa"), col("__sb")))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }
}
