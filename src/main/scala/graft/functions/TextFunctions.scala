package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for corpus curation: token counting, quality
 * metrics, stopword-heuristic language ID, and document fingerprinting.
 * The per-document scorers (token/quality counts, language ID,
 * fingerprint) are native codegen'd expressions that read each document
 * once; the rest is pure `org.apache.spark.sql.functions`
 * (whole-stage-codegen'd; no UDF in the per-character hot paths).
 */
object TextFunctions {

  /** Whitespace token count (0 for blank — including tab/newline-only
   * text: the guard looks for ANY non-whitespace character, matching the
   * shingle stage's blank-document convention). Boundary tokens follow
   * the library-wide `split(trim(text), "\s+")` convention the oracles
   * and the shingle expressions share. The `tokens` field of
   * [[textStats]], so token boundaries are defined in one place. */
  def tokenCount(text: Column): Column = textStats(text).getField("tokens")

  /** BPE-ish subword token estimate: word-pieces + digits + punctuation as
   * separate tokens (regex approximation of a byte-pair tokenizer's
   * pre-tokenization). */
  def subwordTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  /** Whitespace tokens of `text` as an array, empty for blank
   * (whitespace-only) text — the shared blank-document guard: a bare
   * `split(trim(x))` on blank text yields `[""]`, silently producing one
   * phantom token. */
  def tokensOrEmpty(text: Column): Column =
    when(length(regexp_replace(text, "\\s", "")) > 0,
      split(trim(text), "\\s+")).otherwise(array().cast("array<string>"))

  /** One-pass per-document counts, struct<chars, tokens, punct, digits,
   * stopwords, non_ws> — see [[graft.functions.expressions.TextStats]]. */
  def textStats(text: Column): Column =
    org.apache.spark.sql.graftshim.ColumnBridge.column(
      graft.functions.expressions.TextStats(
        org.apache.spark.sql.graftshim.ColumnBridge.expression(text)))

  /** Quality metrics bundle: token/char counts, punctuation & digit counts,
   * stopword hits, mean word length. All integer counts plus
   * deterministic double ratios, every one derived from one [[textStats]]
   * struct: in a projection Spark evaluates that struct once per row
   * (subexpression elimination), so the document is read once. */
  def qualityMetrics(text: Column): Seq[(String, Column)] =
    metricsOf(textStats(text))

  /** The quality metrics over a [[textStats]] struct. */
  private def metricsOf(stats: Column): Seq[(String, Column)] = {
    val nTok = stats.getField("tokens")
    val nStop = stats.getField("stopwords")
    Seq(
      "n_chars" -> stats.getField("chars"),
      "n_tokens" -> nTok,
      "n_punct" -> stats.getField("punct"),
      "n_digits" -> stats.getField("digits"),
      "n_stopwords" -> nStop,
      "stopword_ratio" -> when(nTok > 0, nStop.cast("double") / nTok).otherwise(lit(0.0)),
      "mean_word_len" -> when(nTok > 0,
        stats.getField("non_ws").cast("double") / nTok).otherwise(lit(0.0))
    )
  }

  /**
   * Stopword-heuristic language ID over {en,es,de,fr,zh}: CJK-codepoint
   * density above 0.3 decides zh; otherwise the language with the most
   * distinct stopword hits wins (ties → the earlier of en, es, de, fr).
   * One native pass per document
   * ([[graft.functions.expressions.LangId]]); null text is `en`.
   */
  def langId(text: Column): Column =
    org.apache.spark.sql.graftshim.ColumnBridge.column(
      graft.functions.expressions.LangId(
        org.apache.spark.sql.graftshim.ColumnBridge.expression(text)))

  /**
   * 64-bit rolling polynomial fingerprint (Rabin-Karp style, base 31 with
   * FNV offset basis seed, over the whitespace-normalized lowercase
   * character stream) — content-addressed document identity robust to
   * whitespace differences. Native codegen'd expression
   * ([[graft.functions.expressions.Fingerprint64]]); null text fingerprints
   * to 0L (not null) so null-text rows still cluster under one key in
   * fingerprint-equality joins/dedups.
   */
  def fingerprint(text: Column): Column =
    coalesce(graft.functions.expressions.VectorExpressions.fingerprint64(text), lit(0L))

  /**
   * APPROXIMATE sequential token-budget sharding: orders documents by
   * `orderCol` and cuts shards at budget multiples of the running token
   * sum (shard = floor(tokens-before-me / budget)). Shard sums target
   * `budget` but may exceed it by up to one document (the doc straddling a
   * boundary lands in the earlier shard) — the scalable single-window-pass
   * binning used for dataset sharding, NOT a hard capacity guarantee. For
   * strict per-shard caps use [[packGreedyPerPartition]].
   *
   * Scale note: the running sum is [[graft.api.DfUtils.runningTotal]]'s
   * distributed prefix sum (range partition + local cumsum + broadcast
   * partition bases) — never the single-partition global window
   * `Window.orderBy(...)` plans. `orderCol` must totally order rows
   * (runningTotal's precondition); token counts must be integral.
   */
  def packByTokenBudget(
      df: DataFrame, tokenCol: String, budget: Long,
      orderCol: String): DataFrame = {
    require(budget > 0, "budget must be positive")
    graft.api.DfUtils.runningTotal(df, Seq(orderCol), col(tokenCol), "__cum")
      .withColumn("shard_id", floor(col("__cum") / budget))
      .drop("__cum")
  }

  /**
   * STRICT greedy packing, parallel per physical partition: within each
   * partition (presorted by `orderCol`), a shard closes as soon as adding
   * the next document would exceed `budget`; an over-budget document gets
   * a shard of its own. Shard ids are "partition-localShard" strings —
   * globally unique, sequential within a partition. The inherently serial
   * greedy fold parallelizes by accepting per-partition (not global)
   * sequencing — the right trade at 100 TB.
   */
  def packGreedyPerPartition(
      df: DataFrame, tokenCol: String, orderCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val outSchema = StructType(df.schema.fields :+ StructField("shard_id", StringType))
    val tIdx = df.schema.fieldIndex(tokenCol)
    val sorted = df.sortWithinPartitions(col(orderCol))
    implicit val enc: org.apache.spark.sql.Encoder[Row] = Encoders.row(outSchema)
    sorted.mapPartitions { it =>
      val pno = org.apache.spark.TaskContext.getPartitionId()
      var shard = 0
      var used = 0L
      it.map { r =>
        val tok = r.get(tIdx) match {
          case n: Number => n.longValue()
          case null => 0L
        }
        if (used > 0 && used + tok > budget) { shard += 1; used = 0L }
        used += tok
        Row.fromSeq(r.toSeq :+ s"$pno-$shard")
      }
    }
  }

  /**
   * Pack encoded documents into fixed-length training examples:
   * concatenate the `idsCol` token-id arrays in `idCol` order into one
   * stream and slice it into `seqLen`-token examples (the last may be
   * shorter) — the final "tokenized corpus → model batches" step.
   * `idCol` must uniquely identify rows. Output: (example_id,
   * ids array<long>, n_tokens).
   *
   * Scale design: each document's global token offset is a prefix sum
   * computed WITHOUT the single-partition window that
   * `Window.orderBy(...)` would plan: documents range-partition by id and
   * cumulate locally per partition, per-partition totals (one row per
   * partition) cumulate on the driver, and the resulting partition base
   * offsets broadcast back — the textbook distributed prefix sum. The
   * partitioned frame is localCheckpoint'd once so the partition ids the
   * totals were computed from are frozen. Tokens then shuffle once,
   * keyed by example id, to assemble examples.
   */
  def packSequences(
      df: DataFrame, idCol: String, idsCol: String, seqLen: Int): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    // global token offsets = distributed prefix sum of the array sizes
    // (size(null) is null → counted 0 by runningTotal)
    val withOff = graft.api.DfUtils.runningTotal(
      df.select(col(idCol).as("__id"), col(idsCol).as("__ids")),
      Seq("__id"), size(col("__ids")), "__off")
    val tok = withOff
      .select(col("__off"), posexplode(col("__ids")).as(Seq("__pos", "__tid")))
      .select((col("__off") + col("__pos")).as("__gpos"), col("__tid"))
    tok.groupBy(floor(col("__gpos") / seqLen).as("example_id"))
      .agg(
        transform(array_sort(collect_list(struct(col("__gpos"), col("__tid")))),
          s => s.getField("__tid")).as("ids"),
        count(lit(1)).as("n_tokens"))
  }

  /**
   * PII redaction patterns: (regex, replacement), applied in order. The
   * regexes deliberately use only syntax shared by Java regex and RE2
   * (DuckDB) — no lookarounds, no backrefs — so a SQL oracle can apply
   * byte-identical rewrites. Order matters where patterns could overlap
   * (credit-card before phone before IP; SSN's 3-2-4 shape is disjoint
   * from phone's 3-3-4).
   */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}\\b" -> "<CC>",
    "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b" -> "<SSN>",
    "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b" -> "<PHONE>",
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b" -> "<IP>",
  )

  /** Text-cleanup pattern chain (ordered; RE2-safe — `\x{...}` classes,
   * no lookarounds — so a DuckDB/RE2 oracle can apply the identical
   * chain): strip zero-width/format characters, strip control characters
   * (keeping tab and newline as whitespace until the collapse step),
   * normalize Unicode space variants to ASCII space, collapse space/tab
   * runs. */
  val CleanPatterns: Seq[(String, String)] = Seq(
    // zero-width space/joiners, BOM, soft hyphen
    "[\\x{200B}-\\x{200D}\\x{FEFF}\\x{00AD}]" -> "",
    // C0 controls except tab (09) / newline (0A); CR folds away; DEL
    "[\\x{0000}-\\x{0008}\\x{000B}-\\x{001F}\\x{007F}]" -> "",
    // NBSP, en/em/thin spaces, narrow NBSP, math space, ideographic space
    "[\\x{00A0}\\x{2000}-\\x{200A}\\x{202F}\\x{205F}\\x{3000}]" -> " ",
    // collapse space/tab runs (newlines survive)
    "[ \\t]+" -> " ",
  )

  /** Clean raw scraped text: apply [[CleanPatterns]] in order, then trim —
   * the mojibake/invisible-character scrub pass that runs before
   * tokenization in a web-scale pipeline. A chain of codegen'd
   * `regexp_replace`s; one scan, no UDF, no shuffle. */
  def cleanText(text: Column): Column =
    trim(CleanPatterns.foldLeft(text) { case (c, (re, repl)) =>
      regexp_replace(c, re, repl)
    })

  /** Redact common PII (emails, credit cards, SSNs, phone numbers, IPv4
   * addresses) with typed placeholders — the standard scrub pass of a
   * training-data pipeline. A chain of codegen'd `regexp_replace`s; one
   * scan, no UDF. */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (re, repl)) =>
      regexp_replace(c, re, repl)
    }

  /** Count of PII matches per class, as (name, count) columns — audit
   * metrics for a redaction pass. */
  def piiCounts(text: Column): Seq[(String, Column)] =
    PiiPatterns.map { case (re, repl) =>
      val name = repl.stripPrefix("<").stripSuffix(">").toLowerCase
      s"n_$name" -> size(regexp_extract_all(text, lit(re), lit(0)))
    }

  /**
   * Split documents into overlapping token-window chunks — the context-
   * window preprocessing step of a training pipeline. Output: one row per
   * chunk with (idCol, chunk_id, chunk_text, n_tokens); blank documents
   * produce no rows. Chunk j covers tokens [j·stride, j·stride + chunk)
   * where stride = chunk − overlap; the last chunk may be shorter. Pure
   * narrow ops (split + sequence + transform + posexplode): no shuffle,
   * fully parallel, output rows ≈ n/stride per doc regardless of corpus
   * size.
   */
  def chunkByTokens(
      df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlapTokens: Int = 0): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      "overlap must be in [0, chunkTokens)")
    val stride = chunkTokens - overlapTokens
    val toks = split(trim(col(textCol)), "\\s+")
    val n = size(toks)
    // number of stride-aligned windows covering all n tokens (≥1 for short docs)
    val nChunks = greatest(lit(1),
      ceil((n - lit(overlapTokens)).cast("double") / stride).cast("int"))
    // blank = no non-whitespace at all (tab/newline-only docs included)
    df.filter(length(regexp_replace(col(textCol), "\\s", "")) > 0)
      .select(col(idCol), toks.as("__toks"), nChunks.as("__m"))
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), col("__m") - 1),
        j => concat_ws(" ", slice(col("__toks"), j * stride + 1, lit(chunkTokens)))))
        .as(Seq("chunk_id", "chunk_text")))
      .withColumn("n_tokens", size(split(col("chunk_text"), "\\s+")))
  }

  /**
   * Gopher-style n-gram repetition statistics per document: the character
   * fraction covered by the single most frequent word n-gram
   * (`top_ngram_char_frac` — ties broken by gram text ascending) and the
   * character-weighted fraction of n-gram occurrences that are repeats
   * (`dup_ngram_char_frac`). Character counts are over the
   * whitespace-normalized text (tokens joined by single spaces). Documents
   * with fewer than n tokens score 0.0 with an empty `top_ngram`.
   * Output: (idCol, top_ngram, top_ngram_char_frac, dup_ngram_char_frac).
   *
   * Scale design: per-document histograms via explode + two hash
   * aggregations keyed on (id, gram) then (id) — map-side partial
   * aggregation collapses each document's repeats before the exchange, so
   * the shuffle carries one row per DISTINCT (id, gram). No per-row
   * quadratic higher-order functions: cost is linear in corpus token
   * count regardless of document length. Fractions are a single int/int
   * division — order-independent, exact-oracle-safe.
   */
  def ngramRepetitionStats(
      df: DataFrame, idCol: String, textCol: String, n: Int = 2): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    Seq("top_ngram", "top_ngram_char_frac", "dup_ngram_char_frac").foreach(c =>
      require(c != idCol, s"idCol collides with output column '$c'"))
    val base = graft.functions.Dedup.spreadForCompute(df)
      .select(col(idCol).as("__id"), tokensOrEmpty(col(textCol)).as("__toks"))
      .withColumn("__nchars", length(concat_ws(" ", col("__toks"))))
    val grams = base.filter(size(col("__toks")) >= n)
      .select(col("__id"), explode(transform(
        sequence(lit(0), size(col("__toks")) - n),
        i => concat_ws(" ", slice(col("__toks"), i + 1, lit(n))))).as("gram"))
    val counts = grams.groupBy("__id", "gram").agg(count(lit(1)).as("cnt"))
    // (cnt desc, gram asc) winner via min_by on the inverted-count struct
    val stats = counts.groupBy("__id").agg(
      min_by(struct(col("cnt"), col("gram")),
        struct((-col("cnt")).as("nc"), col("gram"))).as("top"),
      sum(when(col("cnt") > 1, col("cnt") * length(col("gram")))
        .otherwise(lit(0L))).as("__dupw"),
      sum(col("cnt") * length(col("gram"))).as("__totw"))
    base.join(stats, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("top").getField("gram"), lit("")).as("top_ngram"),
        when(col("__nchars") > 0 && col("top").isNotNull,
          (col("top").getField("cnt") * length(col("top").getField("gram")))
            .cast("double") / col("__nchars"))
          .otherwise(lit(0.0)).as("top_ngram_char_frac"),
        when(col("__totw") > 0,
          col("__dupw").cast("double") / col("__totw"))
          .otherwise(lit(0.0)).as("dup_ngram_char_frac"))
  }

  /**
   * Duplicate-k-gram fraction: 1 − distinct/total word k-grams (0 for
   * docs shorter than k tokens) — the repetition quality signal (a doc
   * that repeats its own phrasing scores high). Pure native expressions:
   * distinct count from the single-pass shingle stage, total from the
   * token count.
   */
  def repetitionRatio(text: Column, k: Int = 3): Column = {
    val total = greatest(tokenCount(text) - (k - 1), lit(0))
    val distinctK = size(graft.functions.Dedup.shingleHashes(text, k))
    when(total > 0,
      lit(1.0) - distinctK.cast("double") / total.cast("double"))
      .otherwise(lit(0.0))
  }

  /**
   * Unigram-LM quality score (the CCNet-style language-model filter,
   * self-trained): per-document cross-entropy against the corpus's own
   * unigram distribution. Documents whose tokens are systematically rare
   * in the corpus (gibberish, boilerplate markup, wrong-language text)
   * score HIGH; fluent in-distribution text scores LOW. Output:
   * (idCol, n_tokens, cross_entropy); blank/null documents produce no row.
   *
   * Scale: the "LM training" is one hash aggregate over (token) — the
   * vocabulary frame, tiny next to the corpus; the corpus total is a
   * single broadcast row (no driver action); scoring is one join of the
   * exploded token stream against the vocabulary (AQE broadcasts when the
   * vocab is small) plus one per-document aggregate. Everything
   * declarative — no UDF, no model file.
   *
   * Determinism: the per-document sum of log-probabilities is bridged
   * through decimal(20,10) — decimal addition is exact and
   * order-independent, so the result is stable across partitionings and
   * engines (a raw double SUM is not).
   */
  def unigramCrossEntropy(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df
      .select(col(idCol), explode(split(trim(lower(col(textCol))), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("n"))
    val logp = vocab.crossJoin(broadcast(total))
      .select(col("tok"),
        (log(col("cnt").cast("double")) - log(col("n").cast("double"))).as("logp"))
    toks.join(logp, "tok")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("logp").cast("decimal(20,10)")).as("__slp"))
      .select(col(idCol), col("n_tokens"),
        (-col("__slp").cast("double") / col("n_tokens")).as("cross_entropy"))
  }

  /**
   * DSIR-style importance weights: per-document mean log-likelihood ratio
   * between a TARGET unigram LM (trained on `targetDf` — the
   * high-quality / in-domain set you want more of) and the RAW LM
   * (trained on `df` itself). Positive scores mean "looks more like the
   * target than like the average corpus document"; rank or threshold on
   * them to select pretraining data toward a target distribution
   * (importance resampling à la DSIR, with unigrams standing in for
   * hashed n-gram features). Both LMs are Laplace-smoothed over the UNION
   * vocabulary, so out-of-target tokens are well-defined:
   *
   *   importance(d) = (1/|d|) Σ_tok [ ln p_t(tok) − ln p_r(tok) ]
   *   p_x(tok) = (cnt_x(tok) + 1) / (N_x + V)
   *
   * Output: (idCol, n_tokens, importance); blank documents produce no
   * rows. Determinism: per-document log-ratio sums are bridged through
   * decimal(20,10) (exact, order-independent — a raw double SUM is not).
   *
   * Scale: two token-keyed hash aggregations (map-side partials), a
   * one-row totals broadcast, and one join of the token stream against
   * the (vocabulary-sized) ratio table — the corpus is scanned twice and
   * only (id, token) pairs shuffle, exactly like [[unigramCrossEntropy]].
   */
  def importanceWeights(
      df: DataFrame, idCol: String, textCol: String,
      targetDf: DataFrame, targetTextCol: String): DataFrame = {
    Seq("n_tokens", "importance").foreach(c =>
      require(c != idCol, s"idCol collides with output column '$c'"))
    val toks = df
      .select(col(idCol), explode(split(trim(lower(col(textCol))), "\\s+")).as("__tok"))
      .filter(length(col("__tok")) > 0)
    val rawCounts = toks.groupBy("__tok").agg(count(lit(1)).as("__cnt_r"))
    val tgtCounts = targetDf
      .select(explode(split(trim(lower(col(targetTextCol))), "\\s+")).as("__tok"))
      .filter(length(col("__tok")) > 0)
      .groupBy("__tok").agg(count(lit(1)).as("__cnt_t"))
    val vocab = rawCounts.join(tgtCounts, Seq("__tok"), "full")
      .select(col("__tok"),
        coalesce(col("__cnt_r"), lit(0L)).as("__cnt_r"),
        coalesce(col("__cnt_t"), lit(0L)).as("__cnt_t"))
    val totals = vocab.agg(sum(col("__cnt_r")).as("__nr"),
      sum(col("__cnt_t")).as("__nt"), count(lit(1)).as("__v"))
    val llr = vocab.crossJoin(broadcast(totals))
      .select(col("__tok"),
        (log((col("__cnt_t") + 1).cast("double")) -
          log((col("__nt") + col("__v")).cast("double")) -
          log((col("__cnt_r") + 1).cast("double")) +
          log((col("__nr") + col("__v")).cast("double"))).as("__llr"))
    toks.join(llr, "__tok")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("__llr").cast("decimal(20,10)")).as("__s"))
      .select(col(idCol), col("n_tokens"),
        (col("__s").cast("double") / col("n_tokens")).as("importance"))
  }

  /** Quality filter over [[qualityMetrics]]: keep documents within the
   * given bounds (the curation filter of a training-data pipeline). Null
   * text is dropped. */
  def qualityFilter(
      df: DataFrame, textCol: String,
      minTokens: Int = 5,
      maxStopwordRatio: Double = 1.0,
      minStopwordRatio: Double = 0.0,
      maxMeanWordLen: Double = Double.MaxValue): DataFrame = {
    // The condition names the text column exactly once: the bounds read a
    // lambda variable bound to the one textStats struct. Filter pushdown
    // copies a projected alias into every reference to it, and FilterExec
    // does no subexpression elimination, so each extra reference would
    // re-run the text's whole upstream derivation (e.g. a PII-redaction
    // chain) once more per row.
    df.filter(exists(array(textStats(col(textCol))), stats => {
      val m = metricsOf(stats).toMap
      m("n_tokens") >= minTokens &&
        m("stopword_ratio") <= maxStopwordRatio &&
        m("stopword_ratio") >= minStopwordRatio &&
        m("mean_word_len") <= maxMeanWordLen
    }))
  }

  /**
   * TF-IDF keyword extraction: the top-k highest-scoring tokens of every
   * document against the corpus's own document frequencies. Output:
   * (idCol, rank, token, tf, score) — rank 1..k per document, ordered by
   * score descending with the token string as the deterministic
   * tie-break. Smoothed idf = ln((N+1)/(df+1)) + 1 (the scikit-learn
   * convention), so tokens present in every document still score > 0 and
   * the log never sees a zero. Blank/null documents produce no rows.
   *
   * Scale: per-document term frequencies are one hash aggregate over
   * (doc, token); document frequencies are a second aggregate over the
   * FIRST aggregate's output (already one row per (doc, token) — no
   * count-distinct shuffle of the raw token stream); the corpus document
   * count rides along as a one-row broadcast. The final top-k runs as a
   * window per document — Spark 4 inserts WindowGroupLimit before the
   * exchange, so only k rows per document cross the last shuffle.
   */
  def tfidfKeywords(
      df: DataFrame, idCol: String, textCol: String, topK: Int = 5,
      scoreDigits: Option[Int] = None): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    val tf = df
      .select(col(idCol), explode(split(trim(lower(col(textCol))), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = tf.agg(countDistinct(col(idCol)).as("n_docs"))
    val rawScore = (log((col("n_docs") + lit(1)).cast("double") /
      (col("df") + lit(1)).cast("double")) + lit(1.0)) *
      col("tf").cast("double")
    // scoreDigits: round BEFORE ranking — the idf ln is a transcendental
    // whose last ulp is libm-dependent, so cross-platform-stable rankings
    // and scores need a declared precision (ranking on the rounded value
    // keeps rank and score consistent with each other). Residual risk,
    // accepted: engines also differ in HOW they round doubles (shortest-
    // decimal HALF_UP vs x*10^d arithmetic), so a score that is both
    // libm-divergent AND adjacent to a rounding boundary could still
    // differ — two independent rare events, vs certain divergence without
    // the declared precision.
    val score = scoreDigits.map(d => round(rawScore, d)).getOrElse(rawScore)
    val scored = tf.join(docFreq, "token").crossJoin(broadcast(nDocs))
      .select(col(idCol), col("token"), col("tf"), score.as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("score").desc, col("token").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col(idCol), col("rank"), col("token"), col("tf"), col("score"))
  }

  /**
   * Vocabulary construction (tokenizer training's counting pass): the
   * `size` most frequent tokens with `minCount` support, assigned dense
   * ids 1..size by descending frequency (token string breaks ties).
   * Output: (token, cnt, token_id).
   *
   * Scale: one hash aggregate over the token stream (map-side partial
   * counts make the shuffle carry one row per distinct token per
   * partition), then a global `orderBy(...).limit(size)` — physically
   * TakeOrderedAndProject, which keeps only `size` rows per partition
   * before the single-point merge, never a full sort of the vocabulary.
   * The dense-rank window runs on the already-truncated `size`-row frame.
   */
  def buildVocab(
      df: DataFrame, textCol: String, size: Int, minCount: Long = 1L): DataFrame = {
    require(size > 0, s"size must be positive, got $size")
    val counts = df
      .select(explode(split(trim(lower(col(textCol))), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(size)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("token").asc)
    counts.withColumn("token_id", row_number().over(w))
  }

  /**
   * Encode documents as token-id sequences against a vocabulary frame
   * `(token, token_id)` (see [[buildVocab]]): lowercase-whitespace tokens
   * map through the vocabulary, out-of-vocabulary tokens to `unkId`.
   * Output: (idCol, ids array<long> in document order, n_tokens, n_unk);
   * blank documents produce no rows. The tokenize-to-ids step that turns
   * a curated corpus into model input.
   *
   * Scale: vocabularies are bounded (buildVocab truncates), so the
   * mapping join BROADCASTS — encoding is one narrow pass over the token
   * stream plus one id-keyed aggregation to reassemble sequences; only
   * (id, pos, token_id) triples shuffle, never text.
   */
  def encodeWithVocab(
      df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, unkId: Long = -1L): DataFrame = {
    Seq("ids", "n_tokens", "n_unk").foreach(c =>
      require(c != idCol, s"idCol collides with output column '$c'"))
    val toks = df
      .select(col(idCol), posexplode(split(trim(lower(col(textCol))), "\\s+"))
        .as(Seq("__pos", "__tok")))
      .filter(length(col("__tok")) > 0)
    val mapped = toks.join(
      broadcast(vocab.select(col("token").as("__tok"),
        col("token_id").as("__vid"))),
      Seq("__tok"), "left")
      .withColumn("__tid", coalesce(col("__vid").cast("long"), lit(unkId)))
    mapped.groupBy(idCol).agg(
      transform(array_sort(collect_list(struct(col("__pos"), col("__tid")))),
        s => s.getField("__tid")).as("ids"),
      count(lit(1)).as("n_tokens"),
      sum(when(col("__vid").isNull, 1L).otherwise(0L)).as("n_unk"))
  }

  /**
   * Learn a byte-pair-encoding merge table from the corpus (the
   * tokenizer-training step of an LLM data pipeline). Classic word-level
   * BPE: words are symbol sequences starting as characters (plus an
   * end-of-word marker symbol), and each round merges the
   * highest-frequency adjacent symbol pair (ties: left then right symbol
   * ascending — fully deterministic). Output: (rank 1..numMerges, left,
   * right, merged, pair_count), ranks in merge order.
   *
   * Scale split, as in IVF training: the CORPUS-sized work — word
   * counting — is one distributed hash aggregation, truncated to the
   * `maxWords` most frequent words (TakeOrderedAndProject: per-partition
   * truncation, no full sort); the merge loop then runs exactly on the
   * BOUNDED word-count table on the driver (the table is
   * vocabulary-sized — millions of entries at web scale, independent of
   * corpus bytes). No per-iteration Spark jobs, no lineage growth.
   */
  /** A word's initial BPE symbol sequence: Unicode CODE POINTS (surrogate
   * pairs stay intact — UTF-16 unit splitting would fabricate lone
   * surrogates for non-BMP text) plus the end-of-word marker. Shared by
   * [[learnBpe]] and [[applyBpe]] so train/apply cannot diverge. */
  private def bpeSymbols(
      w: String, endOfWord: String): scala.collection.mutable.ArrayBuffer[String] = {
    val syms = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      syms += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    syms += endOfWord
  }

  /** Merge every adjacent (l, r) occurrence in `syms`, left to right (the
   * single greedy-replace rule of both training and application). */
  private def bpeMergePair(
      syms: scala.collection.mutable.ArrayBuffer[String],
      l: String, r: String): Unit = {
    var i = 0
    while (i < syms.length - 1) {
      if (syms(i) == l && syms(i + 1) == r) {
        syms(i) = l + r
        syms.remove(i + 1)
      } else i += 1
    }
  }

  def learnBpe(
      df: DataFrame, textCol: String, numMerges: Int,
      maxWords: Int = 100000, endOfWord: String = "</w>"): DataFrame = {
    import scala.collection.mutable
    require(numMerges > 0, s"numMerges must be positive, got $numMerges")
    require(maxWords > 0, s"maxWords must be positive, got $maxWords")
    val wordCounts = df
      .select(explode(split(trim(lower(col(textCol))), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w").asc)
      .limit(maxWords)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val words: Array[(mutable.ArrayBuffer[String], Long)] =
      wordCounts.map { case (w, c) => (bpeSymbols(w, endOfWord), c) }
    // incremental pair statistics (the Sennrich-trainer shape): a global
    // pair-count map plus a pair -> word-index posting list, both updated
    // only for the words a merge actually touches — each round costs
    // O(distinct pairs) for the argmax + O(touched symbols), not a full
    // recount of every word
    val pairCounts = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    def wordPairs(syms: mutable.ArrayBuffer[String]): Seq[(String, String)] =
      (0 until syms.length - 1).map(i => (syms(i), syms(i + 1)))
    def add(p: (String, String), c: Long, wi: Int): Unit = {
      pairCounts.update(p, pairCounts.getOrElse(p, 0L) + c)
      pairWords.getOrElseUpdate(p, mutable.Set.empty) += wi
    }
    def remove(p: (String, String), c: Long, wi: Int): Unit = {
      val n = pairCounts(p) - c
      if (n == 0L) { pairCounts.remove(p); pairWords.remove(p) }
      else pairCounts.update(p, n)
      // wi may still hold p at another position; posting lists are
      // re-added below for pairs the rewritten word retains
    }
    words.zipWithIndex.foreach { case ((syms, c), wi) =>
      wordPairs(syms).foreach(p => add(p, c, wi))
    }
    val merges = mutable.ArrayBuffer.empty[(String, String, Long)]
    var round = 0
    var done = false
    while (round < numMerges && !done) {
      if (pairCounts.isEmpty) done = true
      else {
        val ((l, r), c) = pairCounts.minBy { case ((a, b), n) => (-n, a, b) }
        merges += ((l, r, c))
        val touched = pairWords.get((l, r)).map(_.toArray).getOrElse(Array.empty)
        touched.foreach { wi =>
          val (syms, wc) = words(wi)
          // word-local recount: subtract the word's old pair multiset,
          // rewrite, add the new one — exactly equivalent to a full
          // recount, touching only this word
          wordPairs(syms).foreach(p => remove(p, wc, wi))
          bpeMergePair(syms, l, r)
          wordPairs(syms).foreach(p => add(p, wc, wi))
        }
        round += 1
      }
    }
    val rows = merges.zipWithIndex.map { case ((l, r, c), i) =>
      Seq[Any](i + 1L, l, r, l + r, c)
    }.toSeq
    graft.engine.SparkGraftEngine(df.sparkSession)
      .toDF(rows, "rank:long,left:str,right:str,merged:str,pair_count:long")
  }

  /**
   * Apply a learned BPE merge table: tokenize text into subword units by
   * replaying the merges in rank order over each word's character
   * sequence. Output column: array<string> of subword tokens (end-of-word
   * markers folded into the final symbol). The merge table is a bounded
   * driver-side list riding in the closure (broadcast with the task) —
   * application itself is a narrow per-row pass, no shuffle.
   */
  def applyBpe(
      text: Column, merges: Seq[(String, String)],
      endOfWord: String = "</w>"): Column = {
    val ranked = merges.zipWithIndex.toMap
    val tokenize = udf { (s: String) =>
      if (s == null) Array.empty[String]
      else s.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).flatMap { w =>
        val syms = bpeSymbols(w, endOfWord)
        var changed = true
        while (changed && syms.length > 1) {
          // lowest-rank applicable merge, replayed as in training
          (0 until syms.length - 1)
            .flatMap(i => ranked.get((syms(i), syms(i + 1)))).minOption match {
            case Some(rk) =>
              val (l, r) = merges(rk)
              bpeMergePair(syms, l, r)
            case None => changed = false
          }
        }
        syms.map(x => if (x.endsWith(endOfWord)) x.dropRight(endOfWord.length) else x)
          .filter(_.nonEmpty)
      }
    }
    tokenize(text)
  }

  /** URL pattern shared by [[extractUrls]] and its oracle twin — RE2-safe
   * (no lookarounds), domain in capture group 1. Domain labels are
   * dot-SEPARATED (no trailing dot), so ordinary sentence punctuation
   * after a URL ("see https://example.org.") cannot split one real domain
   * into several stat keys. */
  val UrlRegex = "https?://([A-Za-z0-9-]+(?:\\.[A-Za-z0-9-]+)*)[^\\s]*"

  /** All http(s) URLs in `text`, in order (codegen'd regexp_extract_all). */
  def extractUrls(text: Column): Column =
    regexp_extract_all(text, lit(UrlRegex), lit(0))

  /**
   * Per-domain URL statistics over a corpus — the source-analysis step of
   * a web-scale pipeline (domain mixing, blocklists, crawl audits).
   * Output: (domain, n_urls, n_docs) — total URL mentions and distinct
   * documents mentioning the domain.
   *
   * Scale: one narrow extract + explode, then a domain-keyed aggregation
   * over (domain, id) pairs pre-deduplicated per document by the first
   * aggregate — the second shuffles one row per (domain, doc).
   */
  def urlDomainStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val perDoc = df
      .select(col(idCol).as("__id"),
        explode(regexp_extract_all(col(textCol), lit(UrlRegex), lit(1)))
          .as("domain"))
      .groupBy(col("domain"), col("__id")).agg(count(lit(1)).as("__n"))
    perDoc.groupBy("domain").agg(
      sum(col("__n")).as("n_urls"),
      count(lit(1)).as("n_docs"))
  }

  /**
   * Host-level link-graph extraction: each document's outbound links
   * (hosts of URLs found in `textCol`, the [[UrlRegex]] host group)
   * become weighted edges from the document's own host — the step
   * between HTML/WARC text ([[extractHtmlText]], [[graft.sources.Warc]])
   * and the graph operators ([[graft.operators.Graph.pageRank]] for
   * authority ranking, `labelPropagation` for site clustering,
   * `degreeStats` for crawl audits). Hosts are lowercased; rows with a
   * null/blank source host are dropped; self-links kept (callers filter
   * `src <> dst` when unwanted). Output: (src, dst, n_links) — parallel
   * links collapsed into the count, which the weighted graph ops consume
   * directly.
   *
   * Scale: one narrow extract + explode and ONE (src, dst)-keyed hash
   * aggregate with map-side partials — the exchange carries one row per
   * distinct edge per partition, not per link occurrence.
   */
  def linkGraph(
      df: DataFrame, srcHostCol: String, textCol: String): DataFrame =
    df.select(lower(col(srcHostCol)).as("src"),
        explode(regexp_extract_all(col(textCol), lit(UrlRegex), lit(1)))
          .as("__d"))
      .filter(col("src").isNotNull && length(col("src")) > 0)
      .select(col("src"), lower(col("__d")).as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("n_links"))

  /** Convenience: full text-analysis projection over a document table. */
  def analyze(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = df.select(
      Seq(col(idCol), langId(col(textCol)).as("lang_pred"),
        fingerprint(col(textCol)).as("fingerprint")) ++
        qualityMetrics(col(textCol)).map { case (n, c) => c.as(n) }: _*)
    base
  }

  /** Unicode normalization (NFC default) — see
   * [[graft.functions.expressions.NormalizeUnicode]]. The step that makes
   * composed and decomposed renderings of the same text byte-identical
   * before any dedup/fingerprint/tokenize pass. */
  def normalizeUnicode(text: Column, form: String = "NFC"): Column = {
    graft.functions.expressions.NormalizeUnicode.requireForm(form)
    org.apache.spark.sql.graftshim.ColumnBridge.column(
      graft.functions.expressions.NormalizeUnicode(
        org.apache.spark.sql.graftshim.ColumnBridge.expression(text), form))
  }

  /** Mojibake (double-encoding) repair — see
   * [[graft.functions.expressions.FixMojibake]]. Conservative: only
   * strings whose chars map back to a Latin-1/cp1252 mis-decode AND
   * strict-decode as multi-byte UTF-8 are rewritten. */
  def fixMojibake(text: Column): Column =
    org.apache.spark.sql.graftshim.ColumnBridge.column(
      graft.functions.expressions.FixMojibake(
        org.apache.spark.sql.graftshim.ColumnBridge.expression(text)))

  /** DEFLATE compression ratio of the text's UTF-8 bytes — the
   * machine-generated/boilerplate/noise quality signal; see
   * [[graft.functions.expressions.DeflateRatio]]. Low = repetitive
   * (templated or spun content), high = noise; natural prose sits in a
   * band in between, and curation pipelines keep only that band. */
  def compressionRatio(text: Column): Column =
    org.apache.spark.sql.graftshim.ColumnBridge.column(
      graft.functions.expressions.DeflateRatio(
        org.apache.spark.sql.graftshim.ColumnBridge.expression(text)))

  // ---- URL canonicalization (shared Spark/oracle pattern constants) ----

  /** Tracking query parameters stripped by [[canonicalizeUrl]] (the
   * click-attribution params that make otherwise-identical URLs distinct:
   * the #1 cause of canonical-URL dedup misses in web corpora). */
  val TrackingParamsRegex: String =
    "utm_[A-Za-z0-9_]*|fbclid|gclid|igshid|msclkid|mc_eid"

  /** `&utm_x=...` mid-query tracking param (consumes its own `&`). */
  val TrackAmpRegex: String = s"&(?:$TrackingParamsRegex)=[^&#]*"

  /** `?utm_x=...` first-position tracking param (replaced by `?`). */
  val TrackFirstRegex: String = s"\\?(?:$TrackingParamsRegex)=[^&#]*"

  /** Anchored scheme capture (group 1), e.g. `https` of `https://...`. */
  val UrlSchemeRegex: String = "^([A-Za-z][A-Za-z0-9+.-]*)://"

  /** Anchored host[:port] capture (group 1) after the scheme. */
  val UrlHostPortRegex: String = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"

  /** Anchored host capture WITHOUT the port (group 1). */
  val UrlHostRegex: String = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)"

  /** Anchored path+query capture (group 1) — `[^#]*` stops at the
   * fragment, so fragment stripping is part of the extraction. */
  val UrlRestRegex: String = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)"

  /** Lowercased host of an absolute http(s)/ftp URL ('' if not one). */
  def urlHost(url: Column): Column =
    lower(regexp_extract(trim(url), UrlHostRegex, 1))

  /**
   * Canonical form of an absolute URL — the normalization under which a
   * web pipeline dedups by source: lowercase scheme and host, default
   * port dropped (`:80` for http, `:443` for https), fragment dropped,
   * tracking query parameters ([[TrackingParamsRegex]]) removed with
   * separators repaired, empty path normalized to `/`. Strings without a
   * `scheme://` prefix pass through trimmed but otherwise untouched.
   *
   * Pure regexp/conditional chain over RE2-safe anchored patterns with no
   * backreferences — byte-identical on Spark (codegen'd, no UDF) and on
   * the DuckDB oracle, which applies the same chain (t28).
   */
  def canonicalizeUrl(url: Column): Column = {
    val u = trim(url)
    val scheme = lower(regexp_extract(u, UrlSchemeRegex, 1))
    val hostport = lower(regexp_extract(u, UrlHostPortRegex, 1))
    val host = when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .otherwise(hostport)
    val rest0 = regexp_extract(u, UrlRestRegex, 1)
    val rest1 = regexp_replace(rest0, TrackAmpRegex, "")
    val rest2 = regexp_replace(rest1, TrackFirstRegex, "?")
    // a removed first param leaves "?&next=..." — repair, then drop a
    // dangling trailing separator left by a removed last param
    val rest3 = regexp_replace(rest2, "\\?&", "?")
    val rest4 = regexp_replace(rest3, "[?&]$", "")
    val rest = when(rest4 === "", lit("/")).otherwise(rest4)
    when(scheme === "", u)
      .otherwise(concat(scheme, lit("://"), host, rest))
  }

  /**
   * Drop rows whose URL host is on a domain blocklist, with standard
   * suffix semantics: an entry blocks the exact host AND every subdomain
   * (`example.net` blocks `example.net` and `cdn.example.net`, never
   * `notexample.net`).
   *
   * Scale: the OR-of-suffixes predicate is NOT evaluated as a nested-loop
   * scan of the blocklist. Both sides are keyed by a registrable-suffix
   * join key (the entry's last two labels; the host probes with its last
   * one AND last two), so the lookup is two broadcast HASH anti-joins with
   * the exact host/suffix check as a join filter — O(1) per row, and the
   * same plan degrades gracefully to a shuffle hash join if a million-entry
   * blocklist ever exceeds the broadcast threshold.
   */
  def filterBlockedDomains(
      df: DataFrame, urlCol: String, blocked: DataFrame): DataFrame = {
    require(blocked.columns.length == 1,
      s"blocklist must have exactly one (domain) column, got ${blocked.columns.mkString(",")}")
    Seq("__host", "__k1", "__k2").foreach(c =>
      require(!df.columns.contains(c), s"input column '$c' collides with internals"))
    val bcol = blocked.columns.head
    val entries = blocked
      .select(lower(trim(col(bcol))).as("__bd"))
      .filter(length(col("__bd")) > 0).distinct()
      .withColumn("__bkey",
        when(col("__bd").contains("."),
          regexp_extract(col("__bd"), "([^.]+\\.[^.]+)$", 1))
          .otherwise(col("__bd")))
    val b = broadcast(entries)
    val withHost = df
      .withColumn("__host", urlHost(col(urlCol)))
      .withColumn("__k1", regexp_extract(col("__host"), "([^.]+)$", 1))
      .withColumn("__k2", regexp_extract(col("__host"), "([^.]+\\.[^.]+)$", 1))
    def blockedCond(key: String) =
      col(key) === col("__bkey") &&
        (col("__host") === col("__bd") ||
          col("__host").endsWith(concat(lit("."), col("__bd"))))
    withHost
      .join(b, blockedCond("__k1"), "left_anti")
      .join(b, blockedCond("__k2"), "left_anti")
      .drop("__host", "__k1", "__k2")
  }

  /**
   * Bigram language-model cross-entropy per document — the perplexity
   * quality filter one step up from [[unigramCrossEntropy]] (CCNet trains
   * a KenLM; a self-trained Laplace bigram LM is the engine-native
   * analog). For consecutive token pairs (w1, w2):
   *
   *   P(w2|w1) = (c(w1,w2) + 1) / (c1(w1) + V)
   *   bigram_ce(d) = -(1/|pairs(d)|) Σ ln P
   *
   * where c1 counts w1 as a bigram CONTEXT (all positions except
   * document-final) and V is the corpus vocabulary size, so the model is
   * a proper conditional distribution. Documents with fewer than two
   * tokens produce no rows (no bigram evidence — the same convention as
   * the blank-document rule elsewhere). Output: (idCol, n_bigrams,
   * bigram_ce); low is fluent, high is gibberish.
   *
   * Determinism: every `ln` argument is an integer-valued double (the
   * t12 cross-libm policy) and per-document log-prob sums are bridged
   * through decimal(20,10) — exact, order-independent, engine-identical.
   *
   * Scale: the pair stream is built NARROWLY from each document's token
   * array (no self-join on positions); c12/c1 are two hash aggregations
   * with map-side partials; scoring joins the pair stream against the
   * count tables by (w1[, w2]) — only token pairs and 8-byte counts
   * shuffle, never text. `minPairCount` prunes the c12 table for corpora
   * whose bigram diversity is too large to join comfortably (pruned pairs
   * fall back to the unseen-bigram probability 1/(c1+V), which is exactly
   * what Laplace assigns a zero count — the model stays well-defined).
   */
  def bigramCrossEntropy(
      df: DataFrame, idCol: String, textCol: String,
      minPairCount: Long = 1L): DataFrame = {
    Seq("n_bigrams", "bigram_ce").foreach(c =>
      require(c != idCol, s"idCol collides with output column '$c'"))
    val wf = filter(split(trim(lower(col(textCol))), "\\s+"),
      x => length(x) > 0)
    val base = df.select(col(idCol), wf.as("__w")).filter(size(col("__w")) >= 2)
    val pairsArr = transform(
      sequence(lit(0), size(col("__w")) - 2),
      i => struct(element_at(col("__w"), i + 1).as("w1"),
        element_at(col("__w"), i + 2).as("w2")))
    val pr = base.select(col(idCol), explode(pairsArr).as("__p"))
      .select(col(idCol), col("__p.w1").as("__w1"), col("__p.w2").as("__w2"))
    val c12 = pr.groupBy("__w1", "__w2").agg(count(lit(1)).as("__c12"))
      .filter(col("__c12") >= minPairCount)
    val c1 = pr.groupBy("__w1").agg(count(lit(1)).as("__c1"))
    val v = df
      .select(explode(filter(split(trim(lower(col(textCol))), "\\s+"),
        x => length(x) > 0)).as("__tok"))
      .agg(countDistinct(col("__tok")).as("__v"))
    val scored = pr
      .join(c1, "__w1")
      .join(c12, Seq("__w1", "__w2"), "left")
      .crossJoin(broadcast(v))
      .select(col(idCol),
        (log((coalesce(col("__c12"), lit(0L)) + 1).cast("double")) -
          log((col("__c1") + col("__v")).cast("double"))).as("__lp"))
    scored.groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("__lp").cast("decimal(20,10)")).as("__s"))
      .select(col(idCol), col("n_bigrams"),
        (-col("__s").cast("double") / col("n_bigrams")).as("bigram_ce"))
  }

  /**
   * Interpolated trigram-LM cross-entropy (Jelinek–Mercer smoothing) —
   * the next rung of the self-trained LM-quality ladder above
   * [[unigramCrossEntropy]] and [[bigramCrossEntropy]]: per-document mean
   * negative log of
   *
   *   p(w₃|w₁w₂) = λ₃·c(w₁w₂w₃)/ctx(w₁w₂) + λ₂·c(w₂w₃)/ctx(w₂)
   *              + λ₁·(c(w₃)+1)/(N+V),  λ₁ = 1 − λ₃ − λ₂
   *
   * with all counts from the corpus itself. The denominators are CONTEXT
   * counts — occurrences of w₁w₂ (resp. w₂) at positions that have a
   * successor, exactly as [[bigramCrossEntropy]] does — so each smoothed
   * term is a properly normalized conditional distribution (Σ_{w₃} p = 1
   * before interpolation); the Laplace unigram floor keeps p > 0 for any
   * token. A trigram model
   * separates formulaic boilerplate (low CE — its trigrams repeat
   * corpus-wide) from fluent novel prose far better than unigram
   * statistics. Documents with fewer than 3 tokens produce no rows.
   * Output: (idCol, n_trigrams, trigram_ce).
   *
   * Scale: the scoring join streams (id, w₁, w₂, w₃) triples against
   * three count tables — trigram, bigram (joined twice), unigram + a
   * one-row (N, V) broadcast. Each count table is one hash aggregate with
   * map-side partials; the n-gram tables are corpus-vocabulary-sized, not
   * corpus-sized, and AQE broadcasts them when small. No UDF anywhere.
   *
   * Determinism: each position's log-probability is rounded to `digits`
   * decimals BEFORE the decimal(20,10)-bridged sum — ln is transcendental
   * and the last ulp is libm-dependent, so portable scores need a
   * declared precision (the [[tfidfKeywords]] convention).
   */
  def trigramCrossEntropy(
      df: DataFrame, idCol: String, textCol: String,
      lambda3: Double = 0.7, lambda2: Double = 0.2,
      digits: Int = 9): DataFrame = {
    require(lambda3 > 0 && lambda2 > 0 && lambda3 + lambda2 < 1,
      s"need lambda3 > 0, lambda2 > 0, lambda3 + lambda2 < 1 " +
        s"(got $lambda3, $lambda2; lambda1 = 1 - lambda3 - lambda2 must be > 0)")
    require(digits >= 1 && digits <= 15, s"digits must be in [1, 15], got $digits")
    Seq("n_trigrams", "trigram_ce").foreach(c =>
      require(c != idCol, s"idCol collides with output column '$c'"))
    val lambda1 = 1.0 - lambda3 - lambda2
    val wf = filter(split(trim(lower(col(textCol))), "\\s+"), x => length(x) > 0)
    val base = df.select(col(idCol), wf.as("__w"))
    val tri = base.filter(size(col("__w")) >= 3)
      .select(col(idCol), explode(transform(
        sequence(lit(0), size(col("__w")) - 3),
        i => struct(element_at(col("__w"), i + 1).as("w1"),
          element_at(col("__w"), i + 2).as("w2"),
          element_at(col("__w"), i + 3).as("w3")))).as("__t"))
      .select(col(idCol), col("__t.w1").as("__w1"),
        col("__t.w2").as("__w2"), col("__t.w3").as("__w3"))
    val pairs = base.filter(size(col("__w")) >= 2)
      .select(explode(transform(
        sequence(lit(0), size(col("__w")) - 2),
        i => struct(element_at(col("__w"), i + 1).as("w1"),
          element_at(col("__w"), i + 2).as("w2")))).as("__p"))
      .select(col("__p.w1").as("__p1"), col("__p.w2").as("__p2"))
    val toks = base.select(explode(col("__w")).as("__tok"))
    val c123 = tri.groupBy("__w1", "__w2", "__w3").agg(count(lit(1)).as("__c123"))
    val c12 = pairs.groupBy("__p1", "__p2").agg(count(lit(1)).as("__c12"))
    // context counts (positions WITH a successor): trigram-level contexts
    // from the trigram table, bigram-level contexts from pair heads — the
    // bigramCrossEntropy discipline, so each conditional is normalized
    val c12ctx = tri.groupBy("__w1", "__w2").agg(count(lit(1)).as("__c12a"))
    val ctx1 = pairs.groupBy("__p1").agg(count(lit(1)).as("__c2"))
    val uni = toks.groupBy("__tok").agg(count(lit(1)).as("__c1"))
    val nv = toks.agg(count(lit(1)).as("__n"), countDistinct(col("__tok")).as("__v"))
    val p3 = col("__c123").cast("double") / col("__c12a").cast("double")
    val p2 = coalesce(col("__c23"), lit(0L)).cast("double") /
      col("__c2").cast("double")
    val p1 = (col("__c3") + 1).cast("double") /
      (col("__n") + col("__v")).cast("double")
    val lp = round(log(lit(lambda3) * p3 + lit(lambda2) * p2 + lit(lambda1) * p1),
      digits)
    val scored = tri
      .join(c123, Seq("__w1", "__w2", "__w3"))
      .join(c12ctx, Seq("__w1", "__w2"))
      .join(c12.select(col("__p1").as("__w2"), col("__p2").as("__w3"),
        col("__c12").as("__c23")), Seq("__w2", "__w3"), "left")
      // inner is safe: a trigram's w2 always has a successor (w3), so its
      // context count is >= 1
      .join(ctx1.select(col("__p1").as("__w2"), col("__c2")), "__w2")
      .join(uni.select(col("__tok").as("__w3"), col("__c1").as("__c3")), "__w3")
      .crossJoin(broadcast(nv))
      .select(col(idCol), lp.as("__lp"))
    scored.groupBy(idCol)
      .agg(count(lit(1)).as("n_trigrams"),
        sum(col("__lp").cast("decimal(20,10)")).as("__s"))
      .select(col(idCol), col("n_trigrams"),
        (-col("__s").cast("double") / col("n_trigrams")).as("trigram_ce"))
  }

  // ---- HTML text extraction (shared Spark/oracle pattern chain) ----

  /** HTML→text strip chain (ordered; RE2-safe — lazy quantifiers and
   * inline `(?is)` flags only, no lookarounds or backreferences — so a
   * DuckDB/RE2 oracle can replay the identical chain): drop `script` and
   * `style` subtrees wholesale (their content is code, not text), drop
   * comments, then turn every remaining tag into a space. Entity decoding
   * runs AFTER tag removal so a decoded `&lt;` stays literal text and can
   * never form a fake tag, and `&amp;` decodes LAST so `&amp;lt;` yields
   * the literal string `&lt;` (single decode, the HTML5 semantics).
   * Unknown entities pass through unchanged. Reference behavior:
   * `fugue`-adjacent web pipelines do this step outside the engine; here
   * it is a first-class codegen'd chain. */
  val HtmlPatterns: Seq[(String, String)] = Seq(
    "(?is)<script\\b[^>]*>.*?</script\\s*>" -> " ",
    "(?is)<style\\b[^>]*>.*?</style\\s*>" -> " ",
    "(?s)<!--.*?-->" -> " ",
    // declarations (<!DOCTYPE html>, <![CDATA[) and processing
    // instructions (<?xml ... ?>): the tag pattern below requires a
    // letter after '<' so these would otherwise leak verbatim. Ordered
    // after comments so <!-- --> still wins the <! prefix.
    "(?s)<![^>]*>" -> " ",
    "(?s)<\\?.*?\\?>" -> " ",
    "(?is)</?[a-z][^>]*>" -> " ",
    "&nbsp;" -> " ",
    "&lt;" -> "<",
    "&gt;" -> ">",
    "&quot;" -> "\"",
    "&#39;" -> "'",
    "&amp;" -> "&",
  )

  /** Anchor-element regex: group 0 is the whole `<a ...>...</a>` element,
   * group 1 its inner HTML. Used for link-density boilerplate scoring. */
  val HtmlAnchorRegex: String = "(?is)<a\\b[^>]*>(.*?)</a\\s*>"

  private def htmlStripped(html: Column): Column =
    HtmlPatterns.foldLeft(html) { case (c, (re, repl)) =>
      regexp_replace(c, re, repl)
    }

  /** Visible text of an HTML document: [[HtmlPatterns]] in order, then
   * whitespace-collapse and trim. A chain of codegen'd `regexp_replace`s —
   * one scan per pattern, no UDF, no shuffle; at 100 TB this runs as a
   * narrow map inside whole-stage codegen right after WARC ingestion. */
  def extractHtmlText(html: Column): Column =
    trim(regexp_replace(htmlStripped(html), "\\s+", " "))

  /**
   * Per-document HTML text + link-density boilerplate stats — the
   * extraction step between WARC ingestion ([[graft.sources.Warc]]) and
   * text curation in a web-corpus pipeline. Link density (anchor-text
   * chars / total text chars) is the classic boilerplate signal
   * (Kohlschütter et al., WSDM 2010): navigation/footer-heavy pages score
   * high and get dropped or down-weighted.
   *
   * Output: (idCol, text, n_links, link_chars, text_chars, link_density).
   *
   * Scale: pure narrow regexp work — no shuffle, no UDF; the whole
   * projection stays inside one whole-stage-codegen span.
   */
  def htmlTextStats(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    Seq("text", "n_links", "link_chars", "text_chars", "link_density")
      .foreach(c => require(c != idCol, s"idCol collides with output column '$c'"))
    val html = col(htmlCol)
    val text = extractHtmlText(html)
    val anchorText = extractHtmlText(array_join(
      regexp_extract_all(html, lit(HtmlAnchorRegex), lit(1)), " "))
    df.select(col(idCol),
      text.as("text"),
      size(regexp_extract_all(html, lit(HtmlAnchorRegex), lit(0)))
        .cast("long").as("n_links"),
      length(anchorText).cast("long").as("link_chars"),
      length(text).cast("long").as("text_chars"),
      when(length(text) > 0,
        length(anchorText).cast("double") / length(text).cast("double"))
        .otherwise(lit(0.0)).as("link_density"))
  }

  /**
   * Gopher quality-rule bundle (Rae et al. 2021, "Scaling Language
   * Models: … Gopher", appendix A1.1): the canonical document-level
   * heuristics a pretraining pipeline applies before model-based
   * filtering. Per document, the metrics and their rule verdicts:
   *
   *  - word count in [minWords, maxWords]            (rule_words)
   *  - mean word length in [3, 10]                   (rule_word_len)
   *  - '#'-symbol-to-word ratio ≤ 0.1                (rule_symbols)
   *  - "..."-ellipsis-to-word ratio ≤ 0.1            (rule_ellipsis)
   *  - fraction of lines starting with a bullet ≤ 0.9 (rule_bullets)
   *  - fraction of lines ending with "..." ≤ 0.3     (rule_line_ellipsis)
   *  - fraction of words containing a letter ≥ 0.8   (rule_alpha)
   *  - ≥ 2 distinct hits from a small stopword set   (rule_stopwords)
   *
   * Output: (idCol, n_words, mean_word_len, symbol_ratio, ellipsis_ratio,
   * bullet_line_frac, ellipsis_line_frac, alpha_word_frac, n_stop_hits,
   * the eight rule booleans, passes) — `passes` is their conjunction.
   * Words are the whitespace tokens of the trimmed text; lines split on
   * '\n'; blank documents score zeros and fail rule_words.
   *
   * Scale: pure per-row scalar/array arithmetic — a narrow projection
   * inside whole-stage codegen, no shuffle, no UDF; every ratio is an
   * exact-int division so the verdicts are engine-portable.
   */
  def gopherRules(
      df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    require(minWords >= 1 && maxWords >= minWords,
      s"need 1 <= minWords <= maxWords, got [$minWords, $maxWords]")
    val out = Seq("n_words", "mean_word_len", "symbol_ratio", "ellipsis_ratio",
      "bullet_line_frac", "ellipsis_line_frac", "alpha_word_frac",
      "n_stop_hits", "passes")
    out.foreach(c => require(c != idCol, s"idCol collides with output '$c'"))
    val text = coalesce(col(textCol), lit(""))
    val words = filter(split(trim(text), "\\s+"), w => length(w) > 0)
    val nw = size(words)
    val nwD = nw.cast("double")
    val lines = filter(transform(split(text, "\n"), l => trim(l)),
      l => length(l) > 0)
    val nl = size(lines)
    val meanLen = when(nw > 0,
      length(regexp_replace(trim(text), "\\s+", "")).cast("double") / nwD)
      .otherwise(lit(0.0))
    val nHash = (length(text) -
      length(regexp_replace(text, "#", ""))).cast("double")
    val nEll = ((length(text) -
      length(regexp_replace(text, "\\.\\.\\.", ""))) / 3).cast("double")
    val symbolRatio = when(nw > 0, nHash / nwD).otherwise(lit(0.0))
    val ellipsisRatio = when(nw > 0, nEll / nwD).otherwise(lit(0.0))
    val bulletFrac = when(nl > 0,
      size(filter(lines, l => l.startsWith("•") || l.startsWith("- ") ||
        l.startsWith("* "))).cast("double") / nl.cast("double"))
      .otherwise(lit(0.0))
    val lineEllFrac = when(nl > 0,
      size(filter(lines, l => l.endsWith("...")))
        .cast("double") / nl.cast("double")).otherwise(lit(0.0))
    // \p{L} (any Unicode letter), not [A-Za-z]: the Gopher paper's
    // "alphabetic character" test must not mass-reject non-Latin-script
    // corpora (zh/ru/ar words contain zero ASCII letters). Java regex and
    // DuckDB's RE2 agree on the \p{L} class.
    val alphaFrac = when(nw > 0,
      size(filter(words, w => w.rlike("\\p{L}"))).cast("double") / nwD)
      .otherwise(lit(0.0))
    val stopHits = size(array_intersect(
      transform(words, w => lower(w)),
      array(GopherStopwords.map(lit): _*)))
    val rWords = nw >= minWords && nw <= maxWords
    val rLen = meanLen >= 3.0 && meanLen <= 10.0
    val rSym = symbolRatio <= 0.1
    val rEll = ellipsisRatio <= 0.1
    val rBul = bulletFrac <= 0.9
    val rLel = lineEllFrac <= 0.3
    val rAlp = alphaFrac >= 0.8
    val rStop = stopHits >= 2
    df.select(col(idCol),
      nw.cast("long").as("n_words"),
      meanLen.as("mean_word_len"),
      symbolRatio.as("symbol_ratio"),
      ellipsisRatio.as("ellipsis_ratio"),
      bulletFrac.as("bullet_line_frac"),
      lineEllFrac.as("ellipsis_line_frac"),
      alphaFrac.as("alpha_word_frac"),
      stopHits.cast("long").as("n_stop_hits"),
      rWords.as("rule_words"), rLen.as("rule_word_len"),
      rSym.as("rule_symbols"), rEll.as("rule_ellipsis"),
      rBul.as("rule_bullets"), rLel.as("rule_line_ellipsis"),
      rAlp.as("rule_alpha"), rStop.as("rule_stopwords"),
      (rWords && rLen && rSym && rEll && rBul && rLel && rAlp && rStop)
        .as("passes"))
  }

  /** The Gopher "must contain 2 of" stopword set (the paper's list). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /**
   * C4-style cleanup (Raffel et al. 2020, §2.2 — the heuristics behind
   * the Colossal Clean Crawled Corpus): line-level retention + document
   * verdict, applied AS DECLARED here so both engines (and the oracle)
   * agree:
   *
   *  line kept  ⇔ it ends in terminal punctuation (. ! ? ") after
   *               trimming, has ≥ `minLineWords` words, and does not
   *               contain "javascript" (case-insensitive)
   *  doc kept   ⇔ the ORIGINAL text has no curly brace, no
   *               "lorem ipsum" (case-insensitive), and the cleaned
   *               text retains ≥ `minSentences` sentence terminators
   *
   * Output: (idCol, text — the kept lines rejoined with '\n',
   * n_lines_kept, n_lines_dropped, kept). Rows are NOT filtered — the
   * verdict is a column, so pipelines can audit drop reasons before
   * committing (filter on `kept` to apply).
   *
   * Scale: narrow split/filter/join array work per row — whole-stage
   * codegen, no shuffle, no UDF.
   */
  def c4Clean(
      df: DataFrame, idCol: String, textCol: String,
      minLineWords: Int = 3, minSentences: Int = 3): DataFrame = {
    require(minLineWords >= 1, s"minLineWords must be >= 1, got $minLineWords")
    require(minSentences >= 0, s"minSentences must be >= 0, got $minSentences")
    Seq("n_lines_kept", "n_lines_dropped", "kept").foreach(c =>
      require(c != idCol, s"idCol collides with output '$c'"))
    val text = coalesce(col(textCol), lit(""))
    val lines = transform(split(text, "\n"), l => trim(l))
    val nonBlank = filter(lines, l => length(l) > 0)
    def lineKept(l: Column): Column =
      substring(l, -1, 1).isin(".", "!", "?", "\"") &&
        size(filter(split(l, "\\s+"), w => length(w) > 0)) >= minLineWords &&
        !lower(l).contains("javascript")
    val keptLines = filter(nonBlank, lineKept(_))
    val cleaned = array_join(keptLines, "\n")
    val nSent = length(cleaned) -
      length(regexp_replace(cleaned, "[.!?]", ""))
    val docKept = !text.contains("{") && !text.contains("}") &&
      !lower(text).contains("lorem ipsum") && nSent >= minSentences
    df.select(col(idCol),
      cleaned.as(textCol),
      size(keptLines).cast("long").as("n_lines_kept"),
      (size(nonBlank) - size(keptLines)).cast("long").as("n_lines_dropped"),
      docKept.as("kept"))
  }

  /**
   * BM25 corpus retrieval: the top-k highest-scoring documents for every
   * query, scored by Okapi BM25 (Robertson/Lucene `+1` idf variant, so
   * idf is always positive even for tokens in more than half the corpus):
   *
   *   score(q, d) = Σ_{t ∈ q} qtf(t) · ln(1 + (N − df + 0.5)/(df + 0.5))
   *                 · tf(t,d)·(k1+1) / (tf(t,d) + k1·(1 − b + b·|d|/avgdl))
   *
   * Duplicate query terms weight linearly via their query term frequency
   * `qtf` (the k3→∞ simplification). Output: (queryIdCol, rank, idCol,
   * score) — rank 1..topK per query, score descending, document id
   * ascending as the deterministic tie-break. Queries none of whose terms
   * occur in the corpus produce no rows.
   *
   * Scale: the corpus is tokenized ONCE into a (doc, token, tf) posting
   * frame (one hash aggregate with map-side partials); document
   * frequencies aggregate the postings (one row per (doc, token) — the
   * raw token stream never shuffles twice); N and avgdl ride along as a
   * one-row broadcast. The query side is joined token-keyed against the
   * postings — a query set is bounded (thousands, not billions), so AQE
   * broadcasts it and scoring is one narrow pass over the postings; only
   * (query, doc, contribution) rows reach the final per-query aggregate.
   * The top-k runs as a per-query window — Spark 4 inserts
   * WindowGroupLimit before the exchange, so k rows per query cross the
   * last shuffle, never the full score list.
   *
   * Determinism: per-(query, doc) contribution sums are bridged through
   * decimal(25,10) (exact, order-independent); with `scoreDigits` each
   * per-token contribution is rounded BEFORE the sum so the transcendental
   * idf/norm arithmetic has a declared precision on every engine (the
   * t13 tfidf convention — see [[tfidfKeywords]] for the rationale).
   *
   * `maxDfFraction` < 1 enables the classic IR stopword df-cut: query
   * terms present in more than that fraction of documents are dropped
   * BEFORE the posting join. Such terms dominate candidate volume (every
   * matching posting becomes a scored row — a term in half the corpus
   * candidates half the corpus per query) while contributing near-zero
   * idf; cutting them is the standard scale lever, at the cost of scores
   * becoming a documented approximation. Default 1.0 = exact.
   */
  def bm25TopK(
      corpus: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      topK: Int = 10, k1: Double = 1.2, b: Double = 0.75,
      scoreDigits: Option[Int] = None,
      maxDfFraction: Double = 1.0): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    require(k1 >= 0, s"k1 must be >= 0, got $k1")
    require(b >= 0 && b <= 1, s"b must be in [0, 1], got $b")
    require(maxDfFraction > 0 && maxDfFraction <= 1,
      s"maxDfFraction must be in (0, 1], got $maxDfFraction")
    require(idCol != queryIdCol,
      s"idCol and queryIdCol must differ (both '$idCol'): the output " +
        "carries one column for each")
    Seq("rank", "score").foreach(c => require(c != idCol && c != queryIdCol,
      s"id column collides with output column '$c'"))
    val postings = corpus
      .select(col(idCol), explode(split(trim(lower(col(textCol))), "\\s+")).as("__tok"))
      .filter(length(col("__tok")) > 0)
      .groupBy(col(idCol), col("__tok"))
      .agg(count(lit(1)).as("__tf"))
    val docLen = postings.groupBy(idCol).agg(sum(col("__tf")).as("__dl"))
    val allDocFreq = postings.groupBy("__tok").agg(count(lit(1)).as("__df"))
    // avgdl via an exact integer length-sum and ONE double division:
    // a running double average is order-dependent FP once the corpus is
    // large (1000-executor merge order varies run to run), while a long
    // sum is exact and the single long→double conversion + divide is a
    // deterministic IEEE function of the totals on every engine
    val stats = docLen.agg(count(lit(1)).as("__n"),
      (sum(col("__dl")).cast("double") /
        count(lit(1)).cast("double")).as("__avgdl"))
    // df cut (classic IR stopword pruning): drop query terms present in
    // more than maxDfFraction of the corpus BEFORE the posting join —
    // such terms dominate the candidate volume (every matching posting
    // becomes a scored row) while contributing near-zero idf. With the
    // cut, scores are a documented approximation (the dropped terms'
    // tiny contributions vanish); default 1.0 = exact.
    val docFreq =
      if (maxDfFraction >= 1.0) allDocFreq
      else allDocFreq.crossJoin(broadcast(stats.select(col("__n"))))
        .filter(col("__df").cast("double") <=
          lit(maxDfFraction) * col("__n").cast("double"))
        .select(col("__tok"), col("__df"))
    val qtf = queries
      .select(col(queryIdCol),
        explode(split(trim(lower(col(queryTextCol))), "\\s+")).as("__tok"))
      .filter(length(col("__tok")) > 0)
      .groupBy(col(queryIdCol), col("__tok"))
      .agg(count(lit(1)).as("__qtf"))
    val idf = log(lit(1.0) +
      (col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)))
    val norm = col("__tf") + lit(k1) *
      (lit(1.0) - lit(b) + lit(b) * col("__dl").cast("double") / col("__avgdl"))
    val rawContrib = col("__qtf").cast("double") * idf *
      (col("__tf").cast("double") * lit(k1 + 1.0)) / norm
    val contrib = scoreDigits.map(d => round(rawContrib, d)).getOrElse(rawContrib)
    val scored = postings
      .join(qtf, Seq("__tok"))
      .join(docFreq, Seq("__tok"))
      .join(docLen, Seq(idCol))
      .crossJoin(broadcast(stats))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(sum(contrib.cast("decimal(25,10)")).as("__s"))
      .select(col(queryIdCol), col(idCol), col("__s").cast("double").as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryIdCol))
      .orderBy(col("score").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col(queryIdCol), col("rank"), col(idCol), col("score"))
  }
}
