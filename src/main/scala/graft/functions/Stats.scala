package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Distribution statistics over numeric columns — the profiling layer a
 * curation pipeline consults before setting thresholds ([[Outliers]],
 * [[Checks]]) on a signal it has never seen.
 *
 * Scale design: everything here is plain aggregation with map-side
 * partials. The histogram is two jobs (a 2-double min/max probe, then
 * one bucket groupBy); the correlation matrix is ONE pass however many
 * column pairs ride along, with decimal-bridged sums so results are
 * independent of partition order and reproducible on any engine at the
 * declared 9-digit precision.
 */
object Stats {

  /**
   * Equi-width histogram of `c`: `bins` buckets spanning [min, max],
   * output `(bucket, lo, hi, n)` sorted by bucket, empty buckets
   * included (n = 0). x = max lands in the last bucket; null and NaN
   * values are excluded. Degenerate domains (min == max, or no valid
   * rows) produce a single bucket row.
   */
  def histogram(df: DataFrame, c: String, bins: Int): DataFrame = {
    require(bins >= 1, "bins must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val v = col(c).cast("double")
    // NaN and ±Infinity are excluded like null: NaN sorts ABOVE every
    // double in Spark so one NaN row would become max() and collapse all
    // mass into bucket 0; an Inf row would make the width infinite and
    // (under ANSI) crash the bucket cast. abs(v) < +Inf is false for
    // NaN too (NaN-is-largest ordering), so one predicate covers both.
    val valid = abs(v) < Double.PositiveInfinity
    val Array(mn, mx) = df.filter(valid).agg(min(v), max(v)).collect().head match {
      case r if r.isNullAt(0) => Array(0.0, 0.0) // no valid rows
      case r => Array(r.getDouble(0), r.getDouble(1))
    }
    if (mx <= mn) {
      val n = df.filter(valid).count()
      return Seq((0, mn, mx, n)).toDF("bucket", "lo", "hi", "n")
    }
    val w = (mx - mn) / bins
    val bucket = least(floor((v - mn) / w).cast("int"), lit(bins - 1))
    val counts = df.filter(valid)
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"))
    val frame = spark.range(bins).select(col("id").cast("int").as("bucket"))
    frame.join(counts, Seq("bucket"), "left")
      .select(col("bucket"),
        (lit(mn) + col("bucket") * w).as("lo"),
        (lit(mn) + (col("bucket") + 1) * w).as("hi"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("bucket")
  }

  /**
   * Pairwise Pearson correlation over `cols` in ONE aggregation pass:
   * output `(col_a, col_b, corr)` for every a < b pair (input order),
   * corr at a declared 9-digit precision, null when either side has
   * zero variance. Rows where either column is null are excluded from
   * that pair's sums (pairwise deletion).
   */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "correlationMatrix needs >= 2 columns")
    require(cols.distinct.size == cols.size, "duplicate column in list")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    def dec(e: org.apache.spark.sql.Column) = e.cast("decimal(28,6)")
    val aggs = pairs.zipWithIndex.flatMap { case ((a, b), i) =>
      val (x, y) = (col(a).cast("double"), col(b).cast("double"))
      // NaN/±Inf excluded like null: cast(non-finite as decimal) is null,
      // so the sums would silently skip such rows while n counted them —
      // n and the sums must agree on the row population. abs(x) < +Inf
      // is false for NaN as well (NaN-is-largest ordering).
      val both = abs(x) < Double.PositiveInfinity &&
        abs(y) < Double.PositiveInfinity
      def g(e: org.apache.spark.sql.Column) = when(both, e)
      Seq(
        count(g(lit(1))).cast("double").as(s"__n$i"),
        sum(dec(g(x))).cast("double").as(s"__sx$i"),
        sum(dec(g(y))).cast("double").as(s"__sy$i"),
        sum(dec(g(x * x))).cast("double").as(s"__sxx$i"),
        sum(dec(g(y * y))).cast("double").as(s"__syy$i"),
        sum(dec(g(x * y))).cast("double").as(s"__sxy$i"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = pairs.zipWithIndex.map { case ((a, b), i) =>
      val n = col(s"__n$i")
      val cov = n * col(s"__sxy$i") - col(s"__sx$i") * col(s"__sy$i")
      val vx = n * col(s"__sxx$i") - col(s"__sx$i") * col(s"__sx$i")
      val vy = n * col(s"__syy$i") - col(s"__sy$i") * col(s"__sy$i")
      // clamp: the decimal quantization of the sums can push a perfectly
      // linear pair a few 1e-9 past ±1, which Pearson never reaches
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        when(vx > 0 && vy > 0,
          least(greatest(round(cov / sqrt(vx * vy), 9), lit(-1.0)), lit(1.0)))
          .as("corr"))
    }
    one.select(explode(array(rows: _*)).as("r"))
      .select(col("r.col_a"), col("r.col_b"), col("r.corr"))
  }

  /**
   * Population-stability index (PSI) between two snapshots of a numeric
   * column — the standard "did the distribution drift between corpus
   * versions?" gate (rule of thumb: < 0.1 stable, 0.1–0.25 moderate,
   * > 0.25 action). Buckets are equi-width over the BEFORE snapshot's
   * [min, max] (the reference frame); AFTER values outside that range
   * clamp into the edge buckets. Per bucket:
   *
   *   psi_i = (p_after_i − p_before_i) · ln(p_after_i / p_before_i)
   *
   * with both proportions floored at `eps` (an empty bucket would make
   * the log undefined; eps is part of the declared semantics). Output:
   * `(bucket, lo, hi, n_before, n_after, psi)` — one row per bucket,
   * `sum(psi)` is the index. `psi` is emitted at a declared 9-decimal
   * precision (cross-libm `ln` divergence — the t13 lesson).
   *
   * Scale shape: one 2-double min/max probe on BEFORE, then one bucket
   * aggregation per side (map-side partial counts); the driver holds
   * only the bins-sized count maps, from which the side totals come for
   * free (every valid row clamps into a bucket) — no sort, no window,
   * no extra count scans, and the bins-row report is driver-built.
   */
  def populationStability(
      before: DataFrame, after: DataFrame, c: String, bins: Int,
      eps: Double = 1e-6): DataFrame =
    populationStabilityAgainst(psiReference(before, c, bins), after, c, eps)

  /** Precomputed PSI reference frame: range + per-bucket counts of the
   * BEFORE snapshot, collected once. Build this once and reuse it for
   * every comparison — the streaming drift monitor compares every
   * micro-batch against the same reference, and rescanning a corpus-
   * sized snapshot per batch would dominate the monitoring cost. */
  case class PsiReference(mn: Double, w: Double, bins: Int,
      counts: Map[Int, Long]) {
    def total: Long = math.max(1L, counts.values.sum)
  }

  /** Compute the [[PsiReference]] for `before` (two scans: the 2-double
   * range probe, then one bucket aggregation). */
  def psiReference(before: DataFrame, c: String, bins: Int): PsiReference = {
    require(bins >= 1, "bins must be >= 1")
    val v = col(c).cast("double")
    val valid = abs(v) < Double.PositiveInfinity
    val mm = before.filter(valid).agg(min(v), max(v)).collect().head
    require(!mm.isNullAt(0), "before snapshot has no valid rows")
    val (mn, mx) = (mm.getDouble(0), mm.getDouble(1))
    // degenerate reference domain: one bucket holds everything
    val nb = if (mx <= mn) 1 else bins
    val w = if (mx <= mn) 1.0 else (mx - mn) / bins
    PsiReference(mn, w, nb, bucketCounts(before, c, mn, w, nb))
  }

  /** PSI of `after` against a precomputed reference — ONE scan of the
   * after side, nothing recomputed on the reference. */
  def populationStabilityAgainst(ref: PsiReference, after: DataFrame,
      c: String, eps: Double = 1e-6): DataFrame = {
    require(eps > 0, "eps must be positive")
    val spark = after.sparkSession
    import spark.implicits._
    val nAfter = bucketCounts(after, c, ref.mn, ref.w, ref.bins)
    // every valid row clamps into a bucket, so the totals ARE the bucket
    // sums — no extra count scans, no window, no scalar-join plan flags
    val totB = ref.total.toDouble
    val totA = math.max(1L, nAfter.values.sum).toDouble
    val rows = (0 until ref.bins).map { b =>
      val cb = ref.counts.getOrElse(b, 0L)
      val ca = nAfter.getOrElse(b, 0L)
      (b, ref.mn + b * ref.w, ref.mn + (b + 1) * ref.w, cb, ca,
        psiTerm(cb, ca, totB, totA, eps))
    }
    rows.toDF("bucket", "lo", "hi", "n_before", "n_after", "psi")
  }

  /** One bucket's/category's PSI contribution at the DECLARED 9-decimal
   * cross-engine precision — the single definition both the numeric and
   * categorical gates (and their DuckDB oracles) are pinned to. */
  private def psiTerm(cb: Long, ca: Long, totB: Double, totA: Double,
      eps: Double): Double = {
    val pb = math.max(cb / totB, eps)
    val pa = math.max(ca / totA, eps)
    BigDecimal((pa - pb) * math.log(pa / pb))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /**
   * Categorical population-stability index — the discrete sibling of
   * [[populationStability]] for the language/source/domain mix: one row
   * per category in EITHER snapshot (the union — a category that
   * appears or vanishes is exactly the drift signal), proportions
   * eps-floored, psi at the declared 9-decimal precision. NULL
   * categories count as a real category and are reported as a genuine
   * NULL `category` (not a string sentinel, which a corpus could
   * collide with): a rising null rate IS drift.
   *
   * Scale shape: one hash aggregation per side (category-cardinality
   * sized results collected to the driver — domains/languages, not
   * rows); the report is driver-built like the numeric variant.
   */
  def categoricalDrift(
      before: DataFrame, after: DataFrame, c: String,
      eps: Double = 1e-6): DataFrame = {
    require(eps > 0, "eps must be positive")
    val spark = before.sparkSession
    import spark.implicits._
    def side(df: DataFrame): Map[Option[String], Long] =
      df.groupBy(col(c).cast("string").as("cat"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    val nBefore = side(before)
    val nAfter = side(after)
    val totB = math.max(1L, nBefore.values.sum).toDouble
    val totA = math.max(1L, nAfter.values.sum).toDouble
    val rows = (nBefore.keySet ++ nAfter.keySet).toSeq
      .sortBy(_.getOrElse("")).map { cat =>
      val cb = nBefore.getOrElse(cat, 0L)
      val ca = nAfter.getOrElse(cat, 0L)
      (cat.orNull, cb, ca, psiTerm(cb, ca, totB, totA, eps))
    }
    rows.toDF("category", "n_before", "n_after", "psi")
  }

  /**
   * Pairwise Spearman rank correlation: Pearson over exact AVERAGE ranks
   * (ties share the mean of their positions — the textbook definition,
   * so heavy integer ties are handled correctly). The robust sibling of
   * [[correlationMatrix]]: monotone-but-nonlinear relationships score
   * |ρ| ≈ 1, and outliers move ranks by at most their count. Output
   * `(col_a, col_b, spearman)` for every a < b pair, at the declared
   * 9-digit precision, null when either side is constant.
   *
   * Row population: LISTWISE deletion — rows where ANY listed column is
   * null or non-finite are dropped before ranking (ranks are defined
   * over one shared population; per-pair deletion would need a separate
   * ranking per pair). Declared semantics, mirrored by the oracle.
   *
   * Scale: per column, ranks come from one distinct-value count
   * aggregate + the SHARED distributed prefix sum over the (distinct-
   * value-sized) count frame — never a corpus-wide sort window — and a
   * value-keyed join back (AQE broadcasts small rank maps). The final
   * Pearson pass is [[correlationMatrix]]'s single aggregation. Average
   * ranks are k+0.5-exact doubles, so the decimal bridging downstream
   * stays exact and order-independent.
   */
  def spearmanMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "spearmanMatrix needs >= 2 columns")
    require(cols.distinct.size == cols.size, "duplicate column in list")
    val reserved = Seq("__cnt", "__rkbase") ++ cols.indices.map(i => s"__rank$i")
    reserved.foreach(r => require(!cols.contains(r),
      s"column collides with internal name '$r'"))
    val finite = cols.map(c =>
      abs(col(c).cast("double")) < Double.PositiveInfinity).reduce(_ && _)
    graft.Materialize.scoped { scope =>
      // scanned once per column for rank maps
      val base = scope.eager(df.filter(finite)
        .select(cols.map(c => col(c).cast("double").as(c)): _*))
      var ranked = base
      cols.zipWithIndex.foreach { case (c, i) =>
        val counts = base.groupBy(col(c)).agg(count(lit(1)).as("__cnt"))
        val indexed = graft.api.DfUtils.runningTotalWithSum(
          counts, Seq(c), col("__cnt"), "__rkbase", scope.eager)._1
        val rankMap = indexed.select(col(c),
          (col("__rkbase").cast("double") +
            (col("__cnt").cast("double") + 1.0) / 2.0).as(s"__rank$i"))
        ranked = ranked.join(rankMap, Seq(c))
      }
      val ranks = ranked.select(cols.zipWithIndex.map { case (c, i) =>
        col(s"__rank$i").as(c)
      }: _*)
      // the base and rank stages must outlive the lazy result: materialize
      // the small (pairs-sized) output before the scope frees them
      graft.Materialize.eager(
        correlationMatrix(ranks, cols).withColumnRenamed("corr", "spearman"))
    }
  }

  /**
   * Two-sample Kolmogorov–Smirnov drift statistic over bucketed
   * empirical CDFs — the complement of [[populationStability]]: PSI
   * weights every bucket's relative change, KS reports the single worst
   * ABSOLUTE displacement of cumulative mass (sensitive to location
   * shifts that PSI's per-bucket log-ratios smear out). The grid is
   * `bins` equi-width buckets over the COMBINED [min, max] of both
   * snapshots, so the statistic is the binned D:
   *
   *   D = max_b |F_after(b) − F_before(b)|
   *
   * evaluated at bucket upper boundaries (exact when values are
   * grid-supported; otherwise resolution 1/bins of the range — a
   * documented approximation, deterministic and engine-portable because
   * cumulative sums of integer counts are exact). Also emits the
   * asymptotic two-sided α = 0.05 critical value
   * c(0.05)·sqrt((n+m)/(n·m)), c = 1.3581, and the verdict. Output ONE
   * row: (n_before, n_after, ks_d, critical_95, drifted). `ks_d` and
   * `critical_95` carry the declared 9-decimal precision (the PSI
   * convention).
   *
   * Scale shape: one 2-double range probe per side + one bucket
   * aggregation per side (map-side partials); the driver folds the two
   * bins-sized count maps into the sup — bounded state, no sort, no
   * window, no join.
   */
  def ksTest(
      before: DataFrame, after: DataFrame, c: String,
      bins: Int = 200): DataFrame = {
    require(bins >= 1, "bins must be >= 1")
    val spark = before.sparkSession
    import spark.implicits._
    val v = col(c).cast("double")
    val valid = abs(v) < Double.PositiveInfinity
    def range(df: DataFrame): Option[(Double, Double)] = {
      val r = df.filter(valid).agg(min(v), max(v)).collect().head
      if (r.isNullAt(0)) None else Some((r.getDouble(0), r.getDouble(1)))
    }
    val rb = range(before)
    val ra = range(after)
    require(rb.nonEmpty, "before snapshot has no valid rows")
    require(ra.nonEmpty, "after snapshot has no valid rows")
    val mn = math.min(rb.get._1, ra.get._1)
    val mx = math.max(rb.get._2, ra.get._2)
    val nb = if (mx <= mn) 1 else bins
    val w = if (mx <= mn) 1.0 else (mx - mn) / bins
    val cb = bucketCounts(before, c, mn, w, nb)
    val ca = bucketCounts(after, c, mn, w, nb)
    val totB = math.max(1L, cb.values.sum).toDouble
    val totA = math.max(1L, ca.values.sum).toDouble
    var accB = 0L; var accA = 0L; var d = 0.0
    (0 until nb).foreach { b =>
      accB += cb.getOrElse(b, 0L)
      accA += ca.getOrElse(b, 0L)
      d = math.max(d, math.abs(accA / totA - accB / totB))
    }
    def r9(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val crit = 1.3581 * math.sqrt((totB + totA) / (totB * totA))
    // verdict on the ROUNDED values — the declared-precision numbers ARE
    // the semantics, so the flag can never disagree with the report
    Seq((cb.values.sum, ca.values.sum, r9(d), r9(crit), r9(d) > r9(crit)))
      .toDF("n_before", "n_after", "ks_d", "critical_95", "drifted")
  }

  private def bucketCounts(df: DataFrame, c: String, mn: Double, w: Double,
      nb: Int): Map[Int, Long] = {
    val v = col(c).cast("double")
    val valid = abs(v) < Double.PositiveInfinity
    // clamp on the LONG floor result, cast only the bounded value: an
    // outlier ~2^31 widths past the range must land in the edge bucket
    // as documented, not overflow the ANSI int cast
    val bucket = greatest(lit(0L),
      least(floor((v - mn) / w), lit((nb - 1).toLong))).cast("int")
    df.filter(valid).groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
  }
}
