package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/**
 * Dataframe equality utilities — the reference's `_df_eq` test helper
 * (/root/reference/fugue/dataframe/utils.py:24-94) re-expressed
 * distributively: content comparison uses symmetric `exceptAll` (duplicate-
 * aware anti-diff), never a driver-side collect, so it is usable as a
 * pipeline assertion at scale, not only in tests.
 */
object DfUtils {

  /** Structural + content equality.
   *
   * @param checkSchema  compare column names and types (nullability ignored,
   *                     as in the reference)
   * @param checkOrder   also require identical row order (forces a
   *                     driver-side zip — use only on small frames)
   * @param floatDigits  when set, round float/double columns to this many
   *                     digits before comparing (the reference's
   *                     `digits` approximation)
   */
  def dfEq(
      a: DataFrame, b: DataFrame,
      checkSchema: Boolean = true,
      checkOrder: Boolean = false,
      floatDigits: Option[Int] = None): Boolean =
    diff(a, b, checkSchema, checkOrder, floatDigits).isEmpty

  /** Like [[dfEq]] but throws AssertionError with the first discrepancy. */
  def assertDfEq(
      a: DataFrame, b: DataFrame,
      checkSchema: Boolean = true,
      checkOrder: Boolean = false,
      floatDigits: Option[Int] = None): Unit =
    diff(a, b, checkSchema, checkOrder, floatDigits)
      .foreach(msg => throw new AssertionError(s"dataframes differ: $msg"))

  /**
   * Column-level data profile (the Deequ-style quality report): one output
   * row per column with (col_name, n_rows, n_nulls, n_distinct, min_value,
   * max_value) — distinct counts are EXACT, min/max render as strings so
   * heterogeneous column types fit one frame. Columns whose type is not
   * orderable (maps) get null min/max.
   *
   * Scale: ONE aggregation pass over the data — Spark plans the multiple
   * exact count-distincts via expand (one row per (input row, column)
   * internally, all map-side partial-aggregated); the result is a single
   * collected row of 4·|columns| values, never per-row driver work.
   */
  def profile(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
    require(df.columns.nonEmpty, "cannot profile a zero-column dataframe")
    // literal (backtick-quoted) reference: col("a.b") would parse as a
    // struct-field path
    def qcol(c: String) = col(s"`${c.replace("`", "``")}`")
    // min/max need a fully orderable type — a map ANYWHERE in the tree
    // (array<map>, struct with a map field) breaks ordering
    def orderable(dt: DataType): Boolean = dt match {
      case _: MapType => false
      case ArrayType(et, _) => orderable(et)
      case st: StructType => st.fields.forall(f => orderable(f.dataType))
      case _ => true
    }
    val aggs = df.columns.flatMap { c =>
      Seq(count(qcol(c)).as(s"__cnt_$c"),
        countDistinct(qcol(c)).as(s"__nd_$c")) ++
        (if (orderable(df.schema(c).dataType))
          Seq(min(qcol(c)).cast("string").as(s"__min_$c"),
            max(qcol(c)).cast("string").as(s"__max_$c"))
        else
          Seq(lit(null).cast("string").as(s"__min_$c"),
            lit(null).cast("string").as(s"__max_$c")))
    }
    val r = df.agg(count(lit(1)).as("__n"), aggs.toIndexedSeq: _*)
      .collect().head
    val total = r.getLong(r.fieldIndex("__n"))
    val rows: Seq[Seq[Any]] = df.columns.toSeq.map { c =>
      val cnt = r.getLong(r.fieldIndex(s"__cnt_$c"))
      Seq[Any](c, total, total - cnt,
        r.getLong(r.fieldIndex(s"__nd_$c")),
        if (r.isNullAt(r.fieldIndex(s"__min_$c"))) null
        else r.getString(r.fieldIndex(s"__min_$c")),
        if (r.isNullAt(r.fieldIndex(s"__max_$c"))) null
        else r.getString(r.fieldIndex(s"__max_$c")))
    }
    graft.engine.SparkGraftEngine(df.sparkSession).toDF(rows,
      "col_name:str,n_rows:long,n_nulls:long,n_distinct:long," +
        "min_value:str,max_value:str")
  }

  /**
   * Exclusive running total of `weight` over the global `orderCols` order,
   * appended as `outCol` — the distributed prefix sum: rows range-partition
   * by the order columns and cumulate locally; per-partition totals (one
   * row each) cumulate on the driver and broadcast back as partition base
   * offsets. A naive `Window.orderBy(...)` computes the same thing by
   * moving EVERY row into one partition; this never does.
   *
   * PRECONDITION: `orderCols` must totally order rows (use a unique id as
   * the last column) — ties would make the prefix order, and therefore
   * the totals, nondeterministic. Weights must be an integral type
   * (totals are exact longs); null weights count as 0.
   */
  def runningTotal(
      df: DataFrame, orderCols: Seq[String], weight: org.apache.spark.sql.Column,
      outCol: String): DataFrame =
    runningTotalWithSum(df, orderCols, weight, outCol)._1

  /** [[runningTotal]] plus the GRAND total of weights, read off the same
   * per-partition totals the prefix sum already collects — consumers that
   * need the total (ntile's bucket rule) get it without a second scan,
   * and from the SAME materialized stage (a separate `df.count()` could
   * disagree on a non-re-evaluation-stable input). A caller that
   * materializes the result itself passes its scope's `eager`, so the
   * stage is freed with the scope. */
  private[graft] def runningTotalWithSum(
      df: DataFrame, orderCols: Seq[String], weight: org.apache.spark.sql.Column,
      outCol: String,
      eager: DataFrame => DataFrame = graft.Materialize.eager): (DataFrame, Long) = {
    require(orderCols.nonEmpty, "need at least one order column")
    require(!df.columns.contains(outCol), s"output column '$outCol' already exists")
    val reserved = Seq("__pid", "__w", "__loc", "__base").filter(df.columns.contains)
    require(reserved.isEmpty,
      s"input columns collide with internal names: ${reserved.mkString(", ")}")
    // integral weights only: totals are exact longs (a fractional weight
    // would silently truncate here, and double partial sums would make the
    // result depend on partition boundaries)
    val wType = df.select(weight.as("__w")).schema.head.dataType
    val integral = wType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.NullType => true
      case _ => false
    }
    require(integral, s"weight must be an integral column, got $wType")
    import org.apache.spark.sql.expressions.Window
    def ocols = orderCols.map(c => col(s"`${c.replace("`", "``")}`"))
    // freeze partition ids for the two derivations
    val staged = eager(df
      .withColumn("__w", coalesce(weight.cast("long"), lit(0L)))
      .repartitionByRange(ocols: _*)
      .sortWithinPartitions(ocols: _*)
      .withColumn("__pid", spark_partition_id()))
    val totals = staged.groupBy("__pid").agg(sum(col("__w")).as("__t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val bases =
      if (totals.isEmpty) Seq((0, 0L))
      else totals.scanLeft((0, 0L)) { case ((_, acc), (pid, t)) =>
        (pid, acc + t)
      }.sliding(2).map { case Array((_, acc), (pid, _)) => (pid, acc) }.toSeq
    val baseDf = df.sparkSession.createDataFrame(bases).toDF("__pid", "__base")
    val wloc = Window.partitionBy("__pid")
      .orderBy(ocols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val out = staged
      .withColumn("__loc", coalesce(sum(col("__w")).over(wloc), lit(0L)))
      .join(broadcast(baseDf), "__pid")
      .withColumn(outCol, col("__base") + col("__loc"))
      .drop("__pid", "__w", "__loc", "__base")
    (out, totals.map(_._2).sum)
  }

  /** Contiguous 0-based global row index in `orderCols` order (what
   * `monotonically_increasing_id` is not) — [[runningTotal]] with weight
   * 1. Same total-order precondition. */
  def withRowIndex(
      df: DataFrame, orderCols: Seq[String],
      indexCol: String = "row_index"): DataFrame =
    runningTotal(df, orderCols, lit(1L), indexCol)

  /**
   * Exact global `ntile(n)` in `orderCols` order WITHOUT the
   * single-partition window `ntile(n) OVER (ORDER BY ...)` plans: the row
   * index comes from [[runningTotal]]'s distributed prefix sum, and the
   * standard ntile bucket rule (count c, base = c/n, the first c%n buckets
   * take one extra row) is per-row arithmetic on that index. Output values
   * are identical to the window function's — this is a faster plan for the
   * same semantic, not an approximation. Same total-order precondition as
   * [[withRowIndex]].
   */
  def ntile(
      df: DataFrame, n: Int, orderCols: Seq[String],
      outCol: String = "ntile"): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    // row count comes from the prefix sum's own partition totals — one
    // scan, and consistent with the indexes by construction
    val (indexed, c) =
      runningTotalWithSum(df, orderCols, lit(1L), "__ntile_idx")
    val base = c / n
    val r = c % n
    // first r buckets have base+1 rows: index i < r*(base+1) falls in
    // bucket i div (base+1); later rows in r + (i - r*(base+1)) div base.
    // `div` (IntegralDivide), not `/` — Divide on longs is double division
    // and a nearest-rounding at a bucket boundary would misassign a row.
    // max(base,1): when c < n the else branch is unreachable (every
    // i < c = r) but the divisor is still evaluated per row
    indexed
      .withColumn(outCol, expr(
        s"cast((case when __ntile_idx < ${r * (base + 1)} " +
          s"then __ntile_idx div ${base + 1} " +
          s"else $r + (__ntile_idx - ${r * (base + 1)}) div ${math.max(base, 1L)} " +
          s"end) + 1 as int)"))
      .drop("__ntile_idx")
  }

  /** None when equal; Some(reason) otherwise. */
  private def diff(
      a: DataFrame, b: DataFrame,
      checkSchema: Boolean,
      checkOrder: Boolean,
      floatDigits: Option[Int]): Option[String] = {
    if (checkSchema) {
      val sa = a.schema.fields.map(f => (f.name, f.dataType)).toSeq
      val sb = b.schema.fields.map(f => (f.name, f.dataType)).toSeq
      if (sa != sb)
        return Some(s"schemas differ: ${a.schema.simpleString} vs ${b.schema.simpleString}")
    }
    def rounded(d: DataFrame): DataFrame = floatDigits match {
      case None => d
      case Some(n) =>
        d.select(d.schema.fields.map { f =>
          f.dataType match {
            case DoubleType | FloatType => round(col(f.name), n).as(f.name)
            case _ => col(f.name)
          }
        }.toIndexedSeq: _*)
    }
    // align b's columns to a's order so position-insensitive inputs compare
    val a1 = rounded(a)
    val b1 = rounded(b.select(a.columns.map(col).toIndexedSeq: _*))
    if (checkOrder) {
      // ordered compare is inherently a global zip — driver-side by design
      val ra = a1.collect()
      val rb = b1.collect()
      if (ra.length != rb.length)
        return Some(s"row counts differ: ${ra.length} vs ${rb.length}")
      ra.zip(rb).zipWithIndex.collectFirst {
        case ((x, y), i) if x != y => s"row $i differs: $x vs $y"
      }
    } else {
      val onlyA = a1.exceptAll(b1).limit(1).collect()
      if (onlyA.nonEmpty) return Some(s"row only in left: ${onlyA.head}")
      val onlyB = b1.exceptAll(a1).limit(1).collect()
      if (onlyB.nonEmpty) return Some(s"row only in right: ${onlyB.head}")
      None
    }
  }

  /**
   * EXACT inner equi-join output cardinality without materializing the
   * join: per-key count aggregates joined on the key, summing count
   * products. Cost scales with DISTINCT keys (two hash aggregates + one
   * small join), not with output rows — the pre-flight guard for
   * pipelines where a mis-keyed or skew-keyed join would explode a
   * 100 TB stage. Null keys never match, exactly like the join itself.
   */
  def equiJoinSize(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame, keys: Seq[String]): Long = {
    import org.apache.spark.sql.functions._
    require(keys.nonEmpty, "equiJoinSize needs join keys")
    val ca = a.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__na"))
    val cb = b.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__nb"))
    ca.join(cb, keys)
      .agg(coalesce(sum(col("__na") * col("__nb")), lit(0L)))
      .first().getLong(0)
  }

  /**
   * Key-skew diagnostic — the pre-flight check before choosing a shuffle
   * strategy for a join/aggregation key at scale: the top-`topK` heaviest
   * key values with their row counts and corpus fractions, plus the
   * whole-distribution summary every row carries (n_keys, total rows, and
   * `skew` = max key count / mean key count — 1.0 means perfectly
   * uniform; a join key with skew ≥ ~20 wants salting or AQE skew-join
   * splitting). Multi-column keys render as a '|'-joined string with null
   * components rendered as `␀` (U+2400 SYMBOL FOR NULL — concat_ws alone
   * would DROP null components and their separator, collapsing distinct
   * keys like (x, null, y) and (x, y, null) into one display string, and
   * a plain "NULL" token would collide with a genuine "NULL" string
   * value) — a display convention only; grouping happens on the raw
   * columns first. Deterministic: ties in
   * count break by the rendered key ascending; `frac`/`skew` are single
   * IEEE divisions of exact longs.
   *
   * Scale: ONE hash aggregate of the input (map-side partials) to key
   * counts, materialized once (eager localCheckpoint — one row per
   * DISTINCT key, the small frame); the summary aggregate and the
   * distributed top-K (TakeOrderedAndProject — never a global sort) both
   * read that materialization, so the input is scanned exactly once. The
   * only window ranks the already-truncated ≤ topK rows. The checkpoint
   * blocks are released by the ContextCleaner when the result frame is
   * garbage-collected.
   */
  def keySkew(df: DataFrame, keys: Seq[String], topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.functions._
    require(keys.nonEmpty, "keySkew needs >= 1 key column")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val countsPlan = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .select(
        concat_ws("|", keys.map(c =>
          coalesce(col(c).cast("string"), lit("␀"))): _*).as("key"),
        col("n"))
    // materialize once so summary + top-K share one input scan; under the
    // plan-inspection conf the full chain stays visible (two scans there —
    // harness only)
    val counts = graft.Materialize.terminal(countsPlan)
    val summary = counts.agg(count(lit(1)).as("n_keys"),
      sum(col("n")).as("total"), max(col("n")).as("max_n"))
    val top = counts.orderBy(col("n").desc, col("key").asc).limit(topK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("key").asc)
    top.withColumn("rank", row_number().over(w))
      .crossJoin(broadcast(summary))
      .select(col("rank").cast("long").as("rank"), col("key"), col("n"),
        (col("n").cast("double") / col("total").cast("double")).as("frac"),
        col("n_keys"), col("total"),
        // each factor to double BEFORE multiplying: max_n * n_keys as a
        // long product overflows on exactly the huge skewed corpora this
        // diagnostic targets (1e11-row hot key x 1e9 keys > Long.Max)
        ((col("max_n").cast("double") * col("n_keys").cast("double")) /
          col("total").cast("double")).as("skew"))
  }
}
