package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Temporal operators the DataFrame API lacks as primitives: as-of join and
 * gap-based sessionization. Both compile to single-shuffle window plans —
 * the distributed-systems formulation, not a per-key loop:
 *
 *  - as-of join: union the tagged sides and carry the latest right payload
 *    forward with `last(_, ignoreNulls)` over (key, time) order. No range
 *    explosion, no per-row probe: one exchange on the key, one sort —
 *    at 100 TB this is a plain sort-merge pass. (The alternative — a range
 *    join — explodes candidate pairs before filtering.)
 *  - sessionize: `lag` + running `sum` over the same (key, time) window.
 */
object TemporalOps {

  /**
   * For every left row, attach the payload columns of the latest right row
   * with `right.tsCol <= left.tsCol` within the same `keys` (an ASOF LEFT
   * JOIN). Right payload columns are emitted under their own names —
   * they must not collide with left column names. `tieBreak` orders rows
   * within an equal timestamp (right-before-left is already guaranteed).
   */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      tsCol: String,
      tieBreak: Seq[String] = Nil): DataFrame = {
    val rightPayload = right.columns.filterNot(c => keys.contains(c) || c == tsCol)
    require(rightPayload.nonEmpty, "right side needs at least one payload column")
    rightPayload.foreach(c => require(!left.columns.contains(c),
      s"right payload column '$c' collides with a left column"))
    val leftCols = left.columns
    val leftPayload = leftCols.filterNot(c => keys.contains(c) || c == tsCol)
    // wire format: keys ++ ts ++ tag ++ left-payload struct ++ right-payload struct
    val lp =
      if (leftPayload.isEmpty) struct(lit(0).as("__none")) // keys+ts-only left
      else struct(leftPayload.map(col).toIndexedSeq: _*)
    val rp = struct(rightPayload.map(col).toIndexedSeq: _*)
    val lpType =
      if (leftPayload.isEmpty)
        new org.apache.spark.sql.types.StructType().add("__none", "int")
      else org.apache.spark.sql.types.StructType(
        leftPayload.map(c => left.schema(left.schema.fieldIndex(c))))
    val rpType = org.apache.spark.sql.types.StructType(
      rightPayload.map(c => right.schema(right.schema.fieldIndex(c))))
    val lTagged = left.select(
      keys.map(col) ++ Seq(col(tsCol), lit(1).as("__tag"), lp.as("__lp"),
        lit(null).cast(rpType).as("__rp")) ++
        tieBreak.filter(left.columns.contains).map(col): _*)
    // a right row with a null timestamp can never satisfy right.ts <=
    // left.ts (SQL comparison with null is false) — drop them, or the
    // nulls-first sort would carry their payload to rows with no true
    // predecessor
    val rightValid = right.filter(col(tsCol).isNotNull)
    val rTagged = rightValid.select(
      keys.map(col) ++ Seq(col(tsCol), lit(0).as("__tag"),
        lit(null).cast(lpType).as("__lp"), rp.as("__rp")) ++
        tieBreak.filter(right.columns.contains).map(col): _*)
    val unioned = lTagged.unionByName(rTagged, allowMissingColumns = true)
    // right rows sort before left at equal ts (tag 0 < 1) → `<=` semantics
    val ordering = Seq(col(tsCol).asc, col("__tag").asc) ++
      tieBreak.map(c => col(c).asc_nulls_last)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(ordering: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned.withColumn("__last_rp", last(col("__rp"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
    carried.select(
      keys.map(col) ++ Seq(col(tsCol)) ++
        leftCols.filterNot(c => keys.contains(c) || c == tsCol)
          .map(c => col("__lp").getField(c).as(c)) ++
        rightPayload.map(c => col("__last_rp").getField(c).as(c)): _*)
  }

  /**
   * Point-in-interval range join: every `left` row pairs with every `right`
   * row whose `[startCol, endCol]` (inclusive) contains `left.pointCol`,
   * optionally within matching equi-`keys`. Output = left columns ++ right
   * columns (names must not collide).
   *
   * Scale design: Spark compiles a bare range predicate to a broadcast
   * nested-loop (or cartesian) join — O(|L|·|R|) comparisons. This
   * operator bins the numeric domain at `binWidth`: each interval explodes
   * into its covered bins (bounded), each point maps to exactly ONE bin,
   * and the join becomes an equi-join on (keys, bin) followed by the exact
   * containment filter. Shuffle moves (keys, bin) ints; comparisons drop
   * from |L|·|R| to pairs sharing a bin. A point lands in one bin and an
   * interval emits each covered bin once, so no duplicate pairs and no
   * post-dedup pass.
   *
   * Degenerate long intervals (spanning > `maxBinsPerInterval` bins) would
   * explode the build side; they are routed to a broadcast nested-loop
   * side path instead (assumed rare — they cover so much of the domain
   * that binning cannot prune them anyway) and unioned back.
   *
   * Timestamp point and bound columns are handled by numeric-casting
   * (epoch seconds); `binWidth` is then in seconds. (DateType does not
   * cast to double — cast date columns to timestamp first.) Right rows
   * with null bounds or `end < start` match nothing (as the SQL predicate
   * would) and are dropped before the explode.
   */
  def rangeJoin(
      left: DataFrame,
      right: DataFrame,
      pointCol: String,
      startCol: String,
      endCol: String,
      binWidth: Double,
      keys: Seq[String] = Nil,
      maxBinsPerInterval: Int = 256): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    require(maxBinsPerInterval >= 1,
      s"maxBinsPerInterval must be >= 1, got $maxBinsPerInterval")
    val collisions = left.columns.toSet.intersect(right.columns.toSet) -- keys
    require(collisions.isEmpty,
      s"left/right non-key column names collide: ${collisions.mkString(", ")}")
    keys.foreach { k =>
      require(left.columns.contains(k) && right.columns.contains(k),
        s"equi-key '$k' must exist on both sides")
    }
    val reserved = Seq("__bin", "__sb", "__eb")
      .filter(c => left.columns.contains(c) || right.columns.contains(c))
    require(reserved.isEmpty,
      s"input columns collide with internal names: ${reserved.mkString(", ")}")
    def bin(c: Column): Column = floor(c.cast("double") / binWidth).cast("long")
    val contains = col(pointCol).isNotNull &&
      col(pointCol) >= col(startCol) && col(pointCol) <= col(endCol)
    // unsatisfiable rows (null bounds, empty interval) match nothing
    val rValid = right.filter(col(startCol).isNotNull && col(endCol).isNotNull &&
      col(endCol) >= col(startCol))
      .withColumn("__sb", bin(col(startCol)))
      .withColumn("__eb", bin(col(endCol)))
    val lBinned = left.withColumn("__bin", bin(col(pointCol)))
    val rightOut = right.columns.filterNot(keys.contains)
    // join keyed on (keys, bin); key columns resolve from the left side
    def pairUp(l: DataFrame, r: DataFrame): DataFrame =
      l.join(r, keys :+ "__bin").filter(contains)
        .select((left.columns.map(col) ++ rightOut.map(col)).toIndexedSeq: _*)
    val short = rValid.filter(col("__eb") - col("__sb") < maxBinsPerInterval.toLong)
      .withColumn("__bin", explode(sequence(col("__sb"), col("__eb"))))
      .drop("__sb", "__eb")
    val binned = pairUp(lBinned, short)
    val long = rValid.filter(col("__eb") - col("__sb") >= maxBinsPerInterval.toLong)
      .drop("__sb", "__eb")
    // long intervals: rare by assumption — broadcast them through the
    // nested-loop path binning was built to avoid
    val longJoined = left.join(
      broadcast(long),
      keys.map(k => left(k) === long(k)).reduceOption(_ && _)
        .map(_ && contains).getOrElse(contains))
      .select((left.columns.map(left(_)) ++ rightOut.map(long(_))).toIndexedSeq: _*)
    binned.unionByName(longJoined)
  }

  /**
   * Interval-overlap join: every pair of a `left` interval
   * `[lStartCol, lEndCol]` and a `right` interval `[rStartCol, rEndCol]`
   * that overlap (inclusive: `lStart <= rEnd && rStart <= lEnd`),
   * optionally within matching equi-`keys`. The two-sided companion of
   * [[rangeJoin]] (sessions × campaigns, genomic ranges, downtime ×
   * requests).
   *
   * Scale design: both sides explode into covered bins and equi-join on
   * (keys, bin) — but an overlapping pair can share MANY bins, so the
   * join would duplicate pairs. Bin ownership dedups without a distinct:
   * a pair is emitted only in the FIRST bin both intervals cover, i.e.
   * where `bin == floor(max(lStart, rStart) / binWidth)` — each
   * overlapping pair satisfies that in exactly one bin, so no post-join
   * dedup shuffle is needed. Intervals spanning more than
   * `maxBinsPerInterval` bins (either side) are routed through broadcast
   * nested-loop side paths (rare by assumption) and unioned back, with
   * long×long pairs handled once.
   */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      lStartCol: String, lEndCol: String,
      rStartCol: String, rEndCol: String,
      binWidth: Double,
      keys: Seq[String] = Nil,
      maxBinsPerInterval: Int = 256): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    require(maxBinsPerInterval >= 1,
      s"maxBinsPerInterval must be >= 1, got $maxBinsPerInterval")
    val collisions = left.columns.toSet.intersect(right.columns.toSet) -- keys
    require(collisions.isEmpty,
      s"left/right non-key column names collide: ${collisions.mkString(", ")}")
    val reserved = Seq("__bin", "__sb", "__eb")
      .filter(c => left.columns.contains(c) || right.columns.contains(c))
    require(reserved.isEmpty,
      s"input columns collide with internal names: ${reserved.mkString(", ")}")
    def bin(c: Column): Column = floor(c.cast("double") / binWidth).cast("long")
    val overlaps = col(lStartCol) <= col(rEndCol) && col(rStartCol) <= col(lEndCol)
    // the bin both intervals first share — each overlapping pair owns
    // exactly one
    val ownerBin = bin(greatest(col(lStartCol), col(rStartCol)))
    def valid(df: DataFrame, s: String, e: String): DataFrame =
      df.filter(col(s).isNotNull && col(e).isNotNull && col(e) >= col(s))
        .withColumn("__sb", bin(col(s))).withColumn("__eb", bin(col(e)))
    val lv = valid(left, lStartCol, lEndCol)
    val rv = valid(right, rStartCol, rEndCol)
    def short(df: DataFrame): DataFrame =
      df.filter(col("__eb") - col("__sb") < maxBinsPerInterval.toLong)
        .withColumn("__bin", explode(sequence(col("__sb"), col("__eb"))))
        .drop("__sb", "__eb")
    def long(df: DataFrame): DataFrame =
      df.filter(col("__eb") - col("__sb") >= maxBinsPerInterval.toLong)
        .drop("__sb", "__eb")
    val rightOut = right.columns.filterNot(keys.contains)
    val outCols = (left.columns.map(col) ++ rightOut.map(col)).toIndexedSeq
    val binned = short(lv).join(short(rv), keys :+ "__bin")
      .filter(overlaps && col("__bin") === ownerBin)
      .select(outCols: _*)
    // broadcast escapes: (long-left × all-right) and (short-left ×
    // long-right) — long×long pairs fall in the first bucket only. The
    // RARE (long) side is always the broadcast build side; the other side
    // streams.
    def joinCond(l: DataFrame, r: DataFrame) =
      keys.map(k => l(k) === r(k)).reduceOption(_ && _)
        .map(_ && overlaps).getOrElse(overlaps)
    def outOf(l: DataFrame, r: DataFrame) =
      (left.columns.map(l(_)) ++ rightOut.map(r(_))).toIndexedSeq
    def shortNoBin(df: DataFrame): DataFrame =
      df.filter(col("__eb") - col("__sb") < maxBinsPerInterval.toLong)
        .drop("__sb", "__eb")
    val lLong = long(lv)
    val rAll = rv.drop("__sb", "__eb")
    val longLeft = rAll.join(broadcast(lLong), joinCond(lLong, rAll))
      .select(outOf(lLong, rAll): _*)
    val lShort = shortNoBin(lv)
    val rLong = long(rv)
    val longRight = lShort.join(broadcast(rLong), joinCond(lShort, rLong))
      .select(outOf(lShort, rLong): _*)
    binned.unionByName(longLeft).unionByName(longRight)
  }

  /**
   * Gap-based sessionization: appends a `session_id` column (0-based per
   * key) where a new session starts when the gap to the previous event
   * exceeds `gap` (a Spark interval string, e.g. "30 minutes").
   */
  def sessionize(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      gap: String,
      tieBreak: Seq[String] = Nil,
      sessionCol: String = "session_id"): DataFrame = {
    val ordering = (col(tsCol).asc +: tieBreak.map(c => col(c).asc)).toIndexedSeq
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ordering: _*)
    val prevTs = lag(col(tsCol), 1).over(w)
    val newSession = when(prevTs.isNull ||
      col(tsCol) > prevTs + expr(s"INTERVAL $gap"), 1).otherwise(0)
    df.withColumn("__new_s", newSession)
      .withColumn(sessionCol,
        sum(col("__new_s")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).cast("long") - 1)
      .drop("__new_s")
  }

  /**
   * Downsample a timestamp stream into fixed epoch-aligned buckets:
   * groupBy (groups..., floor(epoch/intervalSeconds)) with the given
   * aggregates — the batch `resample` (streaming twin: `windowedAgg`).
   * Bucket identity is plain integer arithmetic on epoch seconds, so any
   * engine reproduces it exactly (no window-origin conventions to match).
   * Output: groups..., `bucket_start` (timestamp), aggs... .
   *
   * Scale: one hash aggregation with map-side partials — the bucket key
   * rides the same exchange as the group keys; no windows, no sort.
   */
  def resample(
      df: DataFrame, tsCol: String, intervalSeconds: Long,
      groupCols: Seq[String], aggs: Seq[Column]): DataFrame = {
    require(intervalSeconds > 0, "intervalSeconds must be > 0")
    require(aggs.nonEmpty, "resample needs >= 1 aggregate")
    val bucket = timestamp_seconds(
      floor(unix_timestamp(col(tsCol)) / intervalSeconds) * intervalSeconds)
    df.groupBy((groupCols.map(col) :+ bucket.as("bucket_start")): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /**
   * Rolling time-window aggregate: for EVERY row, `aggs` over the rows of
   * the same group whose timestamp lies in
   * [ts − windowSeconds, ts] — the trailing-rate / feature-engineering
   * shape ("events per user in the last hour, as of each event").
   *
   * Scale: one exchange on the group keys + one sort per partition
   * (a RANGE window frame over epoch seconds. The frame is time-bounded,
   * so state per group is the trailing window, not group history — but a
   * single group's rows DO sort within one partition; salt upstream if
   * one key dominates the corpus).
   */
  def rollingAggregate(
      df: DataFrame, tsCol: String, windowSeconds: Long,
      groupCols: Seq[String], aggs: Seq[(String, Column)]): DataFrame = {
    require(windowSeconds >= 0, "windowSeconds must be >= 0")
    require(aggs.nonEmpty, "rollingAggregate needs >= 1 (name, aggregate)")
    require(groupCols.nonEmpty,
      "rollingAggregate needs >= 1 group column (a global rolling window " +
        "cannot be partitioned — resample instead)")
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(unix_timestamp(col(tsCol)).asc)
      .rangeBetween(-windowSeconds, 0)
    aggs.foldLeft(df) { case (d, (name, a)) => d.withColumn(name, a.over(w)) }
  }

  /**
   * Ordered-funnel analysis: for each user, the timestamp at which each
   * step of an ordered event sequence was FIRST reached, where step i
   * must occur at-or-after step i−1 and the whole funnel must complete
   * within `windowSeconds` of step 1 (the standard product-analytics
   * definition: signup → view → purchase inside an hour). Output:
   * (userCol, step_1 .. step_k epoch seconds — null from the first
   * missed step on, steps_completed) — one row per user who reached
   * step 1; aggregate `steps_completed` for the conversion report.
   *
   * Semantics pinned down: with `restart = false` (default) step 1 is
   * the user's EARLIEST step-1 event (no restart on failure — the greedy
   * first-attempt funnel); equal timestamps satisfy "at or after";
   * events of later steps before step 1 are ignored.
   *
   * `restart = true` is the other standard funnel definition (windowed
   * re-entry): EVERY distinct step-1 timestamp of a user opens a
   * candidate attempt, each attempt runs the identical chain anchored at
   * its own step-1, and the user's reported row is the BEST attempt —
   * most steps completed, ties broken by the earliest anchor. A user who
   * fails their first attempt but converts on a later re-entry is a
   * conversion here, not a drop-off.
   *
   * Scale: k − 1 rounds of (filter → user-keyed hash aggregate with a
   * conditional min → join on user) over a once-checkpointed projection
   * of (user, epoch, event) — every exchange is user-keyed and
   * user-table-sized, no windows, no sorts; k is the funnel length
   * (single digits), not a data-dependent loop. With restart the
   * aggregates key on (user, anchor) — the attempt table is
   * step-1-event-sized rather than user-sized, exchanges stay
   * user-co-partitioned, and the final best-attempt pick is one per-user
   * window (WindowGroupLimit caps it before the exchange).
   */
  def funnel(
      df: DataFrame, userCol: String, tsCol: String, eventCol: String,
      steps: Seq[String], windowSeconds: Long,
      restart: Boolean = false): DataFrame = {
    require(steps.size >= 2, s"funnel needs >= 2 steps, got ${steps.size}")
    require(steps.distinct.size == steps.size, "duplicate step in funnel")
    require(windowSeconds > 0, "windowSeconds must be > 0")
    require(userCol != "steps_completed" && !steps.indices
      .map(i => s"step_${i + 1}").contains(userCol),
      "userCol collides with an output column")
    graft.Materialize.scoped { scope =>
      // scanned once per funnel step
      val base = scope.eager(df
        .select(col(userCol).as("__u"),
          unix_timestamp(col(tsCol)).as("__t"), col(eventCol).as("__e"))
        .filter(col("__u").isNotNull && col("__t").isNotNull))
      val s1 = base.filter(col("__e") === steps.head)
      // greedy: one anchor per user (earliest). restart: every distinct
      // step-1 timestamp is an attempt anchor; the chain below is
      // identical because it groups by (__u, step_1..step_i) either way.
      var acc =
        if (restart) s1.select(col("__u"), col("__t").as("step_1")).distinct()
        else s1.groupBy(col("__u")).agg(min(col("__t")).as("step_1"))
      steps.indices.drop(1).foreach { i =>
        val prev = s"step_$i"
        val cur = s"step_${i + 1}"
        val cand = base.filter(col("__e") === steps(i))
        val grouped = acc.join(cand, Seq("__u"), "left")
          .groupBy((col("__u") +: (1 to i).map(j => col(s"step_$j"))): _*)
          .agg(min(when(col("__t") >= col(prev) &&
            col("__t") <= col("step_1") + windowSeconds, col("__t"))).as(cur))
        acc = grouped
      }
      val completed = steps.indices.map(i =>
        when(col(s"step_${i + 1}").isNotNull, 1).otherwise(0))
        .reduce(_ + _)
      val attempts = acc.withColumn("steps_completed", completed.cast("long"))
      val best =
        if (restart) {
          // best attempt per user: most steps, earliest anchor on ties
          // (anchors are distinct per user, so the order is total and the
          // pick deterministic)
          val w = Window.partitionBy(col("__u"))
            .orderBy(col("steps_completed").desc, col("step_1").asc)
          attempts.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
        } else attempts
      // materialize before the scope frees the checkpointed base (or
      // defer for plan inspection — see Materialize.terminal)
      graft.Materialize.terminal(best.select((col("__u").as(userCol) +:
        steps.indices.map(i => col(s"step_${i + 1}"))) :+
        col("steps_completed"): _*))
    }
  }

  /**
   * Cohort retention: users grouped by the period of their FIRST
   * activity (the cohort), then for every later period the fraction of
   * the cohort still active. Output: (cohort_start epoch seconds,
   * period_offset 0..., n_active, n_cohort, retention) — offset 0 rows
   * have retention 1.0 by construction; periods with no surviving
   * activity produce no row (sparse — the report is cohort×offset
   * sized). `retention` is one double division of exact longs.
   *
   * Scale: one user-keyed min aggregate (first activity), one distinct
   * (user, period) aggregate, a user-keyed join, and one
   * (cohort, offset) count — all hash exchanges on bounded keys;
   * nothing driver-side but the final report frame.
   */
  def retention(
      df: DataFrame, userCol: String, tsCol: String,
      periodSeconds: Long): DataFrame = {
    require(periodSeconds > 0, "periodSeconds must be > 0")
    val bucket = (floor(unix_timestamp(col(tsCol)).cast("double") /
      periodSeconds).cast("long") * periodSeconds)
    // checkpoint: the activity projection feeds BOTH the first-activity
    // aggregate and the counts join — two evaluations of an unstable
    // input (a sample) could disagree on a user's cohort vs activity
    // rows (negative offsets, retention > 1), silently; and even stable
    // inputs would pay a second full scan
    graft.Materialize.scoped { scope =>
      val activity = scope.eager(df
        .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
        .select(col(userCol).as("__u"), bucket.as("__p"))
        .distinct())
      val first = activity.groupBy(col("__u")).agg(min(col("__p")).as("__c"))
      val counts = activity.join(first, Seq("__u"))
        .groupBy(col("__c").as("cohort_start"),
          ((col("__p") - col("__c")) / periodSeconds).cast("long")
            .as("period_offset"))
        .agg(count(lit(1)).as("n_active"))
      val sizes = counts.filter(col("period_offset") === 0)
        .select(col("cohort_start"), col("n_active").as("n_cohort"))
      // materialize the (cohorts × offsets)-sized report before the scope
      // frees the activity projection (or defer for plan inspection)
      graft.Materialize.terminal(counts.join(sizes, Seq("cohort_start"))
        .select(col("cohort_start"), col("period_offset"), col("n_active"),
          col("n_cohort"),
          (col("n_active").cast("double") / col("n_cohort").cast("double"))
            .as("retention")))
    }
  }

  /**
   * Merge overlapping (or touching) intervals per key — the interval
   * union/coalesce sweep: [1,5] + [3,8] + [8,10] → [1,10]; a gap starts
   * a new merged interval. The inverse-ish of [[sessionize]] for data
   * that arrives AS intervals (ad impressions, outage windows, document
   * validity ranges) rather than as point events. Interval columns may
   * be any orderable numeric/timestamp type with `<=`/`greatest`
   * semantics; rows with a null endpoint or end < start are rejected
   * loudly (a silent drop would under-merge). Output: keyCols ++
   * (`startCol`, `endCol`, n_merged) — one row per merged interval,
   * n_merged = input intervals absorbed into it.
   *
   * Scale: the classic sweep as ONE per-key window pass — sort by
   * (start, end) within each key, flag rows whose start exceeds the
   * running max of previous ends, prefix-sum the flags into group ids,
   * then one hash aggregate. Parallel across keys; a single key's
   * intervals sort within one partition (the [[sessionize]] /
   * [[rollingAggregate]] bound, documented).
   */
  def mergeIntervals(
      df: DataFrame, keyCols: Seq[String], startCol: String,
      endCol: String, validate: Boolean = true): DataFrame = {
    require(keyCols.nonEmpty,
      "mergeIntervals needs >= 1 key column (give a constant key for a " +
        "global merge — the sweep must be partitionable)")
    require(!keyCols.contains("n_merged") && startCol != "n_merged" &&
      endCol != "n_merged",
      "key/start/end column collides with output column 'n_merged'")
    // validation folded INTO the single pass (no pre-scan): a per-row
    // guard projects the start column through raise_error on a bad row,
    // so the default path stays one scan and the first bad row fails the
    // job loudly at evaluation time. validate=false skips the guard
    // entirely (dialect: skip_validate) for inputs guaranteed clean.
    val src =
      if (validate) df.withColumn(startCol,
        when(col(startCol).isNull || col(endCol).isNull ||
            col(endCol) < col(startCol),
          raise_error(concat(
            lit("mergeIntervals: null endpoint or end < start row: start="),
            coalesce(col(startCol).cast("string"), lit("null")),
            lit(" end="),
            coalesce(col(endCol).cast("string"), lit("null"))))
            .cast(df.schema(startCol).dataType))
          .otherwise(col(startCol)))
      else df
    val keys = keyCols.map(col)
    val order = Seq(col(startCol).asc, col(endCol).asc)
    val wPrev = Window.partitionBy(keys: _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(keys: _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    src.withColumn("__maxend", max(col(endCol)).over(wPrev))
      .withColumn("__new",
        when(col("__maxend").isNull || col(startCol) > col("__maxend"), 1L)
          .otherwise(0L))
      .withColumn("__grp", sum(col("__new")).over(wRun))
      .groupBy((keys :+ col("__grp")): _*)
      .agg(min(col(startCol)).as(startCol), max(col(endCol)).as(endCol),
        count(lit(1)).as("n_merged"))
      .drop("__grp")
  }

  /**
   * Time-series gap fill: regularize each group onto a fixed `stepSeconds`
   * grid between its first and last observation, synthesizing the missing
   * buckets — the step between [[resample]] and any model that assumes
   * evenly spaced input. Rows landing in the same bucket average
   * (decimal-bridged sum / count — order-independent); null values are
   * treated as absent. Fill methods for synthesized buckets:
   *
   *  - `"linear"` — interpolate between the nearest observed neighbors:
   *    v = prev + (next − prev) · (t − t_prev)/(t_next − t_prev)
   *  - `"ffill"`  — carry the previous observed value forward
   *  - `"zero"`   — 0.0 (count-like series where a gap means "nothing")
   *
   * Every group's grid endpoints are observed buckets by construction
   * (the grid spans min..max of that group's own data), so interpolation
   * never extrapolates and prev/next always exist. Output: groupCols ++
   * (bucket_start timestamp, `valueCol` double, filled boolean — true on
   * synthesized buckets).
   *
   * Scale: one hash aggregate to buckets, one tiny per-group span
   * aggregate whose `sequence` explode generates the grid (grid size is
   * span/step per group — the caller controls density; a year at 1 s is
   * 31M rows per group, pick the step accordingly), one join back, and
   * per-group ordered windows for neighbor lookup (parallel across
   * groups; a single group's grid sorts within one partition — the same
   * documented bound as [[rollingAggregate]]). The interpolation itself
   * is scalar IEEE arithmetic — deterministic and engine-portable.
   */
  def gapFill(
      df: DataFrame, tsCol: String, valueCol: String, stepSeconds: Long,
      groupCols: Seq[String], method: String = "linear"): DataFrame = {
    require(stepSeconds > 0, "stepSeconds must be > 0")
    require(Set("linear", "ffill", "zero").contains(method),
      s"unknown fill method '$method' (linear|ffill|zero)")
    require(groupCols.nonEmpty,
      "gapFill needs >= 1 group column (a single global series still " +
        "needs an explicit constant key so the window can be partitioned)")
    Seq("bucket_start", "filled").foreach(c => require(!groupCols.contains(c),
      s"group column collides with output column '$c'"))
    val gcols = groupCols.map(col)
    val eb = (floor(unix_timestamp(col(tsCol)).cast("double") / stepSeconds)
      .cast("long") * stepSeconds).as("__e")
    val obs = df.filter(col(valueCol).isNotNull)
      .groupBy((gcols :+ eb): _*)
      .agg((sum(col(valueCol).cast("decimal(25,6)")).cast("double") /
        count(lit(1)).cast("double")).as("__v"))
    val spans = obs.groupBy(gcols: _*)
      .agg(min(col("__e")).as("__lo"), max(col("__e")).as("__hi"))
    val grid = spans.select((gcols :+
      explode(sequence(col("__lo"), col("__hi"), lit(stepSeconds))).as("__e")): _*)
    val joined = grid.join(obs, groupCols :+ "__e", "left")
    val wPrev = Window.partitionBy(gcols: _*).orderBy(col("__e").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(gcols: _*).orderBy(col("__e").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val pv = last(col("__v"), ignoreNulls = true).over(wPrev)
    val pe = last(when(col("__v").isNotNull, col("__e")), ignoreNulls = true)
      .over(wPrev)
    val nv = first(col("__v"), ignoreNulls = true).over(wNext)
    val ne = first(when(col("__v").isNotNull, col("__e")), ignoreNulls = true)
      .over(wNext)
    val value = method match {
      case "zero"  => coalesce(col("__v"), lit(0.0))
      case "ffill" => coalesce(col("__v"), pv)
      case "linear" => coalesce(col("__v"),
        pv + (nv - pv) * ((col("__e") - pe).cast("double") /
          (ne - pe).cast("double")))
    }
    joined.select((gcols :+
      timestamp_seconds(col("__e")).as("bucket_start") :+
      value.as(valueCol) :+
      col("__v").isNull.as("filled")): _*)
  }
}
