package graft.transform

import graft.PartitionSpec
import graft.engine.GraftEngine
import graft.operators.Repartitioner
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.TaskContext

/**
 * Per-logical-partition transform — the reference's core compute op
 * `map_dataframe` (/root/reference/fugue/execution/execution_engine.py:277-315,
 * fugue_spark/execution_engine.py:137-334) re-designed for Spark's execution
 * model:
 *
 *  - partition by the spec's keys (`repartition(keys)`), presort *within*
 *    physical partitions (`sortWithinPartitions(keys ++ presort)`), then one
 *    streaming pass that detects consecutive-equal-key runs — logical
 *    partitions are never materialized (no `groupByKey` buffering), so a
 *    single huge key group spills naturally via the sort, not OOM;
 *  - the whole pipeline stays in the Dataset API (`mapPartitions` with a Row
 *    encoder), so the surrounding plan keeps codegen and exchange reuse;
 *  - `onInit` runs once per *physical* partition (reference `on_init`);
 *    the [[PartitionCursor]] carries key values + partition/slice numbers.
 *
 * A physical Spark partition generally contains many logical partitions;
 * null keys group together (SQL-style, matching
 * execution_suite.py:533-544 semantics).
 */
final case class PartitionCursor(
    keys: Seq[String],
    keyValues: Seq[Any],
    physicalPartitionNo: Int,
    sliceNo: Int) {
  def keyMap: Map[String, Any] = keys.zip(keyValues).toMap
}

object Transform {

  /**
   * Apply `f` to each logical partition of `df` as declared by `spec`.
   * Output rows must conform to `outputSchema` (enforced by the encoder).
   */
  def mapPartitions(
      df: DataFrame,
      spec: PartitionSpec,
      outputSchema: StructType,
      onInit: Int => Unit = _ => ())(
      f: (PartitionCursor, Iterator[Row]) => Iterator[Row]): DataFrame = {
    val keys = spec.by
    val keyIdx = keys.map(df.schema.fieldIndex)
    val shuffled = Repartitioner(df, spec)
    // consecutive-equal-key grouping REQUIRES rows sorted by key within
    // each physical partition; Repartitioner only sorts when a presort is
    // given (its contract), so sort here for the keyed no-presort case —
    // otherwise two keys in one shuffle partition arrive interleaved and a
    // logical partition would be visited once per run of its rows
    val prepared =
      if (keys.nonEmpty && spec.presort.isEmpty)
        shuffled.sortWithinPartitions(keys.map(col): _*)
      else shuffled
    implicit val enc: Encoder[Row] = Encoders.row(outputSchema)
    prepared.mapPartitions { it =>
      val pno = TaskContext.getPartitionId()
      if (it.isEmpty) Iterator.empty // empty-partition skipping
      else {
        onInit(pno)
        if (keys.isEmpty) {
          f(PartitionCursor(Nil, Nil, pno, 0), it)
        } else {
          groupedByConsecutiveKeys(it, keyIdx).zipWithIndex.flatMap {
            case ((kv, rows), slice) =>
              f(PartitionCursor(keys, kv, pno, slice), rows)
          }
        }
      }
    }
  }

  /** Typed per-physical-partition transform (no keys). */
  def transform[T, U: Encoder](ds: Dataset[T])(
      f: Iterator[T] => Iterator[U]): Dataset[U] =
    ds.mapPartitions(f)

  /** Typed per-key transform: Spark-native `groupByKey.flatMapGroups` —
   * the group iterator streams from the sorted shuffle, never buffered. */
  def transformGrouped[T, K: Encoder, U: Encoder](ds: Dataset[T])(keyFn: T => K)(
      f: (K, Iterator[T]) => IterableOnce[U]): Dataset[U] =
    ds.groupByKey(keyFn).flatMapGroups((k: K, it: Iterator[T]) => f(k, it))

  /**
   * Lazily split a sorted iterator into runs of consecutive equal keys.
   * The inner iterator MUST be consumed (or abandoned) before advancing to
   * the next group; any unconsumed remainder of the current group is drained
   * automatically on advance. Null-safe key equality.
   */
  private[graft] def groupedByConsecutiveKeys(
      it: Iterator[Row], keyIdx: Seq[Int]): Iterator[(Seq[Any], Iterator[Row])] = {
    val buf = it.buffered
    new Iterator[(Seq[Any], Iterator[Row])] {
      private var current: GroupIterator = null
      def hasNext: Boolean = {
        if (current != null) { current.drain(); current = null }
        buf.hasNext
      }
      def next(): (Seq[Any], Iterator[Row]) = {
        if (!hasNext) throw new NoSuchElementException
        val kv = keyIdx.map(buf.head.get)
        current = new GroupIterator(kv)
        (kv, current)
      }
      final class GroupIterator(kv: Seq[Any]) extends Iterator[Row] {
        private var done = false
        def hasNext: Boolean = !done && buf.hasNext && {
          val same = keyIdx.zip(kv).forall { case (i, v) =>
            val x = buf.head.get(i)
            (x, v) match {
              case (null, null) => true
              // binary keys surface as Array[Byte], whose == is reference
              // equality — element comparison, or every row would become
              // its own logical partition
              case (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.equals(a, b)
              case _ => x != null && x == v
            }
          }
          if (!same) done = true
          same
        }
        def next(): Row = { if (!hasNext) throw new NoSuchElementException; buf.next() }
        def drain(): Unit = while (hasNext) next()
      }
    }
  }

  // -------------------------------------------------------------------
  // zip / comap — k-way cogroup by partition keys
  // (/root/reference/fugue/execution/execution_engine.py:962-1111). The
  // reference serializes sub-dataframes to blobs and unions them — a Python
  // workaround. Native Spark cogroups directly: no serialization, keys
  // shuffle once per side, groups stream.
  // -------------------------------------------------------------------

  /** The join type of a zip or cogroup: any spelling `engine.join` accepts
   * ([[GraftEngine.joinType]]), limited to the four that keep each key's
   * rows of both sides; cross, semi and anti fail here, on the driver. */
  private def zipType(how: String): String = GraftEngine.joinType(how) match {
    case h @ ("inner" | "left_outer" | "right_outer" | "full_outer") => h
    case _ => throw new IllegalArgumentException(
      s"zip and cogroup take inner, left/right/full outer; not join type '$how'")
  }

  /**
   * Cogroup two dataframes on `keys` and apply `f(keyValues, leftRows,
   * rightRows)` per key. `how` controls which key sets are visited:
   * inner (both non-empty), left_outer (left non-empty), right_outer,
   * full_outer (any). Missing sides arrive as empty iterators (the
   * reference substitutes empty frames — execution_engine.py:1318-1353).
   *
   * `presort` orders each side's iterator by the (field, asc) pairs that
   * side has (fields match case-insensitively), with the nulls-last
   * convention of [[PartitionSpec.presortCols]]. The order is part of the
   * shuffle's own sort (`cogroupSorted`), so both sides stream, with or
   * without a presort.
   */
  def coMap(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      how: String,
      outputSchema: StructType,
      presort: Seq[(String, Boolean)] = Nil)(
      f: (Seq[Any], Iterator[Row], Iterator[Row]) => Iterator[Row]): DataFrame = {
    val h = zipType(how)
    val keySchema = StructType(keys.map(k => left.schema(left.schema.fieldIndex(k))))
    val keyEnc: Encoder[Row] = Encoders.row(keySchema)
    val outEnc: Encoder[Row] = Encoders.row(outputSchema)
    // column-based grouping (RelationalGroupedDataset.as), NOT
    // groupByKey(closure): the closure form deserializes every row to an
    // external Row just to re-extract the key (an AppendColumns node —
    // per-row serde outside codegen), while .as grouping evaluates the key
    // columns natively and keeps the exchange/sort fully codegen'd. Key
    // Rows arrive in `f` with the same shape either way; null keys group
    // together under both (SQL grouping semantics = Row equality here).
    def grouped(d: DataFrame) =
      d.groupBy(keys.map(col): _*).as(keyEnc, Encoders.row(d.schema))
    def sortCols(d: DataFrame): Seq[Column] = PartitionSpec(presort = presort.flatMap {
      case (f, asc) => d.columns.find(_.equalsIgnoreCase(f)).map(_ -> asc)
    }).presortCols
    grouped(left).cogroupSorted(grouped(right))(sortCols(left): _*)(sortCols(right): _*) {
      (k, ls, rs) =>
        val visit = h match {
          case "inner" => ls.hasNext && rs.hasNext
          case "left_outer" => ls.hasNext
          case "right_outer" => rs.hasNext
          case _ => true
        }
        if (visit) f(k.toSeq, ls, rs) else Iterator.empty
    }(outEnc)
  }

  /**
   * Materialized ZIP (the reference's `zip` statement/op,
   * execution_engine.py:962-1057): group each frame's non-key columns into
   * a struct array per key, then join the grouped sides on the keys.
   * Output: key columns ++ `__zip_0..k` array<struct> columns; missing
   * sides (outer joins) carry empty arrays. A zipped frame feeds
   * [[coMapZipped]] (the SQL TRANSFORM-on-zipped path).
   *
   * Scale: one shuffle per frame (the groupBy) + the key join, all
   * declarative/AQE-planned; per-key payloads are buffered as arrays, as in
   * the reference's zip semantics (use [[coMap]] for streaming groups).
   * `presort` orders each array by the given (col, asc) pairs.
   */
  def zipFrames(
      frames: Seq[DataFrame],
      keys: Seq[String],
      how: String = "inner",
      presort: Seq[(String, Boolean)] = Nil): DataFrame = {
    require(frames.size >= 2, "zip needs at least 2 frames")
    val joinHow = zipType(how)
    // structs capture the FULL original row (keys included, original column
    // order) so a cotransformer sees IDENTICAL row shapes through the
    // zipped path and the direct coMap path. (The previous payload-only
    // capture reordered columns keys-first downstream, and its
    // case-sensitive key filter leaked differently-cased key columns.)
    val grouped = frames.zipWithIndex.map { case (d, i) =>
      d.groupBy(keys.map(col): _*)
        .agg(sortArr(collect_list(struct(d.columns.map(col).toIndexedSeq: _*)),
          d.columns.toSeq, presort).as(s"__zip_$i"))
    }
    val joined = grouped.reduce((a, b) => a.join(b, keys, joinHow))
    // outer-missing sides: empty array, not null (cotransformers see an
    // empty iterator — execution_engine.py:1318-1353 semantics)
    frames.indices.foldLeft(joined) { (d, i) =>
      d.withColumn(s"__zip_$i", coalesce(col(s"__zip_$i"),
        array().cast(d.schema(s"__zip_$i").dataType)))
    }
  }

  /** Comparator-based sort of a struct array by (field, asc) pairs; fields
   * absent from the struct are ignored (matched case-insensitively, like
   * `col()` resolution). Nulls order LAST in both directions — the repo's
   * presort convention ([[graft.PartitionSpec]], pandas
   * na_position="last"), the order [[coMap]]'s cogroup sort uses. Shared
   * by [[zipFrames]] (ZIP-level PRESORT) and [[presortZipped]]
   * (TRANSFORM-level PRESORT on zipped input). */
  private def sortArr(
      c: Column, fields: Seq[String], presort: Seq[(String, Boolean)]): Column =
    if (presort.isEmpty) c
    else {
      // resolve to the ACTUAL field name so getField works regardless of
      // spark.sql.caseSensitive (a user-cased name would fail resolution
      // under the case-sensitive resolver)
      val byLower = fields.map(f => f.toLowerCase -> f).toMap
      val resolved = presort.flatMap { case (f, asc) =>
        byLower.get(f.toLowerCase).map(actual => (actual, asc))
      }
      array_sort(c, (l, r) =>
        resolved.foldRight(lit(0)) {
          case ((f, asc), acc) =>
            val lf = l.getField(f)
            val rf = r.getField(f)
            when(lf.isNull && rf.isNull, acc)
              .when(lf.isNull, lit(1)) // nulls last, both directions
              .when(rf.isNull, lit(-1))
              .when(lf < rf, lit(if (asc) -1 else 1))
              .when(lf > rf, lit(if (asc) 1 else -1))
              .otherwise(acc)
        })
    }

  /** Re-sort the payload arrays of an already-zipped frame. A TRANSFORM
   * statement's own PRESORT clause on zipped input must actually order the
   * per-key iterators the cotransformer sees, not just pass validation
   * (_visitors.py:428-477: transform on zipped applies the statement's
   * partition spec). Cheap: a per-row array_sort, no shuffle. */
  def presortZipped(zipped: DataFrame, presort: Seq[(String, Boolean)]): DataFrame =
    if (presort.isEmpty) zipped
    else zipped.columns.filter(_.startsWith("__zip_")).foldLeft(zipped) { (d, c) =>
      val elem = d.schema(c).dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
        .elementType.asInstanceOf[StructType]
      d.withColumn(c, sortArr(col(c), elem.fieldNames.toSeq, presort))
    }

  /** True if `df` is the output of [[zipFrames]] (carries `__zip_i` cols). */
  def isZipped(df: DataFrame): Boolean = df.columns.exists(_.startsWith("__zip_"))

  /** Apply a 2-way cotransformer function to a zipped frame (one call per
   * key). Side rows are the ORIGINAL full rows captured by [[zipFrames]]
   * (keys included, original column order) — byte-for-byte the shape
   * [[coMap]] hands a cotransformer, so the same extension runs unchanged
   * on either path. */
  def coMapZipped(
      zipped: DataFrame,
      outputSchema: StructType)(
      f: (Seq[Any], Iterator[Row], Iterator[Row]) => Iterator[Row]): DataFrame = {
    val zipCols = zipped.columns.filter(_.startsWith("__zip_")).sorted
    require(zipCols.length == 2, s"coMapZipped needs a 2-way zipped frame, got ${zipCols.length}")
    val keys = zipped.columns.filterNot(_.startsWith("__zip_")).toSeq
    val keyIdx = keys.map(zipped.schema.fieldIndex)
    val i0 = zipped.schema.fieldIndex(zipCols(0))
    val i1 = zipped.schema.fieldIndex(zipCols(1))
    implicit val enc: Encoder[Row] = Encoders.row(outputSchema)
    zipped.mapPartitions { it =>
      it.flatMap { r =>
        val kv = keyIdx.map(r.get)
        f(kv, r.getSeq[Row](i0).iterator, r.getSeq[Row](i1).iterator)
      }
    }
  }

  /**
   * K-way cogroup (the reference's k-way `zip`,
   * execution_engine.py:962-1057): tag each frame, union the key+tag+payload
   * projections, group by key, split each group by tag. One shuffle total —
   * the reference's blob-serialization workaround is unnecessary on the JVM.
   * Each key group is buffered (a group = rows of one key across k frames);
   * for streaming 2-way semantics over huge groups use [[coMap]].
   *
   * `f` receives the key values and one row-buffer per input frame (empty
   * for frames without rows at that key — full_outer semantics; filter in
   * `f` for other zip types).
   */
  def coMapN(
      frames: Seq[DataFrame],
      keys: Seq[String],
      outputSchema: StructType)(
      f: (Seq[Any], Seq[Seq[Row]]) => Iterator[Row]): DataFrame = {
    require(frames.size >= 2, "coMapN needs at least 2 frames")
    val spark = frames.head.sparkSession
    val n = frames.size
    // normalized wire format: key cols ++ tag ++ per-frame struct payload
    val tagged = frames.zipWithIndex.map { case (d, i) =>
      val payloadCols = d.columns.filterNot(keys.contains)
      val structs = (0 until n).map { j =>
        if (j == i) struct(payloadCols.map(col).toIndexedSeq: _*).as(s"__p$j")
        else lit(null).cast(frames(j).schema.fields
          .filterNot(fd => keys.contains(fd.name))
          .foldLeft(new StructType())((st, fd) => st.add(fd))).as(s"__p$j")
      }
      d.select(keys.map(col) ++ Seq(lit(i).as("__tag")) ++ structs: _*)
    }
    val unioned = tagged.reduce(_ unionByName _)
    val keySchema = StructType(keys.map(k =>
      frames.head.schema(frames.head.schema.fieldIndex(k))))
    val keyEnc: Encoder[Row] = Encoders.row(keySchema)
    val outEnc: Encoder[Row] = Encoders.row(outputSchema)
    // column-based grouping for the same reason as [[coMap]]: the closure
    // form pays a per-row external-Row deserialization (AppendColumns)
    // just to re-extract columns the frame already has
    unioned
      .groupBy(keys.map(col): _*).as(keyEnc, Encoders.row(unioned.schema))
      .flatMapGroups { (k: Row, it: Iterator[Row]) =>
        val buffers = Array.fill(n)(Vector.newBuilder[Row])
        it.foreach { r =>
          val tag = r.getAs[Int]("__tag")
          buffers(tag) += r.getAs[Row](s"__p$tag")
        }
        f(k.toSeq, buffers.map(_.result()).toSeq)
      }(outEnc)
  }
}
