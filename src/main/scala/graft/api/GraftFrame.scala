package graft.api

import org.apache.spark.sql.{DataFrame, Row}
import scala.jdk.CollectionConverters._

/**
 * Deliberate local-access surface — the reference's dataframe accessors
 * (/root/reference/fugue/dataframe/dataframe.py:99-240) and dataset
 * metadata (/root/reference/fugue/dataset/dataset.py:26) over a Spark
 * DataFrame. Everything that moves rows to the driver lives HERE and only
 * here: the engine operators never collect, so a `.asArray`/`.peekArray`
 * in user code is a visible, intentional locality boundary.
 *
 * Metadata is an immutable map carried functionally (`withMetadata`), not
 * the reference's mutable ParamDict — transformations return new frames.
 */
final case class GraftFrame(
    native: DataFrame,
    metadata: Map[String, Any] = Map.empty) {

  def schema: org.apache.spark.sql.types.StructType = native.schema
  def columns: Seq[String] = native.columns.toSeq

  def withMetadata(kv: (String, Any)*): GraftFrame =
    copy(metadata = metadata ++ kv)
  def hasMetadata: Boolean = metadata.nonEmpty

  /** All rows as value sequences (driver-side). */
  def asArray: Seq[Seq[Any]] = native.collect().map(_.toSeq).toSeq

  /** Streaming local iterator: one partition on the driver at a time —
   * bounded memory, unlike [[asArray]]. */
  def asArrayIterable: Iterator[Seq[Any]] =
    native.toLocalIterator().asScala.map(_.toSeq)

  /** All rows as column-name → value maps. */
  def asDicts: Seq[Map[String, Any]] = {
    val names = native.columns
    native.collect().map(r => names.zip(r.toSeq).toMap).toSeq
  }

  def asDictIterable: Iterator[Map[String, Any]] = {
    val names = native.columns
    native.toLocalIterator().asScala.map(r => names.zip(r.toSeq).toMap)
  }

  /** First n rows without a full collect (Spark `head` semantics). */
  def head(n: Int): Seq[Seq[Any]] = native.head(n).map(_.toSeq).toSeq

  /** First row's values; clear error on an empty frame
   * (reference peek_array, dataframe.py:222). */
  def peekArray: Seq[Any] = {
    val rows = native.head(1)
    if (rows.isEmpty) throw new NoSuchElementException("peek on an empty dataframe")
    rows.head.toSeq
  }

  def peekDict: Map[String, Any] = native.columns.zip(peekArray).toMap

  /** Materialized copy pinned to this JVM's block store — the engine-side
   * analogue of the reference's as_local (breaks upstream lineage). */
  def asLocal: GraftFrame = copy(native = graft.Materialize.eager(native))

  def count: Long = native.count()
  def isEmpty: Boolean = native.isEmpty
  /** Dataset-surface parity (reference dataset/api.py): boundedness maps
   * to Spark's streaming flag. "Local" means actions need NO upstream
   * recomputation: driver-literal relations, or a checkpoint whose blocks
   * are actually CACHED on this JVM (the [[asLocal]] contract — eager
   * localCheckpoint). A declared-but-unmaterialized lazy checkpoint and a
   * parallelized-rows frame both report false: their next action still
   * runs the lineage. */
  def isBounded: Boolean = !native.isStreaming
  def isLocal: Boolean = native.queryExecution.logical match {
    case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
    case _ => graft.Materialize.isEager(native)
  }
  /** Partition count. NOTE (same cost as the reference's
   * `df.rdd.getNumPartitions`): resolving the partitioning of a lazy plan
   * under AQE executes its upstream shuffle stages — this is a plan
   * question only cheap on materialized/local frames. */
  def numPartitions: Int = {
    // Dataset.rdd is illegal on streaming sources; be a clear error, and
    // use the internal-row RDD for bounded frames (no deserializer plan)
    require(isBounded, "numPartitions is undefined for unbounded frames")
    native.queryExecution.toRdd.getNumPartitions
  }

  def rows: Seq[Row] = native.collect().toSeq

  /** Arrow IPC stream batches of this frame's rows (driver-side, one
   * partition resident at a time; each batch self-describes with the
   * schema) — the local-interchange surface matching the reference's
   * as_arrow (fugue/dataframe/dataframe.py:121). Rebuild with
   * [[GraftFrame.fromArrowBatches]]. */
  def asArrowBatches(maxRecordsPerBatch: Long = 10000L): Iterator[Array[Byte]] =
    org.apache.spark.sql.graftshim.ArrowBridge.toArrowBatches(native, maxRecordsPerBatch)
}

object GraftFrame {
  /** Inverse of [[GraftFrame.asArrowBatches]]: a GraftFrame over the rows
   * of the given Arrow IPC batches. `schemaJson` is `df.schema.json` of
   * the exporting frame (kept explicit so batches can cross processes
   * without a side channel). */
  def fromArrowBatches(
      spark: org.apache.spark.sql.SparkSession,
      batches: Iterator[Array[Byte]],
      schemaJson: String): GraftFrame =
    GraftFrame(org.apache.spark.sql.graftshim.ArrowBridge
      .fromArrowBatches(spark, batches, schemaJson))
}
