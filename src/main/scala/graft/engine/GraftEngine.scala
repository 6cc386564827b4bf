package graft.engine

import graft.PartitionSpec
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/**
 * The engine operator vocabulary — the fixed set of relational/dataflow
 * operators every backend of the reference implements
 * (/root/reference/fugue/execution/execution_engine.py:338+), expressed as a
 * Scala trait over Spark DataFrames. Kept as a trait (single Spark impl) so
 * conformance tests stay engine-generic, mirroring the reference's
 * fugue_test suites.
 */
trait GraftEngine {
  def spark: SparkSession

  // ---- ingestion -------------------------------------------------------
  def toDF(rows: Seq[Seq[Any]], schemaExpr: String): DataFrame
  def toDF(rows: Seq[Row], schema: StructType): DataFrame

  // ---- partitioning / materialization ---------------------------------
  def repartition(df: DataFrame, spec: PartitionSpec): DataFrame
  def broadcast(df: DataFrame): DataFrame
  def persist(df: DataFrame, lazyPersist: Boolean = true,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame
  def getCurrentParallelism: Int

  // ---- relational ops --------------------------------------------------
  /** Join on the *common columns* of the two frames (keys always inferred,
   * as in the reference — utils.py:152-210); `on` only validates.
   * Output schema = df1 ∪ (df2 − keys). */
  def join(df1: DataFrame, df2: DataFrame, how: String,
      on: Seq[String] = Nil): DataFrame
  def union(df1: DataFrame, df2: DataFrame, distinct: Boolean = true): DataFrame
  def subtract(df1: DataFrame, df2: DataFrame, distinct: Boolean = true): DataFrame
  def intersect(df1: DataFrame, df2: DataFrame, distinct: Boolean = true): DataFrame

  // ---- multi-df folds (reference processors.py:79-105,
  // workflow.py:612-786: join/union/subtract/intersect over N frames in
  // one call, left-folded pairwise — Catalyst then reorders/optimizes the
  // combined plan as a whole) ------------------------------------------
  def join(dfs: Seq[DataFrame], how: String): DataFrame = {
    require(dfs.size >= 2, s"multi-join needs >= 2 dataframes, got ${dfs.size}")
    dfs.reduceLeft((a, b) => join(a, b, how))
  }
  def union(dfs: Seq[DataFrame], distinct: Boolean): DataFrame = {
    require(dfs.size >= 2, s"multi-union needs >= 2 dataframes, got ${dfs.size}")
    dfs.reduceLeft((a, b) => union(a, b, distinct))
  }
  def subtract(dfs: Seq[DataFrame], distinct: Boolean): DataFrame = {
    require(dfs.size >= 2, s"multi-subtract needs >= 2 dataframes, got ${dfs.size}")
    dfs.reduceLeft((a, b) => subtract(a, b, distinct))
  }
  def intersect(dfs: Seq[DataFrame], distinct: Boolean): DataFrame = {
    require(dfs.size >= 2, s"multi-intersect needs >= 2 dataframes, got ${dfs.size}")
    dfs.reduceLeft((a, b) => intersect(a, b, distinct))
  }
  def distinct(df: DataFrame): DataFrame
  def dropna(df: DataFrame, how: String = "any", thresh: Option[Int] = None,
      subset: Seq[String] = Nil): DataFrame
  def fillna(df: DataFrame, value: Any, subset: Seq[String] = Nil): DataFrame
  def sample(df: DataFrame, n: Option[Long] = None, frac: Option[Double] = None,
      replace: Boolean = false, seed: Option[Long] = None): DataFrame
  /** First n rows (per logical partition when `spec.by` is set) after
   * presort. naPosition ∈ {last, first} — pandas convention, independent of
   * sort direction. */
  def take(df: DataFrame, n: Int, spec: PartitionSpec = PartitionSpec.empty,
      naPosition: String = "last"): DataFrame

  // ---- column-expression ops ------------------------------------------
  /** Projection with optional aggregation (GROUP BY inferred from the
   * non-aggregate columns), WHERE (pre-agg) and HAVING (post-agg). */
  def select(df: DataFrame, cols: Seq[Column], where: Option[Column] = None,
      having: Option[Column] = None): DataFrame
  def filter(df: DataFrame, cond: Column): DataFrame
  /** Upsert columns; no aggregation allowed. */
  def assign(df: DataFrame, cols: Map[String, Column]): DataFrame
  /** Aggregate with optional partition keys; every output column must be an
   * aggregation. */
  def aggregate(df: DataFrame, partitionBy: Seq[String],
      aggs: Seq[Column]): DataFrame

  // ---- schema ops ------------------------------------------------------
  /** Cast the named columns to new types (schema expression); other columns
   * and the column order are untouched. */
  def alterColumns(df: DataFrame, schemaExpr: String): DataFrame
  def rename(df: DataFrame, mapping: Map[String, String]): DataFrame
  def dropColumns(df: DataFrame, cols: Seq[String], ifExists: Boolean = false): DataFrame
  /** Conform to a declared output schema: reorder + cast (NaN→null for
   * fractional→integral). */
  def conform(df: DataFrame, schema: StructType): DataFrame

  // ---- SQL -------------------------------------------------------------
  /** Run a raw SELECT over named dataframes registered as temp views. */
  def sqlSelect(sql: String, dfs: Map[String, DataFrame]): DataFrame
  def tableExists(name: String): Boolean
  def loadTable(name: String): DataFrame
  def saveTable(df: DataFrame, name: String, mode: String = "overwrite"): Unit

  // ---- IO --------------------------------------------------------------
  def load(path: String, format: String = "", columns: Seq[String] = Nil,
      options: Map[String, String] = Map.empty): DataFrame
  def save(df: DataFrame, path: String, format: String = "",
      mode: String = "overwrite", partitionBy: Seq[String] = Nil,
      singleFile: Boolean = false,
      options: Map[String, String] = Map.empty): Unit
}

object GraftEngine {
  /** The one reader of a join-type word, for join, zip and cogroup alike:
   * case-, space- and underscore-insensitive ("left outer", "LEFT_OUTER",
   * "leftouter" and "left" are one type), returned as Spark's name. */
  def joinType(how: String): String =
    how.trim.toLowerCase.replaceAll("[\\s_]", "") match {
      case "inner" => "inner"
      case "leftouter" | "left" => "left_outer"
      case "rightouter" | "right" => "right_outer"
      case "fullouter" | "full" | "outer" => "full_outer"
      case "cross" => "cross"
      case "semi" | "leftsemi" => "left_semi"
      case "anti" | "leftanti" => "left_anti"
      case _ => throw new IllegalArgumentException(s"unknown join type '$how'")
    }
}
