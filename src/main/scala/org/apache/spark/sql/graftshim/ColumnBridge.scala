package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Bridge into Spark's `private[sql]` Column ⇄ Catalyst Expression
 * conversion (Spark 4.x split the public Column from its classic
 * Expression backing; extension libraries reach it via a package shim).
 */
object ColumnBridge {
  /** Fully-converted Catalyst expression (ExpressionUtils alone returns a
   * lazy childless ColumnNodeExpression wrapper — useless for traversal). */
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)
  def column(e: Expression): Column = ExpressionUtils.column(e)
  /** The warehouse location the session catalog would use for a managed
   * table (handles identifier lowercasing and `db.db/` nesting). */
  def defaultTablePath(spark: org.apache.spark.sql.SparkSession, name: String): java.net.URI = {
    val parts = name.split("\\.")
    val ident =
      if (parts.length == 2)
        org.apache.spark.sql.catalyst.TableIdentifier(parts(1), Some(parts(0)))
      else org.apache.spark.sql.catalyst.TableIdentifier(name)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog.defaultTablePath(ident)
  }

  /** Executor-usable Hadoop configuration accessor: broadcasts the
   * SESSION's Hadoop conf (spark.hadoop.* / core-site overlays included)
   * behind a serializable closure, so per-partition sinks resolve paths
   * against the same filesystem the driver does. `new Configuration()`
   * inside a task loses every spark.hadoop.* setting — wrong fs.defaultFS,
   * missing object-store credentials. (SerializableConfiguration is
   * private[spark]; this shim is inside the package and may name it.) */
  def hadoopConfAccessor(spark: org.apache.spark.sql.SparkSession)
      : () => org.apache.hadoop.conf.Configuration = {
    val bc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        sessionHadoopConf(spark)))
    () => bc.value.value
  }

  /** The SESSION's Hadoop conf for DRIVER-side path resolution — the same
   * overlay the executor accessor above broadcasts, so driver-written
   * manifests and task-written data always land on the same filesystem
   * (sparkContext.hadoopConfiguration misses session-level
   * spark.hadoop.* overrides). */
  def sessionHadoopConf(spark: org.apache.spark.sql.SparkSession)
      : org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()

  /** The output name Spark would assign (alias, attribute name, or the
   * generated pretty name for anonymous expressions). */
  def outputName(c: Column): String = {
    val e = expression(c)
    ExpressionUtils.toNamed(e) match {
      case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAlias =>
        // .name on an UnresolvedAlias throws; derive the pretty name the
        // analyzer would generate
        try ExpressionUtils.generateAlias(ua.child)
        catch { case _: Throwable => ua.child.toString }
      case ne => ne.name
    }
  }
}
