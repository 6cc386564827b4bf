package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** One SparkSession per suite; sort-insensitive equality oracle mirroring
 * the reference's `_df_eq` (/root/reference/fugue/dataframe/utils.py:24-94):
 * schema compare + sorted row compare with float tolerance 1e-8.
 *
 * Each test deletes the scratch files it added: the `graft*` directories
 * of the temp dir and the entries under the checkpoint root, found by
 * listing both before and after it (deterministic checkpoints are kept by
 * design, and a fresh temp input keys a fresh one on every run). After
 * the suite the listing must be what it was before the suite. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  lazy val engine = new graft.engine.SparkGraftEngine(spark)

  private val scratchAtStart = SparkTestBase.scratch

  override def withFixture(test: NoArgTest): org.scalatest.Outcome = {
    val before = SparkTestBase.scratch
    try super.withFixture(test)
    finally (SparkTestBase.scratch -- before).foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }

  override def afterAll(): Unit = {
    try {
      val left = SparkTestBase.scratch -- scratchAtStart
      assert(left.isEmpty, s"scratch files left behind: ${left.mkString(", ")}")
    } finally super.afterAll()
  }

  def df(rows: Seq[Seq[Any]], schemaExpr: String): DataFrame =
    engine.toDF(rows, schemaExpr)

  /** All messages down an exception's cause chain, joined — Spark wraps
   * runtime raise_error failures in task/job layers, so asserting on the
   * top-level message alone is brittle. */
  def stackMessages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")

  def collectSorted(d: DataFrame): Seq[Seq[Any]] =
    d.collect().toSeq.map(_.toSeq)
      .sortBy(_.map(v => if (v == null) "\u0000" else v.toString).mkString("|"))

  def assertDfEq(got: DataFrame, expected: Seq[Seq[Any]]): Unit = {
    val g = collectSorted(got)
    val e = expected.map(_.map(identity))
      .sortBy(_.map(v => if (v == null) "\u0000" else v.toString).mkString("|"))
    assert(g.length == e.length, s"row count: got ${g.length}, want ${e.length}\n$g\n$e")
    g.zip(e).foreach { case (gr, er) =>
      gr.zip(er).foreach {
        case (a: Double, b: Double) => assert(math.abs(a - b) < 1e-8, s"$gr != $er")
        case (a: Float, b: Float) => assert(math.abs(a - b) < 1e-6, s"$gr != $er")
        case (a, b) => assert(a == b, s"$gr != $er")
      }
    }
  }
}

object SparkTestBase {
  private def under(dir: java.io.File): Set[java.io.File] =
    Option(dir.listFiles).fold(Set.empty[java.io.File])(_.toSet)

  /** The scratch files tests make: the temp dir's `graft*` directories
   * (what `createTempDirectory` makes; a file of that name is not ours)
   * and whatever lies under the checkpoint root. */
  def scratch: Set[java.io.File] =
    under(new java.io.File(System.getProperty("java.io.tmpdir")))
      .filter(f => f.isDirectory && f.getName.startsWith("graft")) ++
      under(new java.io.File(graft.Materialize.checkpointRoot))

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
