package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.SparkThrowable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftshim.ListenerBusDrain
import org.apache.spark.sql.types.StructType

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import scala.util.control.NonFatal

/** `SparkGraftEngine.load` of parquet: its schema is the one Spark's own
 * inference gives, on every layout the driver-side footer read covers and
 * every one it leaves to Spark, errors included; and a single file or a flat
 * directory loads without starting a Spark job. */
class ParquetLoadSpec extends SparkTestBase {

  private type Outcome = Either[(Class[_], String), StructType]

  /** The schema, or the error's class and condition. */
  private def outcome(schema: => StructType): Outcome =
    try Right(schema)
    catch {
      case NonFatal(e) => Left(e.getClass -> (e match {
        case st: SparkThrowable => String.valueOf(st.getCondition)
        case _ => ""
      }))
    }

  private def assertSameAsSpark(path: String,
      options: Map[String, String] = Map.empty): Outcome = {
    val want = outcome(spark.read.options(options).parquet(path).schema)
    assert(outcome(engine.load(path, "parquet", options = options).schema) === want, path)
    want
  }

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val prior = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def tempDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** A parquet file with a TIMESTAMP(NANOS) column (Spark rejects it unless
   * nanos-as-long is on) and an unannotated binary column. */
  private def writeNanosEvents(path: String): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,false));
        |  optional binary raw;
        |}""".stripMargin)
    val writer = ExampleParquetWriter.builder(new Path(path)).withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try (1 to 3).foreach { i =>
      writer.write(rows.newGroup().append("event_id", i.toLong)
        .append("ts", 1700000000000000000L + i).append("raw", Binary.fromString(s"r$i")))
    } finally writer.close()
  }

  /** One parquet file holding `sql`'s result, at `dir/name`. */
  private def writeSingleFile(sql: String, dir: String, name: String): Unit = {
    val tmp = s"${tempDir("graft_single")}/t"
    spark.sql(sql).coalesce(1).write.parquet(tmp)
    val part = new File(tmp).listFiles.find(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, new File(dir, name).toPath)
  }

  private def jobsStartedBy(body: => Unit): Int = {
    val group = s"parquet-load-${System.nanoTime}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "parquet load")
    try body
    finally {
      spark.sparkContext.clearJobGroup()
      ListenerBusDrain(spark)
      spark.sparkContext.removeSparkListener(listener)
    }
    jobs.get
  }

  test("every shipped table: load's schema is Spark's, nanosAsLong on or off") {
    val roots = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
      "/root/testdata/sf0.1", "perfbench/data").map(new File(_))
    def tables(f: File): Seq[File] =
      if (f.getName.endsWith(".parquet")) Seq(f)
      else Option(f.listFiles).toSeq.flatten.sortBy(_.getName).flatMap(tables)
    val found = roots.flatMap(tables)
    assert(roots.forall(_.isDirectory) && found.size >= 38, found)
    for (table <- found; nanos <- Seq("true", "false"))
      withConf(NanosAsLong -> nanos) {
        assert(assertSameAsSpark(table.getPath).isRight, table)
      }
  }

  test("TIMESTAMP(NANOS) events: long with nanosAsLong on, Spark's error with it off") {
    val path = s"${tempDir("graft_nanos")}/events.parquet"
    writeNanosEvents(path)
    withConf(NanosAsLong -> "true") {
      val got = assertSameAsSpark(path)
      assert(got.map(_("ts").dataType.typeName) === Right("long"))
    }
    withConf(NanosAsLong -> "false") {
      val err = assertSameAsSpark(path)
      assert(err.isLeft, err)
    }
    // the conf is read at load time: binary-as-string turns `raw` into a string
    withConf(NanosAsLong -> "true", "spark.sql.parquet.binaryAsString" -> "true") {
      assert(assertSameAsSpark(path).map(_("raw").dataType.typeName) === Right("string"))
    }
  }

  test("a Spark-written directory with _SUCCESS and checksum files") {
    val dir = s"${tempDir("graft_success")}/out"
    spark.range(20).selectExpr("id", "cast(id as string) s").repartition(3)
      .write.parquet(dir)
    assert(new File(dir, "_SUCCESS").exists)
    assert(assertSameAsSpark(dir).isRight)
  }

  test("part files with different schemas: Spark's pick wins; hidden files are skipped") {
    val dir = tempDir("graft_pick")
    // written out of name order; "part-a" sorts first
    writeSingleFile("SELECT 1L AS b_long", dir, "part-b.parquet")
    writeSingleFile("SELECT 'x' AS a_str, 2.0D AS a_dbl", dir, "part-a.parquet")
    writeSingleFile("SELECT 3 AS hidden_dot", dir, ".hidden.parquet")
    writeSingleFile("SELECT 4 AS hidden_underscore", dir, "_hidden.parquet")
    val got = assertSameAsSpark(dir)
    assert(got.map(_.fieldNames.toSeq) === Right(Seq("a_str", "a_dbl")))

    // schema merging, as an option and as a conf, is Spark's own path
    val merged = assertSameAsSpark(dir, Map("mergeSchema" -> "true"))
    assert(merged.map(_.fieldNames.toSet) === Right(Set("a_str", "a_dbl", "b_long")))
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      assert(assertSameAsSpark(dir) === merged)
    }
  }

  test("a directory with summary files (parquet.summary.metadata.level=ALL)") {
    val dir = s"${tempDir("graft_summary")}/out"
    spark.range(30).selectExpr("id", "id % 3 AS k", "cast(id as string) AS s")
      .repartition(2).write.option("parquet.summary.metadata.level", "ALL").parquet(dir)
    assert(new File(dir, "_metadata").exists && new File(dir, "_common_metadata").exists)
    // a data file that sorts before the others: the summary still wins
    writeSingleFile("SELECT 'y' AS other", dir, "part-0.parquet")
    val got = assertSameAsSpark(dir)
    assert(got.map(_.fieldNames.toSeq) === Right(Seq("id", "k", "s")))
  }

  test("a partitioned directory") {
    val dir = s"${tempDir("graft_partitioned")}/out"
    spark.range(12).selectExpr("id", "id % 3 AS k").write.partitionBy("k").parquet(dir)
    val got = assertSameAsSpark(dir)
    assert(got.map(_.fieldNames.toSeq) === Right(Seq("id", "k")))
  }

  test("a missing path and an empty directory raise Spark's error") {
    val missing = assertSameAsSpark(s"${tempDir("graft_missing")}/nope.parquet")
    assert(missing.left.map(_._2) === Left("PATH_NOT_FOUND"))
    val empty = assertSameAsSpark(tempDir("graft_empty"))
    assert(empty.isLeft, empty)
  }

  test("load of a file or a flat directory starts no Spark job") {
    val file = "/root/testdata/sf0.001/orders.parquet"
    val dir = s"${tempDir("graft_jobs")}/out"
    spark.range(10).repartition(2).write.parquet(dir)
    assert(jobsStartedBy(engine.load(file)) === 0)
    assert(jobsStartedBy(engine.load(dir)) === 0)
    // the counter sees Spark's inference job when the schema is not supplied
    assert(jobsStartedBy(spark.read.parquet(file)) === 1)
  }
}
