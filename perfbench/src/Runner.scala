package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.GraftSession
import graft.SparkEntry
import graft.engine.SparkGraftEngine
import graft.functions.Dedup
import graft.workflow.Workflow
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File
import scala.collection.mutable

/** One benchmark process. A single thread runs a workload's queries
 * one after another (a closed loop with one client) and writes what it saw
 * as one JSON file; `run.py` turns that file into the reported metrics.
 *
 * Modes:
 *  - `run`: set up (session + one untimed warm-up pass, whose execution of
 *    each query computes its output fingerprint), run one more untimed pass
 *    so the JIT settles, then run timed passes (at least two) for at most
 *    `--seconds`. With `--trace 1` it also records spans
 *    and Spark-side counters.
 *  - `pin`: print each query's output fingerprint and oracle SQL, so the
 *    pins can be cross-checked against DuckDB.
 */
object Runner {

  final case class Query(name: String, module: String)

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The composed write steps of the dataflow workload: they are not
   * conformance queries, so their oracle SQL lives here. */
  private val composed: Map[String, ((SparkSession, String, String) => DataFrame, String)] = Map(
    "w01_save_load_agg" -> (((s: SparkSession, dir: String, work: String) => {
      val e = SparkGraftEngine(s)
      val path = s"$work/w01_orders"
      e.save(s.read.parquet(s"$dir/orders.parquet"), path, "parquet")
      e.aggregate(e.load(path, "parquet"), Seq("o_orderstatus"), Seq(
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"),
        count(lit(1)).as("n")))
    }, """SELECT o_orderstatus, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
         | CAST(COUNT(*) AS BIGINT) AS n FROM orders GROUP BY o_orderstatus""".stripMargin)),
    "w02_workflow_checkpoint" -> (((s: SparkSession, dir: String, work: String) => {
      val w = new Workflow(SparkGraftEngine(s), checkpointDir = s"$work/w02_checkpoints")
      w.load(s"$dir/orders.parquet")
        .filter(col("o_totalprice") > 100000)
        .checkpoint()
        .aggregate(Seq("o_orderpriority"), Seq(
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"),
          count(lit(1)).as("n")))
        .save(s"$work/w02_out", "parquet")
        .yield_("out")
      w.run()("out")
    }, """SELECT o_orderpriority, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
         | CAST(COUNT(*) AS BIGINT) AS n FROM orders WHERE o_totalprice > 100000
         | GROUP BY o_orderpriority""".stripMargin)))

  private def queryFn(name: String): (SparkSession, String, String) => DataFrame =
    composed.get(name).map(_._1).orElse(
      SparkEntry.queries.get(name).map(f => (s: SparkSession, dir: String, _: String) => f(s, dir)))
      .getOrElse(throw new IllegalArgumentException(s"unknown query: $name"))

  private def oracleSql(name: String): Option[String] =
    composed.get(name).map(_._2).orElse(SparkEntry.oracleSql.get(name))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val queries = opts("queries").split(",").toSeq.map { q =>
      val Array(n, m) = q.split(":"); Query(n, m)
    }
    queries.foreach(q => queryFn(q.name)) // fail before any work on a bad name
    val result = opts("mode") match {
      case "run" => new Run(opts, queries).apply()
      case "pin" => pin(opts, queries)
    }
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(opts("out")), result)
  }

  private def nproc: Int = Runtime.getRuntime.availableProcessors()

  private def newSession(): SparkSession = {
    val spark = GraftSession.builder(s"local[$nproc]", nproc).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def pin(opts: Map[String, String], queries: Seq[Query]): Map[String, Any] = {
    val spark = newSession()
    val work = opts("work")
    try queries.map { q =>
      val fp = Fingerprint.of(queryFn(q.name)(spark, opts("data"), work))
      clearState(spark, work)
      q.name -> Map("rows" -> fp.rows, "hash" -> fp.hash, "oracle_sql" -> oracleSql(q.name))
    }.toMap
    finally spark.stop()
  }

  /** State hygiene between passes, in this order: the dedup memo must be
   * cleared through its own API before a blanket unpersist, or it would
   * keep entries whose checkpoint blocks are gone. */
  private def clearState(spark: SparkSession, work: String): Unit = {
    Dedup.clearSignatureCache()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    deleteTree(new File(work))
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def loadPerCore: Double = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.split("\\s+").head.toDouble / nproc finally src.close()
  }

  /** Peak resident set of this JVM (in local mode it holds the whole Spark
   * application). */
  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(-1.0) finally src.close()
  }

  private final class Run(opts: Map[String, String], queries: Seq[Query]) {
    private val data = opts("data")
    private val workRoot = opts("work")
    private val seed = opts("seed").toLong
    private val seconds = opts("seconds").toDouble
    private val tracing = opts("trace") == "1"
    private val pins: Map[String, Map[String, Any]] =
      mapper.readValue(new File(opts("fingerprints")), classOf[Map[String, Map[String, Any]]])
    private val tracer = new Tracer
    private val executions = mutable.ArrayBuffer.empty[Map[String, Any]]
    private val verified = mutable.LinkedHashMap.empty[String, Map[String, Any]]

    private var spark: SparkSession = _
    private var listeners: Option[Listeners] = None

    def apply(): Map[String, Any] = {
      val loadStart = loadPerCore
      val runSpan = tracer.open("run", "run", None)
      val setupTimes = setup(runSpan)
      // a second untimed pass lets the JIT settle before timing starts
      runPass(-1, runSpan, verify = false)
      clearState(spark, workRoot)
      val passWalls = mutable.ArrayBuffer.empty[Double]
      val clock = System.nanoTime()
      // whole passes only, at least two so that pass_s is a median; no pass
      // starts that the last one says would end after the window
      def elapsed = (System.nanoTime() - clock) / 1e9
      while (passWalls.size < 2 || elapsed + passWalls.last <= seconds) {
        val t0 = System.nanoTime()
        runPass(passWalls.size + 1, runSpan, verify = false)
        passWalls += (System.nanoTime() - t0) / 1e9
        clearState(spark, workRoot)
      }
      val measured = elapsed
      val conf = spark.conf.getAll
      val loadEnd = loadPerCore
      spark.stop() // drains the listener bus, so every stage event is in
      tracer.close(runSpan)
      val spans = listeners.fold(Seq.empty[Map[String, Any]])(_.attach(tracer))
      Map(
        "workload_seed" -> seed, "nproc" -> nproc, "master" -> s"local[$nproc]",
        "spark_conf" -> conf, "loadavg_per_core_start" -> loadStart,
        "loadavg_per_core_end" -> loadEnd, "setup" -> setupTimes,
        "measured_s" -> measured, "pass_walls" -> passWalls, "verified" -> verified,
        "executions" -> executions,
        "peak_rss_mb" -> peakRssMb,
        "spans" -> (if (tracing) tracer.spans.map(_.toMap) ++ spans else Nil))
    }

    /** Session start plus one untimed warm-up pass. The warm-up executes
     * each query by computing its output fingerprint, so outputs are
     * checked once per run without executing every query a second time. */
    private def setup(runSpan: Span): Map[String, Double] = {
      val t0 = System.nanoTime()
      spark = newSession()
      if (tracing) listeners = Some(new Listeners(spark))
      val started = (System.nanoTime() - t0) / 1e9
      runPass(0, runSpan, verify = true)
      val warm = (System.nanoTime() - t0) / 1e9 - started
      val end = System.currentTimeMillis().toDouble
      clearState(spark, workRoot)
      Map("session_start_s" -> started, "warmup_s" -> warm, "setup_end_epoch_ms" -> end)
    }

    /** One pass over the workload in the seed's order: the warm-up pass
     * (pass 0) verifies outputs, the others write to the noop sink; only
     * passes numbered from 1 are timed. The caller clears state afterwards. */
    private def runPass(pass: Int, runSpan: Span, verify: Boolean): Unit = {
      val work = s"$workRoot/pass_$pass"
      val passSpan = tracer.open("pass", s"pass $pass", Some(runSpan))
      passSpan.attrs("timed") = pass > 0
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(queries)
      order.foreach(runQuery(_, pass, work, passSpan, verify))
      tracer.close(passSpan)
    }

    private def runQuery(q: Query, pass: Int, work: String, passSpan: Span,
        verify: Boolean): Unit = {
      val sc = spark.sparkContext
      val qSpan = tracer.open("query", q.name, Some(passSpan))
      qSpan.attrs("module") = q.module
      if (tracing) sc.setJobGroup(qSpan.id.toString, q.name, interruptOnCancel = false)
      var failed: Option[String] = None
      def phase[T](kind: String)(body: => T): (Option[T], Double) = {
        val s = tracer.open(kind, q.name, Some(qSpan))
        val t0 = System.nanoTime()
        val r = try Some(body) catch { case e: Throwable =>
          System.err.println(s"perfbench: ${q.name} $kind failed: $e")
          None
        }
        val dt = (System.nanoTime() - t0) / 1e9
        tracer.close(s)
        (r, dt)
      }
      val (df, buildS) = phase("build")(queryFn(q.name)(spark, data, work))
      var planS, execS = 0.0
      df match {
        case None => failed = Some("build")
        case Some(d) =>
          val (planned, p) = phase("plan")(d.queryExecution.executedPlan)
          planS = p
          if (tracing) d.queryExecution.tracker.phases.foreach { case (name, ph) =>
            qSpan.attrs(s"df_${name}_ms") = ph.durationMs
          }
          if (planned.isEmpty) failed = Some("exec")
          else if (!verify) {
            val (ran, e) = phase("exec")(d.write.format("noop").mode("overwrite").save())
            execS = e
            if (ran.isEmpty) failed = Some("exec")
            // block-manager state left behind, read while the frame is alive
            if (tracing && pass > 0) {
              qSpan.attrs("persisted_rdds") = sc.getPersistentRDDs.size
              qSpan.attrs("storage_mb") = sc.getExecutorMemoryStatus.values
                .map { case (max, free) => max - free }.sum / 1048576.0
            }
          } else {
            val (fp, _) = phase("verify")(Fingerprint.of(d))
            val pin = pins.get(q.name)
            val ok = fp.exists(f => pin.exists(p =>
              p("rows").toString.toLong == f.rows && p("hash") == f.hash))
            verified(q.name) = Map("match" -> ok,
              "rows" -> fp.map(_.rows), "hash" -> fp.map(_.hash),
              "pinned_rows" -> pin.map(_("rows")), "pinned_hash" -> pin.map(_("hash")))
          }
      }
      if (tracing) sc.clearJobGroup()
      tracer.close(qSpan)
      if (pass > 0) executions += Map("pass" -> pass, "query" -> q.name, "module" -> q.module,
        "build_s" -> buildS, "plan_s" -> planS, "exec_s" -> execS,
        "failed" -> failed.orNull)
    }
  }
}
