package graft

import graft.engine.GraftEngine
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import scala.collection.mutable

/**
 * The one way the library materializes an intermediate result: [[eager]]
 * in-session checkpoints for iterative and multi-scan operators, and
 * fugue's [[strong]] and [[deterministic]] parquet checkpoints for
 * Workflow (and through it the SQL dialect).
 *
 * Release contract: a frame passed to [[release]], or materialized
 * through a [[Scope]] whose block has exited, is UNUSABLE. Local
 * checkpoints truncate lineage, so once their blocks are freed the rows
 * cannot be recomputed; an action on such a frame fails.
 */
object Materialize {

  /** Default root of Workflow's parquet checkpoints. */
  val checkpointRoot = "/tmp/graft_checkpoints"

  /** Plan-inspection conf (`graft.Plans` sets it); see [[terminal]]. */
  val DeferConf = "graft.explain.deferCheckpoint"

  /** Materialize now, in this session's block store, and cut lineage.
   * Not `.persist()`: the columnar cache writes array columns
   * element-wise (about 20x slower) where a local checkpoint serializes
   * rows. The tradeoff: a lost block is not recomputed from lineage.
   * The checkpoint RDD's creation site (shown in plans and the UI) is the
   * caller's first frame outside this object, not this line. */
  def eager(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val prior = sc.getLocalProperty("callSite.short") // Spark's CallSite.SHORT_FORM
    Thread.currentThread.getStackTrace.iterator
      .dropWhile(!_.getClassName.startsWith("graft.Materialize"))
      .find(!_.getClassName.startsWith("graft.Materialize"))
      .foreach(f => sc.setCallSite(s"localCheckpoint at ${f.getFileName}:${f.getLineNumber}"))
    try df.localCheckpoint(true) finally sc.setLocalProperty("callSite.short", prior)
  }

  /** Free the blocks of an [[eager]] frame now instead of when the
   * ContextCleaner notices the frame is unreachable. The frame is
   * unusable afterwards. No-op for any other plan. */
  def release(df: DataFrame): Unit = checkpointed(df).foreach(_.unpersist(blocking = false))

  /** True for an [[eager]] frame whose blocks are cached on this JVM
   * (`getRDDStorageInfo` lists persisted RDDs only). */
  def isEager(df: DataFrame): Boolean = checkpointed(df).exists(rdd =>
    df.sparkSession.sparkContext.getRDDStorageInfo
      .exists(info => info.id == rdd.id && info.numCachedPartitions > 0))

  private def checkpointed(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical match {
      case lr: LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** Frames materialized through a scope are released when its block
   * exits, whether it returns or throws — except those the returned
   * frame still reads. */
  final class Scope private[Materialize] {
    private val live = mutable.ArrayBuffer.empty[DataFrame]
    def eager(df: DataFrame): DataFrame = { val m = Materialize.eager(df); live += m; m }
    /** Free a frame before the block exits (a loop's previous iteration). */
    def release(df: DataFrame): Unit = { live -= df; Materialize.release(df) }
    private[Materialize] def close(keep: Set[Int]): Unit =
      live.filterNot(checkpointed(_).exists(rdd => keep(rdd.id))).foreach(Materialize.release)
  }

  /** Run `body` with a fresh [[Scope]]. */
  def scoped(body: Scope => DataFrame): DataFrame = {
    val s = new Scope
    val out = try body(s) catch { case t: Throwable => s.close(Set.empty); throw t }
    s.close(out.queryExecution.logical.collect { case lr: LogicalRDD => lr.rdd.id }.toSet)
    out
  }

  /** The last step of an operator whose result is small next to the
   * frames it scanned: materialize it so a surrounding [[scoped]] block
   * frees those frames. Under [[DeferConf]] the result is returned
   * un-materialized instead, so its full physical plan stays
   * inspectable (`.explain`, PlanLint.flags) rather than collapsing to a
   * `Scan ExistingRDD` — at the cost of keeping the scanned frames alive.
   * Plan-inspection harnesses only; never set it in a pipeline. */
  def terminal(result: DataFrame): DataFrame =
    if (result.sparkSession.conf.getOption(DeferConf).contains("true")) result
    else eager(result)

  /** Strong checkpoint: write `df` as parquet to `path`, read it back. */
  def strong(engine: GraftEngine, df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil, singleFile: Boolean = false): DataFrame = {
    engine.save(df, path, "parquet", partitionBy = partitionBy, singleFile = singleFile)
    engine.load(path, "parquet")
  }

  /** Deterministic checkpoint: read `path` when an earlier write to it
   * completed (`_SUCCESS` present); otherwise compute `df` and overwrite
   * `path` first. A directory without `_SUCCESS` is a crashed partial
   * write and is never served. */
  def deterministic(engine: GraftEngine, df: => DataFrame, path: String): DataFrame = {
    val ok = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    if (!ok.getFileSystem(engine.spark.sparkContext.hadoopConfiguration).exists(ok))
      engine.save(df, path, "parquet")
    engine.load(path, "parquet")
  }

  /** Content key of the rows `df` reads, for a [[deterministic]]
   * checkpoint: [[digest]] of the analyzed canonical plan and
   * [[inputFingerprint]] (the canonical plan names a file scan by its
   * format, not its paths). None when a leaf of the plan is not a file
   * scan (an RDD or in-memory rows): nothing identifies the rows it
   * reads, so no earlier result may be served for it. */
  def contentKey(df: DataFrame): Option[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val plan = df.queryExecution.analyzed
    val fileBacked = plan.collectLeaves().forall {
      case lr: LogicalRelation => lr.relation.isInstanceOf[HadoopFsRelation]
      case _ => false
    }
    Option.when(fileBacked)(digest(Seq(plan.canonicalized.toString, inputFingerprint(df).toString)))
  }

  /** SHA-256 over length-prefixed parts (no separator collisions), as 32
   * hex chars: Workflow node UUIDs and checkpoint keys. */
  private[graft] def digest(parts: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update((p.length.toString + ":" + p).getBytes("UTF-8")))
    md.digest().take(16).map(b => f"$b%02x").mkString
  }

  /** Driver-cheap fingerprint of a frame's file inputs: count + a bounded
   * sample of (path, length, modificationTime). Non-file plans (in-memory
   * test frames) hash to 0 and rely on the canonicalized plan alone. The
   * files come from the analyzed plan, not `Dataset.inputFiles`: that
   * reads the optimized plan, where a cached frame is an in-memory scan
   * with no files. */
  private[graft] def inputFingerprint(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.FileRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val files = df.queryExecution.analyzed.collectWithSubqueries {
      case lr: LogicalRelation => lr.relation match {
        case f: FileRelation => f.inputFiles.toSeq
        case _ => Nil
      }
    }.flatten.distinct.toArray
    if (files.isEmpty) return 0L
    val sorted = files.sorted
    // even spread INCLUDING the last file — integer-stride sampling never
    // reaches the tail, so a rewrite of an unsampled trailing file would
    // go undetected (exactly the staleness this fingerprint guards)
    val sample =
      if (sorted.length <= 64) sorted.toSeq
      else (0 until 64).map(i => sorted(((sorted.length - 1).toLong * i / 63).toInt))
    val conf = df.sparkSession.sessionState.newHadoopConf()
    var h = 31L * 17 + sorted.length
    sample.foreach { f =>
      h = 31 * h + f.##
      try {
        val p = new org.apache.hadoop.fs.Path(f)
        val st = p.getFileSystem(conf).getFileStatus(p)
        h = 31 * (31 * h + st.getLen) + st.getModificationTime
      } catch { case _: java.io.IOException => () }
    }
    h
  }
}
