package graft.workflow

import graft.PartitionSpec
import graft.engine.GraftEngine
import org.apache.spark.sql.{Column, DataFrame}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import scala.collection.mutable

/**
 * Lazy workflow DAG — the reference's `FugueWorkflow`
 * (/root/reference/fugue/workflow/workflow.py:1499, tasks _tasks.py:32)
 * without the adagio generality:
 *
 *  - every node has a deterministic UUID derived from its op name, params
 *    and dependency UUIDs (content hashing, stable across JVM runs — the
 *    reference's `to_uuid` discipline, _tasks.py:85-98);
 *  - identical sub-DAGs compute once per run (result memoized by UUID);
 *  - dataframes consumed by >1 downstream node are auto-persisted
 *    (reference conf fugue.workflow.auto_persist);
 *  - checkpoints: weak = persist; strong = parquet round-trip (breaks
 *    lineage); deterministic = content-addressed parquet keyed by task
 *    UUID, reused across runs (_checkpoint.py:15-175);
 *  - `yield_` names a node's result for retrieval after `run()`.
 *
 * Spark note: "lazy DAG + memoize + persist" is the right granularity on
 * Spark — per-op physical planning stays Catalyst's job; the DAG layer only
 * decides *materialization* boundaries, which Catalyst cannot see across.
 */
final class Workflow(
    val engine: GraftEngine,
    checkpointDir: String = graft.Materialize.checkpointRoot,
    autoPersist: Boolean = true) {

  private val nodes = mutable.ArrayBuffer.empty[Node]
  private val yields = mutable.LinkedHashMap.empty[String, Node]

  sealed trait Mode
  case object NoMat extends Mode
  case object WeakCheckpoint extends Mode
  case object StrongCheckpoint extends Mode
  case object DeterministicCheckpoint extends Mode

  final class Node private[Workflow] (
      val op: String,
      val params: Seq[String],
      val deps: Seq[Node],
      compute: Seq[DataFrame] => DataFrame) {
    private[Workflow] var mat: Mode = NoMat
    private[Workflow] var broadcastHint: Boolean = false
    nodes += this

    /** Content hash over (op, params, dep uuids), each part length-prefixed
     * so no separator collisions are possible. NOTE: the compute closure
     * itself is not hashable - `op` + `params` MUST uniquely identify the
     * computation (same discipline as the reference, where task UUIDs hash
     * the extension name and params, _tasks.py:85-98); a deterministic
     * checkpoint keyed on a reused op name with a changed function body
     * would serve stale results. */
    val uuid: String = {
      val md = MessageDigest.getInstance("SHA-256")
      def part(x: String): Unit =
        md.update((x.length.toString + ":" + x).getBytes(StandardCharsets.UTF_8))
      part(op)
      params.foreach(part)
      deps.foreach(d => part(d.uuid))
      md.digest().take(16).map(b => f"$b%02x").mkString
    }

    private[Workflow] def execute(resolved: Seq[DataFrame]): DataFrame =
      compute(resolved)

    // ---- fluent graph building ---------------------------------------
    def transform(name: String, params: Seq[String] = Nil)(
        f: DataFrame => DataFrame): Node =
      new Node(name, params, Seq(this), dfs => f(dfs.head))

    def join(other: Node, how: String): Node =
      new Node(s"join:$how", Nil, Seq(this, other),
        dfs => engine.join(dfs(0), dfs(1), how))

    def filter(cond: Column): Node =
      transform("filter", Seq(Workflow.exprKey(cond)))(engine.filter(_, cond))

    def select(cols: Column*): Node =
      transform("select", cols.map(Workflow.exprKey))(engine.select(_, cols))

    def repartition(spec: PartitionSpec): Node =
      transform("repartition", Seq(spec.toString))(engine.repartition(_, spec))

    // ---- full operator vocabulary on nodes (reference WorkflowDataFrame,
    // workflow.py:311-1210: every engine op is also a DAG node) ----------
    def union(other: Node, distinct: Boolean = true): Node =
      new Node(s"union:$distinct", Nil, Seq(this, other),
        dfs => engine.union(dfs(0), dfs(1), distinct))
    def subtract(other: Node, distinct: Boolean = true): Node =
      new Node(s"subtract:$distinct", Nil, Seq(this, other),
        dfs => engine.subtract(dfs(0), dfs(1), distinct))
    def intersect(other: Node, distinct: Boolean = true): Node =
      new Node(s"intersect:$distinct", Nil, Seq(this, other),
        dfs => engine.intersect(dfs(0), dfs(1), distinct))
    def distinct(): Node =
      transform("distinct")(engine.distinct)
    def dropna(how: String = "any", thresh: Option[Int] = None,
        subset: Seq[String] = Nil): Node =
      transform("dropna", Seq(how, thresh.toString) ++ subset)(
        engine.dropna(_, how, thresh, subset))
    def fillna(value: Any, subset: Seq[String] = Nil): Node =
      transform("fillna", Seq(String.valueOf(value)) ++ subset)(
        engine.fillna(_, value, subset))
    def sample(n: Option[Long] = None, frac: Option[Double] = None,
        replace: Boolean = false, seed: Option[Long] = None): Node =
      transform("sample", Seq(n.toString, frac.toString, replace.toString, seed.toString))(
        engine.sample(_, n, frac, replace, seed))
    def take(n: Int, spec: PartitionSpec = PartitionSpec.empty,
        naPosition: String = "last"): Node =
      transform("take", Seq(n.toString, spec.toString, naPosition))(
        engine.take(_, n, spec, naPosition))
    def rename(mapping: Map[String, String]): Node =
      transform("rename", mapping.toSeq.sorted.map(kv => s"${kv._1}:${kv._2}"))(
        engine.rename(_, mapping))
    def alterColumns(schemaExpr: String): Node =
      transform("alter", Seq(schemaExpr))(engine.alterColumns(_, schemaExpr))
    def dropColumns(cols: Seq[String], ifExists: Boolean = false): Node =
      transform("dropcols", cols :+ ifExists.toString)(
        engine.dropColumns(_, cols, ifExists))
    def assign(cols: Map[String, Column]): Node =
      transform("assign", cols.toSeq.sortBy(_._1)
        .map(kv => s"${kv._1}=${Workflow.exprKey(kv._2)}"))(
        engine.assign(_, cols))
    def aggregate(partitionBy: Seq[String], aggs: Seq[Column]): Node =
      // group-count prefix keeps (by, aggs) splits from colliding in the
      // flat param list ((a,b),() vs (a),(b) must hash differently)
      transform("aggregate", s"by:${partitionBy.length}" +:
        (partitionBy ++ aggs.map(Workflow.exprKey)))(
        engine.aggregate(_, partitionBy, aggs))

    def persist(): Node = { mat = WeakCheckpoint; this }
    def checkpoint(): Node = { mat = StrongCheckpoint; this }
    def deterministicCheckpoint(): Node = { mat = DeterministicCheckpoint; this }
    def broadcast(): Node = { broadcastHint = true; this }
    def yield_(name: String): Node = { yields(name) = this; this }

    def save(path: String, format: String = ""): Node =
      new Node("save", Seq(path, format), Seq(this), { dfs =>
        engine.save(dfs.head, path, format); dfs.head
      })

    /** ZIP with another node (reference workflow.zip, workflow.py:1211):
     * key cols + per-side struct arrays, consumable by [[cotransform]]. */
    def zip(other: Node, keys: Seq[String], how: String = "inner"): Node =
      new Node(s"zip:$how", keys, Seq(this, other),
        dfs => graft.transform.Transform.zipFrames(Seq(dfs(0), dfs(1)), keys, how))

    /** Apply a cotransformer to a zipped node (one call per key; side rows
     * arrive as keys ++ payload, matching the coMap contract). `op` must
     * uniquely identify the function for deterministic UUIDs. */
    def cotransform(op: String,
        outputSchema: org.apache.spark.sql.types.StructType)(
        f: (Seq[Any], Iterator[org.apache.spark.sql.Row],
          Iterator[org.apache.spark.sql.Row]) => Iterator[org.apache.spark.sql.Row]): Node =
      transform(s"cotransform:$op", Seq(outputSchema.simpleString))(
        d => graft.transform.Transform.coMapZipped(d, outputSchema)(f))
  }

  // ---- output nodes (reference outputters.py:22,37) ---------------------
  /** Sink node running a side-effecting function over its inputs; passes
   * the first input through so it can be chained/yielded. */
  def output(deps: Seq[Node], op: String)(fn: Seq[DataFrame] => Unit): Node =
    new Node(s"output:$op", Nil, deps, dfs => { fn(dfs); dfs.head })

  /** Workflow-level equality assertion (the reference's assert_eq
   * outputter): fails `run()` with AssertionError on mismatch. */
  def assertEq(a: Node, b: Node, checkSchema: Boolean = true): Node =
    output(Seq(a, b), "assert_eq")(dfs =>
      graft.api.DfUtils.assertDfEq(dfs(0), dfs(1), checkSchema = checkSchema))

  def show(a: Node, n: Int = 10): Node =
    output(Seq(a), "show")(dfs => dfs.head.show(n, truncate = false))

  /** Data-quality gate node: [[graft.functions.Checks.enforce]] over the
   * input — `run()` fails with the named constraints if any rule is
   * violated, and the frame passes through unchanged otherwise, so a
   * checkpointed pipeline cannot silently persist a corrupt stage. */
  def check(a: Node, checks: Seq[graft.functions.Checks.Check]): Node =
    output(Seq(a), "quality_check")(dfs =>
      graft.functions.Checks.enforce(dfs.head, checks))

  // ---- creation nodes ---------------------------------------------------
  def load(path: String, format: String = "", columns: Seq[String] = Nil): Node =
    new Node("load", Seq(path, format) ++ columns, Nil,
      _ => engine.load(path, format, columns))

  def df(d: DataFrame, id: String): Node =
    new Node("df", Seq(id), Nil, _ => d)

  def create(rows: Seq[Seq[Any]], schema: String): Node =
    new Node("create", Seq(schema, renderRows(rows)), Nil, _ => engine.toDF(rows, schema))

  /** Stable, content-based rendering of literal rows for the task UUID —
   * `rows.toString` would render arrays by JVM identity (`[B@1a2b3c`),
   * giving a deterministic checkpoint a fresh uuid every run. */
  private def renderRows(rows: Seq[Seq[Any]]): String =
    rows.map(_.map {
      case null => "null"
      case b: Array[Byte] => "0x" + b.map("%02x".format(_)).mkString
      case a: Array[_] => a.toSeq.toString
      case v => v.toString
    }.mkString("(", ",", ")")).mkString(";")

  // ---- execution --------------------------------------------------------
  /** Run the DAG: compute every sink (yielded, saved, or leaf) node once,
   * honoring checkpoints and auto-persist. Returns yielded results. */
  def run(): Map[String, DataFrame] = {
    val memo = mutable.HashMap.empty[String, DataFrame]
    // out-degree for auto-persist
    val outDeg = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    nodes.foreach(_.deps.foreach(d => outDeg(d.uuid) += 1))

    def resolve(n: Node): DataFrame = memo.getOrElseUpdate(n.uuid, {
      def compute() = n.execute(n.deps.map(resolve))
      val out = n.mat match {
        case WeakCheckpoint => engine.persist(compute())
        case StrongCheckpoint => graft.Materialize.strong(engine, compute(),
          s"$checkpointDir/run_${java.util.UUID.randomUUID().toString.take(8)}_${n.uuid}")
        // a reused checkpoint does not compute the node or its inputs
        case DeterministicCheckpoint =>
          graft.Materialize.deterministic(engine, compute(), s"$checkpointDir/${n.uuid}")
        case NoMat =>
          val o = compute()
          if (autoPersist && outDeg(n.uuid) > 1) engine.persist(o) else o
      }
      // a reused deterministic checkpoint must not silently drop the
      // user's broadcast hint either
      if (n.broadcastHint) engine.broadcast(out) else out
    })

    val sinks = nodes.filter(n => outDeg(n.uuid) == 0)
    sinks.foreach(resolve)
    yields.map { case (name, node) => name -> memo(node.uuid) }.toMap
  }
}

object Workflow {
  /** Structural identity of a Column for task UUIDs: the canonicalized
   * Catalyst tree with attribute exprIds normalized to 0 (they are
   * session-global counters, different every run) so UUIDs are stable
   * across JVM runs, as deterministic checkpoints require. Only
   * AttributeReference ids are touched — a string literal containing
   * `#123` is NOT altered (a blanket regex strip would collapse distinct
   * literals to one UUID). */
  private[workflow] def exprKey(c: Column): String =
    try {
      import org.apache.spark.sql.catalyst.expressions.{AttributeReference, ExprId}
      org.apache.spark.sql.graftshim.ColumnBridge.expression(c).canonicalized
        .transform { case a: AttributeReference =>
          a.copy()(exprId = ExprId(0), qualifier = Nil)
        }.treeString
    } catch { case _: Throwable => c.toString }
}
