package graft.workflow

import graft.{Materialize, PartitionSpec}
import graft.engine.GraftEngine
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import scala.collection.mutable
import Workflow._

/**
 * Lazy workflow DAG — the reference's `FugueWorkflow`
 * (/root/reference/fugue/workflow/workflow.py:1499, tasks _tasks.py:32)
 * without the adagio generality. The one executor behind both front ends:
 * this Scala API and the SQL dialect, which compiles to these nodes.
 *
 *  - every node has a deterministic UUID derived from its op name, params
 *    and dependency UUIDs (content hashing, stable across JVM runs — the
 *    reference's `to_uuid` discipline, _tasks.py:85-98);
 *  - identical sub-DAGs compute once per run (result memoized by UUID);
 *  - `run()` resolves nodes in build order, so side effects (save, output,
 *    file/table yields) keep that order; the nodes upstream of a
 *    deterministic checkpoint resolve only if it must be computed, so a
 *    reused one skips them, side effects included;
 *  - dataframes consumed by >1 downstream node are auto-persisted
 *    (reference conf fugue.workflow.auto_persist);
 *  - checkpoints: weak = persist; strong = parquet round-trip (breaks
 *    lineage) under the run's `run_<rand>/` dir, deleted when the JVM
 *    exits (Hadoop `deleteOnExit`; the reference's per-execution temp
 *    path); deterministic = parquet reused across runs
 *    (_checkpoint.py:15-175), kept like `yield_<name>/` file yields. Its
 *    key is the node UUID plus, per leaf: nothing for `create`,
 *    [[Materialize.inputFingerprint]] for `load`, [[Materialize.contentKey]]
 *    for any other leaf, which makes the checkpoint a temporary strong one
 *    when it has none (in-memory rows). All-`create` DAGs keep
 *    `<checkpointDir>/<uuid>`;
 *  - `yield_` names a node's result for retrieval after `run()`.
 *
 * Spark note: "lazy DAG + memoize + persist" is the right granularity on
 * Spark — per-op physical planning stays Catalyst's job; the DAG layer only
 * decides *materialization* boundaries, which Catalyst cannot see across.
 */
final class Workflow(
    val engine: GraftEngine,
    checkpointDir: String = Materialize.checkpointRoot) {

  private val nodes = mutable.ArrayBuffer.empty[Node]
  private val yields = mutable.LinkedHashMap.empty[String, Node]
  private var resolver: Node => DataFrame =
    _ => throw new IllegalStateException("run() the workflow first")
  // (key, label) of the front-end statement being built; see [[statement]]
  private var scope: (Seq[String], String) = (Nil, "")

  final class Node private[Workflow] (
      val op: String,
      val params: Seq[String],
      val deps: Seq[Node],
      compute: Seq[DataFrame] => DataFrame) {
    private[Workflow] var mat: Mode = NoMat
    private[Workflow] var broadcastHint: Boolean = false
    private val (key, label) = scope
    nodes += this

    /** Content hash over (op, params, statement key, dep uuids). NOTE: the
     * compute closure itself is not hashable - `op` + `params` MUST
     * uniquely identify the computation (same discipline as the reference,
     * where task UUIDs hash the extension name and params,
     * _tasks.py:85-98); a deterministic checkpoint keyed on a reused op
     * name with a changed function body would serve stale results. */
    val uuid: String = Materialize.digest(op +: (params ++ key ++ deps.map(_.uuid)))

    private[Workflow] def execute(resolved: Seq[DataFrame]): DataFrame =
      try compute(resolved) catch {
        case e: IllegalArgumentException if label.nonEmpty =>
          throw new IllegalArgumentException(s"${e.getMessage} $label", e)
      }

    /** This node's dataframe in the last `run()`. */
    def result: DataFrame = resolver(this)

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

    /** Weak checkpoint, lazy unless `eager` (`weak_checkpoint(lazy)`). */
    def persist(eager: Boolean = false): Node = { mat = Weak(eager); this }
    def checkpoint(partitionBy: Seq[String] = Nil, singleFile: Boolean = false): Node = {
      mat = Strong(partitionBy, singleFile); this
    }
    def deterministicCheckpoint(): Node = { mat = Deterministic; this }
    def broadcast(): Node = { broadcastHint = true; this }

    /** Name this node's result for `run()` (the reference's
     * `yield_dataframe_as`); `asLocal` first materializes it in this
     * session ([[Materialize.eager]]), cutting its upstream lineage. */
    def yield_(name: String, asLocal: Boolean = false): Node =
      if (asLocal) yieldVia("local", name)(Materialize.eager) else { yields(name) = this; this }

    /** Yield through parquet under `yield_<name>/<rand>`, deleting earlier
     * runs' subdirectories first: a stale handle then fails on missing
     * files instead of reading rows a later run overwrote. */
    def yieldFileAs(name: String): Node = yieldVia("file", name) { d =>
      val base = new Path(s"$checkpointDir/yield_$name")
      val fs = base.getFileSystem(engine.spark.sparkContext.hadoopConfiguration)
      if (fs.exists(base)) fs.listStatus(base).foreach(st => fs.delete(st.getPath, true))
      Materialize.strong(engine, d, s"$base/${Workflow.rand()}")
    }

    /** Yield as the session catalog table `name`. */
    def yieldTableAs(name: String): Node =
      yieldVia("table", name) { d => engine.saveTable(d, name); engine.loadTable(name) }

    private def yieldVia(kind: String, name: String)(f: DataFrame => DataFrame): Node = {
      yields(name) = transform(s"yield_$kind", Seq(name))(f)
      this
    }

    def save(path: String, format: String = "", mode: String = "overwrite",
        partitionBy: Seq[String] = Nil, singleFile: Boolean = false,
        options: Map[String, String] = Map.empty): Node = {
      val params = Seq(path, format, mode, singleFile.toString, partitionBy.mkString(","),
        Workflow.render(options))
      new Node("save", params, Seq(this), { dfs =>
        engine.save(dfs.head, path, format, mode, partitionBy, singleFile, options); dfs.head
      })
    }

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

  /** Nodes built in `body` belong to one front-end statement: `key` joins
   * their UUIDs, so identical impure statements (a LOAD after a SAVE to the
   * same path) are not memoized into one, and an IllegalArgumentException
   * raised while one runs gets `label` appended. */
  private[graft] def statement[T](key: Seq[String], label: String)(body: => T): T = {
    val outer = scope
    scope = (key, label)
    try body finally scope = outer
  }

  /** Driver-side step over any number of inputs (the reference's
   * `process`; with none it creates). `name` must identify `fn`. */
  def process(deps: Seq[Node], name: String)(fn: Seq[DataFrame] => DataFrame): Node =
    new Node(name, Nil, deps, fn)

  // ---- output nodes (reference outputters.py:22,37) ---------------------
  /** Sink node running a side-effecting function over its inputs; passes
   * the first input through so it can be chained/yielded. */
  def output(deps: Seq[Node], op: String)(fn: Seq[DataFrame] => Unit): Node =
    process(deps, s"output:$op") { dfs => fn(dfs); dfs.head }

  /** Workflow-level equality assertion (the reference's assert_eq
   * outputter): fails `run()` with AssertionError on mismatch. */
  def assertEq(a: Node, b: Node, checkSchema: Boolean = true): Node =
    output(Seq(a, b), "assert_eq")(dfs =>
      graft.api.DfUtils.assertDfEq(dfs(0), dfs(1), checkSchema = checkSchema))

  /** Print `title`, then each input's first `n` rows [and row count]. */
  def show(dfs: Seq[Node], n: Int = 10, withCount: Boolean = false, title: String = ""): Node =
    output(dfs, s"show:$n:$withCount:$title") { ds =>
      if (title.nonEmpty) println(title)
      ds.foreach { d =>
        d.show(n, truncate = false)
        if (withCount) println(s"Total count: ${d.count()}")
      }
    }

  /** Data-quality gate node: [[graft.functions.Checks.enforce]] over the
   * input — `run()` fails with the named constraints if any rule is
   * violated, and the frame passes through unchanged otherwise, so a
   * checkpointed pipeline cannot silently persist a corrupt stage. */
  def check(a: Node, checks: Seq[graft.functions.Checks.Check]): Node =
    output(Seq(a), "quality_check")(dfs =>
      graft.functions.Checks.enforce(dfs.head, checks))

  // ---- creation nodes ---------------------------------------------------
  def load(path: String, format: String = "", columns: Seq[String] = Nil,
      options: Map[String, String] = Map.empty): Node =
    new Node("load", Seq(path, format, Workflow.render(options)) ++ columns, Nil,
      _ => engine.load(path, format, columns, options))

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
  /** Run the DAG: compute every node once, in build order, honoring
   * checkpoints and auto-persist. Returns yielded results. */
  def run(): Map[String, DataFrame] = {
    val memo = mutable.HashMap.empty[String, DataFrame]
    // a node's frame before its checkpoint or persist, computed once
    val computed = mutable.HashMap.empty[String, DataFrame]
    // out-degree for auto-persist
    val outDeg = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    nodes.foreach(_.deps.foreach(d => outDeg(d.uuid) += 1))

    val runDir = new Path(checkpointDir, s"run_${Workflow.rand()}")
    def temporary(n: Node, df: DataFrame, by: Seq[String] = Nil, single: Boolean = false) = {
      val out = Materialize.strong(engine, df, s"$runDir/${n.uuid}", by, single)
      val fs = runDir.getFileSystem(engine.spark.sparkContext.hadoopConfiguration)
      fs.deleteOnExit(fs.makeQualified(runDir))
      out
    }

    def compute(n: Node): DataFrame = computed.getOrElseUpdate(n.uuid, n.execute(n.deps.map(resolve)))

    def deterministicKey(n: Node): Option[String] = {
      val sub = mutable.LinkedHashMap.empty[String, Node]
      def walk(x: Node): Unit = if (!sub.contains(x.uuid)) { sub(x.uuid) = x; x.deps.foreach(walk) }
      walk(n)
      // leaves are keyed on their frames before any checkpoint: a strong
      // checkpoint's reload reads a fresh run dir, and a deterministic
      // leaf would key on itself
      val keys = sub.values.toSeq.filter(l => l.deps.isEmpty && l.op != "create").map { l =>
        if (l.op == "load") Some(Materialize.inputFingerprint(compute(l)).toString)
        else Materialize.contentKey(compute(l))
      }
      if (keys.isEmpty) Some(n.uuid)
      else Option.when(keys.forall(_.isDefined))(Materialize.digest(n.uuid +: keys.flatten))
    }

    def resolve(n: Node): DataFrame = memo.getOrElseUpdate(n.uuid, {
      val out = n.mat match {
        case Weak(eager) => engine.persist(compute(n), lazyPersist = !eager)
        case Strong(by, single) => temporary(n, compute(n), by, single)
        // a reused checkpoint does not compute the node or its inputs
        case Deterministic => deterministicKey(n) match {
          case Some(key) => Materialize.deterministic(engine, compute(n), s"$checkpointDir/$key")
          case None => temporary(n, compute(n))
        }
        case NoMat =>
          val o = compute(n)
          if (outDeg(n.uuid) > 1) engine.persist(o) else o
      }
      // a reused deterministic checkpoint must not silently drop the
      // user's broadcast hint either
      if (n.broadcastHint) engine.broadcast(out) else out
    })

    val upstreamOfDeterministic = mutable.HashSet.empty[String]
    def defer(n: Node): Unit = n.deps.foreach(d => if (upstreamOfDeterministic.add(d.uuid)) defer(d))
    nodes.filter(_.mat == Deterministic).foreach(defer)
    nodes.filterNot(n => upstreamOfDeterministic(n.uuid)).foreach(resolve)
    resolver = resolve
    yields.map { case (name, node) => name -> resolve(node) }.toMap
  }
}

object Workflow {
  private[workflow] sealed trait Mode
  private[workflow] case object NoMat extends Mode
  private[workflow] final case class Weak(eager: Boolean) extends Mode
  private[workflow] final case class Strong(partitionBy: Seq[String], singleFile: Boolean) extends Mode
  private[workflow] case object Deterministic extends Mode

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

  private def render(options: Map[String, String]): String = options.toSeq.sorted.mkString(",")

  private def rand(): String = java.util.UUID.randomUUID().toString.take(8)
}
