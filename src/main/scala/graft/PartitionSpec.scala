package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Partitioning specification — the reference's `PartitionSpec`
 * (/root/reference/fugue/collections/partition.py:79-160) re-expressed for
 * Spark.
 *
 *  - `algo`: how rows are distributed into physical partitions:
 *    - `default`/`hash`: hash-partition by `by` columns (Spark
 *      `repartition`) — co-locates logical partitions, lets Catalyst reuse
 *      the exchange for downstream joins/aggs on the same keys;
 *    - `rand`: random uniform redistribution (round-robin);
 *    - `even`: exact balanced distribution (extra pass; see
 *      [[graft.operators.Repartitioner.even]]);
 *    - `coarse`: physical-only repartition, no per-key sub-grouping.
 *  - `num`: target partition count, either a literal or an expression over
 *    `ROWCOUNT` (row count of the input — forces a count) and
 *    `CONCURRENCY` (current cluster parallelism), e.g. `"ROWCOUNT/4"`.
 *  - `by`: logical partition keys.
 *  - `presort`: ordering within each logical partition, e.g.
 *    `Seq("ts" -> false)` = ts DESC.
 */
final case class PartitionSpec(
    algo: String = "default",
    num: String = "0",
    by: Seq[String] = Nil,
    presort: Seq[(String, Boolean)] = Nil) {

  def isEmpty: Boolean =
    algo == "default" && num == "0" && by.isEmpty && presort.isEmpty

  /** Presort as Spark sort columns, always with explicit null placement:
   * nulls LAST in BOTH directions (pandas `na_position="last"` convention
   * of the reference; execution_engine.py:655-665). `Transform.coMap`
   * sorts its cogroup with these columns and `take` its rows;
   * `Transform.sortArr` is the one copy of the order for ZIP's
   * materialized arrays. */
  def presortCols: Seq[Column] =
    presort.map { case (c, asc) => if (asc) col(c).asc_nulls_last else col(c).desc_nulls_last }

  /** The same order with nulls FIRST in both directions: `take`'s
   * `naPosition = "first"`. */
  def presortColsNullsFirst: Seq[Column] =
    presort.map { case (c, asc) => if (asc) col(c).asc_nulls_first else col(c).desc_nulls_first }

  /** Evaluate `num` against a row count supplier and parallelism.
   * ROWCOUNT is lazy: only computed when referenced. */
  def evalNum(spark: SparkSession, rowCount: => Long): Int = {
    val expr = num.trim.toUpperCase
    if (expr.isEmpty || expr == "0") 0
    else {
      val concurrency = math.max(spark.sparkContext.defaultParallelism, 1)
      // only force the count when the expression actually uses ROWCOUNT —
      // a literal num must not cost a full extra pass over the data
      val withRowcount =
        if (expr.contains("ROWCOUNT")) expr.replace("ROWCOUNT", rowCount.toString)
        else expr
      val substituted = withRowcount.replace("CONCURRENCY", concurrency.toString)
      val v = evalArith(substituted)
      // a silent toInt would wrap ROWCOUNT-scale values negative, and
      // max(_, 0) would then quietly skip the repartition entirely
      require(v <= Int.MaxValue,
        s"partition count $v (from num='$num') overflows Int")
      math.max(v.toInt, 0)
    }
  }

  // tiny integer arithmetic evaluator: + - * / ( ) over longs
  private def evalArith(s: String): Long = {
    var pos = 0
    def skip(): Unit = while (pos < s.length && s(pos).isWhitespace) pos += 1
    def number(): Long = {
      skip()
      if (pos < s.length && s(pos) == '(') {
        pos += 1; val v = addSub(); skip(); require(pos < s.length && s(pos) == ')'); pos += 1; v
      } else {
        val st = pos
        while (pos < s.length && s(pos).isDigit) pos += 1
        require(pos > st, s"bad partition num expr '$s'")
        s.substring(st, pos).toLong
      }
    }
    def mulDiv(): Long = {
      var v = number()
      skip()
      while (pos < s.length && (s(pos) == '*' || s(pos) == '/')) {
        val op = s(pos); pos += 1
        val r = number()
        if (op == '/') require(r != 0, s"division by zero in partition num expr '$s'")
        v = if (op == '*') v * r else v / r
        skip()
      }
      v
    }
    def addSub(): Long = {
      var v = mulDiv()
      skip()
      while (pos < s.length && (s(pos) == '+' || s(pos) == '-')) {
        val op = s(pos); pos += 1
        val r = mulDiv()
        v = if (op == '+') v + r else v - r
        skip()
      }
      v
    }
    val v = addSub()
    skip()
    require(pos >= s.length, s"bad partition num expr '$s'")
    v
  }
}

object PartitionSpec {
  val empty: PartitionSpec = PartitionSpec()

  /** String-form constructor mirroring the reference
   * (fugue/collections/partition.py:95,113-120): `"per_row"`
   * (case-insensitive) ≡ `(algo = "even", num = "ROWCOUNT")` — every row
   * its own logical partition; any other string is a single partition-by
   * column (`PartitionSpec("a")` ≡ `PartitionSpec(by = Seq("a"))`). */
  def apply(spec: String): PartitionSpec =
    if (spec.equalsIgnoreCase("per_row"))
      PartitionSpec(algo = "even", num = "ROWCOUNT")
    else PartitionSpec(by = Seq(spec))

  /** Parse a presort expression `"a asc, b desc"` / `"a,b desc"`. Names
   * may be backtick-quoted to carry spaces or commas (`` `x y` desc ``);
   * the quoting is stripped — consumers take raw column names. */
  def parsePresort(expr: String): Seq[(String, Boolean)] = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inBt = false
    expr.foreach {
      case '`' => inBt = !inBt; cur += '`'
      case ',' if !inBt => parts += cur.result(); cur.clear()
      case c => cur += c
    }
    parts += cur.result()
    val ItemRe = "(?s)^(`(?:[^`]|``)*`|\\S+)(?:\\s+(\\S+))?$".r
    parts.map(_.trim).filter(_.nonEmpty).toSeq.map {
      case ItemRe(name0, dir) =>
        val asc = dir == null || {
          require(dir.equalsIgnoreCase("asc") || dir.equalsIgnoreCase("desc"),
            s"bad presort direction '$dir' (expected ASC|DESC)")
          dir.equalsIgnoreCase("asc")
        }
        val name =
          if (name0.length >= 2 && name0.head == '`' && name0.last == '`')
            name0.substring(1, name0.length - 1).replace("``", "`")
          else name0
        (name, asc)
      case part => throw new IllegalArgumentException(s"bad presort item '$part'")
    }
  }
}
