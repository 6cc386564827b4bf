package graft.engine

import graft.PartitionSpec
import graft.operators.Repartitioner
import graft.schema.SchemaExpr
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.execution.datasources.parquet.DriverFooterSchema
import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.expressions.{Expression, WindowExpression}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast => sparkBroadcast, _}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import scala.util.control.NonFatal

/**
 * Spark-native implementation of the engine vocabulary. Each operator is a
 * thin declarative call into the DataFrame API so Catalyst keeps full
 * optimization freedom (pushdown, pruning, AQE join selection, codegen) —
 * behavioral reference: /root/reference/fugue_spark/execution_engine.py:337+.
 */
class SparkGraftEngine(val spark: SparkSession) extends GraftEngine {

  // ---- ingestion -------------------------------------------------------

  def toDF(rows: Seq[Seq[Any]], schemaExpr: String): DataFrame = {
    val schema = SchemaExpr.parse(schemaExpr)
    toDF(rows.map(r => Row.fromSeq(coerceRow(r, schema))), schema)
  }

  def toDF(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toList, 1), schema)

  /** Per-value type coercion to the declared schema — the reference's
   * type-safe ingestion contract (fugue_spark/_utils/convert.py:119-140):
   * `to_df(rows, "a:double")` accepts Scala Ints, etc. */
  private def coerceRow(values: Seq[Any], schema: StructType): Seq[Any] = {
    // a silent zip would truncate extra values / defer missing ones to an
    // opaque action-time error — fail at ingestion with the actual arity
    require(values.length == schema.fields.length,
      s"row has ${values.length} values but schema has " +
        s"${schema.fields.length} fields (${schema.simpleString})")
    values.zip(schema.fields).map { case (v, f) => coerceValue(v, f.dataType) }
  }

  /** Column reference that survives dots and other special characters in
   * the name — bare `col("a.b")` parses as struct-field access. Backticks
   * in the name itself are escaped by doubling (Spark's convention). */
  private def qcol(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  private def coerceValue(v: Any, dt: org.apache.spark.sql.types.DataType): Any = {
    import org.apache.spark.sql.types._
    if (v == null) null
    else dt match {
      case DoubleType => v match { case n: Number => n.doubleValue(); case _ => v }
      case FloatType => v match { case n: Number => n.floatValue(); case _ => v }
      case LongType => v match { case n: Number => n.longValue(); case _ => v }
      case IntegerType => v match { case n: Number => n.intValue(); case _ => v }
      case ShortType => v match { case n: Number => n.shortValue(); case _ => v }
      case ByteType => v match { case n: Number => n.byteValue(); case _ => v }
      case StringType => v.toString
      case TimestampType => v match {
        case s: String => java.sql.Timestamp.valueOf(
          if (s.length == 10) s + " 00:00:00" else s.replace("T", " "))
        case other => other
      }
      case DateType => v match {
        case s: String => java.sql.Date.valueOf(s)
        case other => other
      }
      case ArrayType(et, _) => v match {
        case s: Seq[_] => s.map(coerceValue(_, et))
        case other => other
      }
      case MapType(kt, vt, _) => v match {
        case m: Map[_, _] =>
          m.map { case (k, x) => coerceValue(k, kt) -> coerceValue(x, vt) }
        case other => other
      }
      case st: StructType => v match {
        case r: Row => Row.fromSeq(coerceRow(r.toSeq, st))
        case s: Seq[_] => Row.fromSeq(coerceRow(s, st))
        case other => other
      }
      case _ => v
    }
  }

  // ---- partitioning / materialization ---------------------------------

  def repartition(df: DataFrame, spec: PartitionSpec): DataFrame =
    Repartitioner(df, spec)

  // RunOnce semantics of the reference (execution_engine.py:364-367):
  // broadcast/persist are idempotent per dataframe identity. Values must
  // not strongly reference their keys (WeakHashMap contract), so the
  // broadcast result is held through a WeakReference. Persist reads
  // Spark's own cache state instead of a registry, so a frame whose entry
  // was dropped (`clearCache`, `unpersist`) is cached again.
  private val broadcasted = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, java.lang.ref.WeakReference[DataFrame]]())

  def broadcast(df: DataFrame): DataFrame = {
    val cached = Option(broadcasted.get(df)).flatMap(r => Option(r.get()))
    cached.getOrElse {
      val b = sparkBroadcast(df)
      broadcasted.put(df, new java.lang.ref.WeakReference(b))
      b
    }
  }

  def persist(df: DataFrame, lazyPersist: Boolean = true,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist(level)
      if (!lazyPersist) df.count() // eager materialization
    }
    df
  }

  def getCurrentParallelism: Int = spark.sparkContext.defaultParallelism

  // ---- relational ops --------------------------------------------------

  def join(df1: DataFrame, df2: DataFrame, how: String,
      on: Seq[String] = Nil): DataFrame = {
    val h = GraftEngine.joinType(how)
    val keys = df1.columns.filter(df2.columns.contains).toSeq
    if (on.nonEmpty)
      require(on.toSet == keys.toSet,
        s"join keys must be the common columns ${keys.mkString(",")}, got ${on.mkString(",")}")
    if (h == "cross") {
      require(keys.isEmpty, s"cross join requires disjoint schemas, common: $keys")
      df1.crossJoin(df2)
    } else {
      require(keys.nonEmpty, "join requires at least one common column")
      // result schema: df1 ∪ (df2 − keys); Spark's using-columns join already
      // emits keys once (coalesced for outer joins) + remaining columns
      val joined = df1.join(df2, keys, h)
      if (h == "left_semi" || h == "left_anti") joined
      else joined.select((df1.columns ++ df2.columns.filterNot(keys.contains))
        .map(qcol).toIndexedSeq: _*)
    }
  }

  /** Align df2's columns to df1's order (by name) for a set operation —
   * Spark's set ops are positional and would silently misalign two frames
   * whose shared column names sit in different orders (easy to produce:
   * this engine's own join() reorders to df1 ∪ (df2 − keys)). The
   * reference requires identical schemas outright. */
  private def alignForSetOp(df1: DataFrame, df2: DataFrame, op: String): DataFrame = {
    val (c1, c2) = (df1.columns.toSeq, df2.columns.toSeq)
    if (c1 == c2) df2
    else {
      require(c1.map(_.toLowerCase).sorted == c2.map(_.toLowerCase).sorted,
        s"$op requires identical column sets, got [${c1.mkString(",")}] vs [${c2.mkString(",")}]")
      df2.select(c1.map(qcol): _*)
    }
  }

  def union(df1: DataFrame, df2: DataFrame, distinct: Boolean = true): DataFrame = {
    val u = df1.union(alignForSetOp(df1, df2, "union"))
    if (distinct) u.distinct() else u
  }

  def subtract(df1: DataFrame, df2: DataFrame, distinct: Boolean = true): DataFrame = {
    val r = alignForSetOp(df1, df2, "subtract")
    if (distinct) df1.except(r) else df1.exceptAll(r)
  }

  def intersect(df1: DataFrame, df2: DataFrame, distinct: Boolean = true): DataFrame = {
    val r = alignForSetOp(df1, df2, "intersect")
    if (distinct) df1.intersect(r) else df1.intersectAll(r)
  }

  def distinct(df: DataFrame): DataFrame = df.distinct()

  def dropna(df: DataFrame, how: String = "any", thresh: Option[Int] = None,
      subset: Seq[String] = Nil): DataFrame = {
    val cols = if (subset.nonEmpty) subset else df.columns.toSeq
    thresh match {
      case Some(t) => df.na.drop(t, cols)
      case None => df.na.drop(how, cols)
    }
  }

  def fillna(df: DataFrame, value: Any, subset: Seq[String] = Nil): DataFrame = {
    value match {
      case m: Map[_, _] =>
        df.na.fill(m.asInstanceOf[Map[String, Any]])
      case v =>
        val cols = if (subset.nonEmpty) subset else df.columns.toSeq
        v match {
          case d: Double => df.na.fill(d, cols)
          case l: Long => df.na.fill(l, cols)
          case i: Int => df.na.fill(i.toLong, cols)
          case s: String => df.na.fill(s, cols)
          case b: Boolean => df.na.fill(b, cols)
          case other =>
            throw new IllegalArgumentException(s"unsupported fill value $other")
        }
    }
  }

  def sample(df: DataFrame, n: Option[Long] = None, frac: Option[Double] = None,
      replace: Boolean = false, seed: Option[Long] = None): DataFrame = {
    require(n.isDefined != frac.isDefined, "exactly one of n/frac must be set")
    frac match {
      case Some(f) => df.sample(replace, f, seed.getOrElse(new java.util.Random().nextLong()))
      case None =>
        // n-rows sample = TABLESAMPLE (n ROWS) = limit, exactly as the
        // reference's Spark backend does (execution_engine.py:629-631).
        // limit() is Int-bounded; a silent toInt would wrap huge n
        require(n.get >= 0 && n.get <= Int.MaxValue,
          s"sample n=${n.get} out of range [0, ${Int.MaxValue}]")
        df.limit(n.get.toInt)
    }
  }

  def take(df: DataFrame, n: Int, spec: PartitionSpec = PartitionSpec.empty,
      naPosition: String = "last"): DataFrame = {
    require(n >= 1, "n must be >= 1")
    val sortCols =
      if (naPosition == "first") spec.presortColsNullsFirst else spec.presortCols
    if (spec.by.isEmpty) {
      if (spec.presort.isEmpty) df.limit(n)
      else df.orderBy(sortCols: _*).limit(n)
    } else if (n == 1 && spec.presort.isEmpty) {
      // fast path: arbitrary row per key without a window
      df.dropDuplicates(spec.by)
    } else {
      val w = Window.partitionBy(spec.by.map(col): _*)
        .orderBy((if (spec.presort.nonEmpty) sortCols
          else Seq(monotonically_increasing_id())): _*)
      df.withColumn("__graft_rn", row_number().over(w))
        .filter(col("__graft_rn") <= n)
        .drop("__graft_rn")
    }
  }

  // ---- column-expression ops ------------------------------------------

  /** Name-based aggregate detection, mirroring the reference's `is_agg`
   * (/root/reference/fugue/column/functions.py:314-347) but over Catalyst
   * expressions so arbitrary Spark functions work too. */
  private def isAggExpr(e: Expression): Boolean = e match {
    case _: AggregateExpression => true
    case _: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction => true
    case _: WindowExpression => false // window fns aggregate within frame only
    case f: UnresolvedFunction if AggFunctionNames.contains(f.nameParts.last.toLowerCase) => true
    case other => other.children.exists(isAggExpr)
  }

  private val AggFunctionNames: Set[String] = Set(
    "min", "max", "count", "count_distinct", "countdistinct", "avg", "mean",
    "sum", "first", "last", "collect_list", "collect_set", "stddev",
    "stddev_pop", "stddev_samp", "variance", "var_pop", "var_samp",
    "approx_count_distinct", "percentile_approx", "corr", "covar_pop",
    "covar_samp", "kurtosis", "skewness", "sum_distinct", "any_value",
    "median", "mode", "count_if", "bool_and", "bool_or")

  def containsAgg(c: Column): Boolean = isAggExpr(ColumnBridge.expression(c))

  def select(df: DataFrame, cols: Seq[Column], where: Option[Column] = None,
      having: Option[Column] = None): DataFrame = {
    val pre = where.map(df.filter).getOrElse(df)
    val (aggCols, keyCols) = cols.partition(containsAgg)
    val out =
      if (aggCols.isEmpty) pre.select(cols: _*)
      else {
        // give every column a stable name up front so the post-agg reorder
        // can reference it (an unaliased sum(v) is not a NamedExpression)
        val named = cols.map(c => c.as(outputName(c)))
        val (nAgg, nKey) = named.partition(containsAgg)
        val agged =
          if (nKey.isEmpty) pre.agg(nAgg.head, nAgg.tail: _*)
          else pre.groupBy(nKey: _*).agg(nAgg.head, nAgg.tail: _*)
        agged.select(named.map(c => qcol(outputName(c))): _*)
      }
    having.map(out.filter).getOrElse(out)
  }

  /** The output column name Spark would assign: alias if present, else the
   * generated name (e.g. "sum(v)"). */
  private def outputName(c: Column): String = ColumnBridge.outputName(c)

  def filter(df: DataFrame, cond: Column): DataFrame = df.filter(cond)

  def assign(df: DataFrame, cols: Map[String, Column]): DataFrame = {
    cols.values.foreach(c => require(!containsAgg(c), "assign does not allow aggregation"))
    df.withColumns(cols)
  }

  def aggregate(df: DataFrame, partitionBy: Seq[String],
      aggs: Seq[Column]): DataFrame = {
    require(aggs.nonEmpty, "aggregate requires at least one aggregation")
    aggs.foreach(c => require(containsAgg(c), s"$c is not an aggregation"))
    if (partitionBy.isEmpty) df.agg(aggs.head, aggs.tail: _*)
    else df.groupBy(partitionBy.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  // ---- schema ops ------------------------------------------------------

  /** Conform a frame to a declared output schema: select columns in the
   * declared order and cast to the declared types — the reference's
   * post-operation schema enforcement (`correct_select_schema`,
   * fugue/column/sql.py:375-404; cast rules convert.py:67-106). NaN/±Inf in
   * fractional sources become null when casting to integral types (pandas
   * convention the reference preserves; Spark would produce huge ints). */
  def conform(df: DataFrame, schema: StructType): DataFrame = {
    import org.apache.spark.sql.types._
    df.select(schema.fields.map { f =>
      val src = df.schema.find(_.name == f.name).getOrElse(
        throw new IllegalArgumentException(s"missing column ${f.name}"))
      val c = qcol(f.name)
      val casted = (src.dataType, f.dataType) match {
        case (s, t) if s == t => c
        case (DoubleType | FloatType, ByteType | ShortType | IntegerType | LongType) =>
          when(isnan(c) || c === Double.PositiveInfinity ||
            c === Double.NegativeInfinity, lit(null)).otherwise(c).cast(f.dataType)
        case _ => c.cast(f.dataType)
      }
      casted.as(f.name)
    }.toIndexedSeq: _*)
  }

  def conform(df: DataFrame, schemaExpr: String): DataFrame =
    conform(df, SchemaExpr.parse(schemaExpr))

  /** Cast the named columns to new types (reference `alter_columns`,
   * dataframe.py:180); other columns and the column order are untouched. */
  def alterColumns(df: DataFrame, schemaExpr: String): DataFrame = {
    val st = SchemaExpr.parse(schemaExpr)
    st.fieldNames.foreach(n => require(df.columns.contains(n), s"no column $n"))
    df.select(df.columns.map { c =>
      st.fields.find(_.name == c) match {
        case Some(f) => qcol(c).cast(f.dataType).as(c)
        case None => qcol(c)
      }
    }.toIndexedSeq: _*)
  }

  /** Rename columns by map (reference `rename`, dataframe.py:171). */
  def rename(df: DataFrame, mapping: Map[String, String]): DataFrame = {
    mapping.keys.foreach(n => require(df.columns.contains(n), s"no column $n"))
    df.withColumnsRenamed(mapping)
  }

  def dropColumns(df: DataFrame, cols: Seq[String], ifExists: Boolean = false): DataFrame = {
    if (!ifExists)
      cols.foreach(n => require(df.columns.contains(n), s"no column $n"))
    df.drop(cols: _*)
  }

  // ---- SQL -------------------------------------------------------------

  def sqlSelect(sql: String, dfs: Map[String, DataFrame]): DataFrame =
    // serialized per session: two concurrent callers registering the same
    // view names on one shared catalog would resolve against each other's
    // frames (or lose views mid-analysis)
    SparkGraftEngine.sessionLock(spark).synchronized {
      // capture pre-existing temp views we are about to shadow, so a
      // caller's own view of the same name survives this call
      val prior: Map[String, DataFrame] = dfs.keys.flatMap { name =>
        try {
          if (spark.catalog.getTable(name).isTemporary) Some(name -> spark.table(name))
          else None
        } catch { case _: org.apache.spark.sql.AnalysisException => None }
      }.toMap
      // register views only for the duration of analysis: spark.sql resolves
      // view references eagerly (analysis runs before return), so the views
      // can be dropped immediately — nothing leaks into the shared session
      // catalog across Runner instances
      dfs.foreach { case (name, df) => df.createOrReplaceTempView(name) }
      try {
        val out = spark.sql(sql)
        out.queryExecution.analyzed // force resolution before views vanish
        out
      } finally dfs.keys.foreach { name =>
        prior.get(name) match {
          case Some(d) => d.createOrReplaceTempView(name) // restore shadowed view
          // the session catalog's drop, not spark.catalog's: that one also
          // uncaches the frame the view names, so a persisted frame read
          // by a SELECT would lose its cache
          case None => spark.sessionState.catalog.dropTempView(name)
        }
      }
    }

  def tableExists(name: String): Boolean = spark.catalog.tableExists(name)
  def loadTable(name: String): DataFrame = spark.table(name)
  def saveTable(df: DataFrame, name: String, mode: String = "overwrite"): Unit = {
    // overwrite must also clear a STALE warehouse directory: a fresh
    // session has an empty catalog but the previous JVM's managed-table
    // dir survives, and saveAsTable then fails LOCATION_ALREADY_EXISTS.
    // The real location comes from the catalog (lowercased name, db.db/
    // nesting) — not a naive $wh/$name concatenation.
    if (mode == "overwrite" && !spark.catalog.tableExists(name)) {
      val p = new org.apache.hadoop.fs.Path(
        org.apache.spark.sql.graftshim.ColumnBridge.defaultTablePath(spark, name))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
    df.write.mode(mode).saveAsTable(name)
  }

  // ---- IO --------------------------------------------------------------

  /** The format named by the extension of the last non-empty path segment,
   * glob tail dropped, so `/x/out.csv/` is csv; parquet when none is named. */
  private def inferFormat(path: String, format: String): String =
    if (format.nonEmpty) format
    else {
      val segment = path.replaceAll("\\*.*$", "").split("/").filter(_.nonEmpty)
        .lastOption.getOrElse("")
      val dot = segment.lastIndexOf('.')
      (if (dot < 0) "" else segment.substring(dot + 1).toLowerCase) match {
        case ext @ ("csv" | "json" | "orc") => ext
        case _ => "parquet"
      }
    }

  /** Reads `path` as a DataFrame. A parquet load with no options whose path
   * is one file or a flat directory (no glob, `mergeSchema` conf off) takes
   * its schema from the one footer Spark's inference would pick, read on the
   * driver with the session's parquet confs as they are now
   * ([[org.apache.spark.sql.execution.datasources.parquet.DriverFooterSchema]]),
   * so the load starts no Spark job. Every other load, and one whose footer
   * cannot be picked or read (missing path, empty directory, corrupt footer,
   * illegal type), is Spark's own inference, errors included. */
  def load(path: String, format: String = "", columns: Seq[String] = Nil,
      options: Map[String, String] = Map.empty): DataFrame = {
    val fmt = inferFormat(path, format)
    val reader = spark.read.options(options).format(fmt)
    // Spark option keys are case-insensitive — the guard must be too, or
    // an explicit Header:false would be silently overridden
    val withDefaults = fmt match {
      case "csv" if !options.keys.exists(_.equalsIgnoreCase("header")) =>
        reader.option("header", "true")
      case "parquet" if options.isEmpty =>
        val footerSchema =
          try DriverFooterSchema.infer(spark, path)
          catch { case NonFatal(_) => None }
        footerSchema.fold(reader)(s => reader.schema(s))
      case _ => reader
    }
    val df = withDefaults.load(path)
    // columns may be plain names (projection) or a schema expression (cast)
    if (columns.isEmpty) df
    else if (columns.exists(_.contains(":"))) {
      val st = SchemaExpr.parse(columns.mkString(","))
      df.select(st.fields.map(f => qcol(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
    } else df.select(columns.map(qcol): _*)
  }

  def save(df: DataFrame, path: String, format: String = "",
      mode: String = "overwrite", partitionBy: Seq[String] = Nil,
      singleFile: Boolean = false,
      options: Map[String, String] = Map.empty): Unit = {
    val fmt = inferFormat(path, format)
    val base = (if (singleFile) df.coalesce(1) else df)
      .write.mode(mode).options(options).format(fmt)
    // CSV defaults must be SYMMETRIC with load (which defaults header=true):
    // an unannotated csv round-trip would otherwise eat the first data row
    // as column names
    val withDefaults = fmt match {
      case "csv" if !options.keys.exists(_.equalsIgnoreCase("header")) =>
        base.option("header", "true")
      case _ => base
    }
    val w = if (partitionBy.nonEmpty) withDefaults.partitionBy(partitionBy: _*)
      else withDefaults
    w.save(path)
  }
}

object SparkGraftEngine {
  def apply(spark: SparkSession): SparkGraftEngine = new SparkGraftEngine(spark)

  // one lock per SparkSession (not per engine): multiple engines over one
  // session share the temp-view namespace they must not race on
  private val viewLocks =
    new java.util.WeakHashMap[SparkSession, Object]()
  private[engine] def sessionLock(spark: SparkSession): Object =
    viewLocks.synchronized {
      var l = viewLocks.get(spark)
      if (l == null) { l = new Object; viewLocks.put(spark, l) }
      l
    }
}
