package graft

import graft.engine.SparkGraftEngine
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Shared loaders, fixtures and oracle-SQL fragments used by the
 * per-family conformance registries ([[EntriesQ]]/[[EntriesD]]/
 * [[EntriesS]]/[[EntriesT]]/[[EntriesM]]) — carved out of SparkEntry
 * verbatim when the registry split landed. */
private[graft] object EntryHelpers {


  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    eng(s).load(s"$dir/$name.parquet")

  /** events.parquet has shipped in two generations: ts as TIMESTAMP(NANOS)
   * (Spark's vectorized reader rejects it — read nanos-as-long via the
   * legacy conf and truncate to microseconds) and as plain timestamp[us]
   * (reads natively as TIMESTAMP_NTZ). Normalize BOTH to session-zone
   * TIMESTAMP at microsecond grain — the session zone is UTC, so the
   * NTZ cast is wall-clock identity, and the DuckDB oracle's
   * CAST(ts AS TIMESTAMP) is the same floor-to-us conversion. Works on
   * batch and streaming frames alike (schema-driven, no data peek). */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }

  private[graft] def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(t(s, dir, "events"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  private[graft] def eng(s: SparkSession) = SparkGraftEngine(s)

  /** Run `body` on a fresh temp dir named `<prefix>*` and delete the dir
   * when it returns. A frame that reads the dir must be materialized
   * inside `body` (`localCheckpoint(true)`) or it fails after the delete. */
  private[graft] def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(_.toFile.delete())
    }
  }

  /** Drop a managed table AND its warehouse directory: a fresh session has
   * an empty catalog but the previous run's directory survives, and
   * saveAsTable refuses to reuse the location (LOCATION_ALREADY_EXISTS). */
  private[graft] def dropTableAndLocation(s: SparkSession, name: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $name")
    val wh = s.conf.get("spark.sql.warehouse.dir")
    val p = new org.apache.hadoop.fs.Path(s"$wh/$name")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** decimal-exact sum rendered as double: deterministic across engines
   * regardless of aggregation order (FP sums are order-dependent; decimal
   * sums are not). */
  private[graft] def dsum(c: String): org.apache.spark.sql.Column =
    sum(col(c).cast("decimal(18,2)")).cast("double")

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */


  // customer with the key renamed to the orders key, so the engine's
  // "join on common column names" contract applies
  private[graft] def custK(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_custkey").as("o_custkey"),
      col("c_name"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))



  private[graft] def withNulls(events: DataFrame): DataFrame =
    events.select(col("event_id"), col("user_id"),
      nullif(col("event_type"), lit("error")).as("etype"),
      when(col("value") < 5, lit(null)).otherwise(col("value")).as("val"))

  private[graft] val SqlRevenuePerNation =
    """SELECT n_name, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales,
      | CAST(COUNT(*) AS BIGINT) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      | JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin

  private[graft] val SqlRollup =
    """SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin

  // window-function breadth in one pass: rank family, offsets with
  // defaults, distribution functions, frame-bounded min. The decimal
  // bridge keeps the single SUM deterministic; percent_rank/cume_dist
  // are exact rationals of counts (identical on both engines).
  private[graft] val SqlWindowSuite =
    """SELECT o_orderkey,
      | CAST(row_number() OVER w AS BIGINT) AS rn,
      | CAST(rank() OVER w AS BIGINT) AS rnk,
      | CAST(dense_rank() OVER w AS BIGINT) AS drnk,
      | CAST(lag(o_orderkey, 1, -1) OVER w AS BIGINT) AS prev_key,
      | CAST(lead(o_orderkey, 2, -1) OVER w AS BIGINT) AS next2_key,
      | first_value(o_orderstatus) OVER w AS first_status,
      | percent_rank() OVER w AS pr,
      | cume_dist() OVER w AS cd,
      | CAST(min(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
      |   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS min3
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)""".stripMargin

  // grouping-sets breadth: CUBE with grouping() disambiguation of real
  // NULL keys vs subtotal rows
  private[graft] val SqlCube =
    """SELECT o_orderstatus, o_orderpriority,
      | CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
      | CAST(grouping(o_orderpriority) AS INTEGER) AS g_prio,
      | CAST(COUNT(*) AS BIGINT) AS n
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin

  // ORDER BY includes l_quantity: the synthetic lineitem has duplicate
  // (l_orderkey, l_linenumber) rows (observed at sf0.1: two rows sharing
  // suppkey+orderkey+linenumber+shipdate with different quantities), so
  // the shorter key is not total and the running sum would be
  // tie-arbitrary ON BOTH ENGINES (DuckDB itself flips between
  // evaluations). With l_quantity as the final tiebreak, any remaining
  // ties have equal quantities and identical prefix sums either way.
  private[graft] val SqlRunning =
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
      |   PARTITION BY l_suppkey
      |   ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
      |FROM lineitem""".stripMargin

  private[graft] val SqlExists =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      | WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)""".stripMargin

  private[graft] val SqlStringDate =
    """SELECT o_orderkey, upper(o_orderstatus) AS status_u,
      | substr(o_orderpriority, 1, 1) AS prio1,
      | CAST(year(o_orderdate) AS INT) AS yr, CAST(month(o_orderdate) AS INT) AS mo,
      | CAST(date_trunc('month', o_orderdate) AS DATE) AS mon_start
      |FROM orders""".stripMargin

  private[graft] val SqlCaseIn =
    """SELECT p_partkey,
      | CASE WHEN p_size < 10 THEN 'small' WHEN p_size < 30 THEN 'medium'
      |  ELSE 'large' END AS size_class,
      | p_brand IN ('Brand#1', 'Brand#2') AS is_top
      |FROM part""".stripMargin

  private[graft] val SqlPercentile =
    """SELECT o_orderstatus,
      | CAST(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS DOUBLE) AS median_price,
      | CAST(percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice) AS DOUBLE) AS p90_price
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  private[graft] val SqlNtile =
    """SELECT o_orderkey,
      | CAST(ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS INT) AS quartile
      |FROM orders""".stripMargin

  private[graft] val SqlTopOrders =
    """SELECT * FROM (
      | SELECT o_custkey, o_orderkey,
      |  CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk
      | FROM orders) x WHERE rk <= 2""".stripMargin

  // -------------------------------------------------------------------
  // DuckDB oracles. Column names/types must match the Spark results:
  // count(*)→BIGINT matches Spark long; len/length are cast to INTEGER to
  // match Spark's int; decimal-sums cast to DOUBLE are order-independent.
  // -------------------------------------------------------------------
  /** Deterministic synthetic PII injection (the corpus has none) — shared
   * by the t07/q60 queries; [[SqlInjectedPii]] is its DuckDB twin. */
  private[graft] def piiInjected: org.apache.spark.sql.Column =
    concat(col("text"),
      lit(" reach user"), col("doc_id").cast("string"),
      lit("@mail.example.com or 192.168."),
      (col("doc_id") % 200).cast("string"),
      lit(".7 ssn 123-45-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" card 4111 1111 1111 1111 tel 555-867-5309"))

  /** Deterministic dirty-text injection (zero-widths, control chars, CRLF,
   * NBSP runs, BOM) for the t18 cleaning conformance query;
   * [[SqlInjectedDirty]] is its chr()-built DuckDB twin. */
  private[graft] def dirtyInjected: org.apache.spark.sql.Column =
    // coalesce mirrors t22: Spark concat is null-on-any-null while DuckDB
    // concat skips NULLs, so a NULL text row would diverge otherwise
    concat(lit("\u200B \u00A0"), coalesce(col("text"), lit("")),
      lit("\u0007 tail\u00A0\u00A0mid\r\nend \t\t x\uFEFF"))

  private[graft] val SqlInjectedDirty =
    "concat(chr(8203), ' ', chr(160), coalesce(text, ''), chr(7), ' tail', chr(160)," +
      " chr(160), 'mid', chr(13), chr(10), 'end ', chr(9), chr(9)," +
      " ' x', chr(65279))"

  private[graft] def sqlCleaned(expr: String): String =
    "trim(" + graft.functions.TextFunctions.CleanPatterns.foldLeft(expr) {
      case (e, (re, repl)) => s"regexp_replace($e, '$re', '$repl', 'g')"
    } + ")"

  private[graft] def sqlQuote(s: String): String = s.replace("'", "''")

  /** DuckDB twin of [[graft.functions.TextFunctions.extractHtmlText]]:
   * folds the shared [[graft.functions.TextFunctions.HtmlPatterns]] chain,
   * then whitespace-collapses and trims — byte-identical by construction. */
  private[graft] def sqlHtmlText(expr: String): String = {
    val folded = graft.functions.TextFunctions.HtmlPatterns.foldLeft(expr) {
      case (e, (re, repl)) =>
        s"regexp_replace($e, '${sqlQuote(re)}', '${sqlQuote(repl)}', 'g')"
    }
    s"trim(regexp_replace($folded, '\\s+', ' ', 'g'))"
  }

  private[graft] val SqlInjectedPii =
    "concat(text, ' reach user', CAST(doc_id AS VARCHAR)," +
      " '@mail.example.com or 192.168.', CAST(doc_id % 200 AS VARCHAR)," +
      " '.7 ssn 123-45-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')," +
      " ' card 4111 1111 1111 1111 tel 555-867-5309')"

  private[graft] def sqlRedacted(expr: String): String =
    graft.functions.TextFunctions.PiiPatterns.foldLeft(expr) {
      case (e, (re, repl)) => s"regexp_replace($e, '$re', '$repl', 'g')"
    }

  /** One oracle for the curation pipeline, shared by its batch (q60) and
   * streaming (q61) conformance queries so they cannot drift. Defined
   * lazily: it interpolates [[SqlNTokens]]/[[SqlStopwordRatio]] below. */
  private[graft] lazy val SqlCurationOracle =
    s"""WITH base AS (
      | SELECT doc_id, ${sqlRedacted(SqlInjectedPii)} AS text FROM documents)
      |SELECT doc_id, text FROM base
      |WHERE ($SqlNTokens) >= 30 AND ($SqlStopwordRatio) <= 0.4""".stripMargin

  // shared oracle fragments: tokenization and stopword-ratio SQL used by
  // several text-metric oracles — one definition so they cannot drift
  private[graft] val SqlNTokens =
    """CASE WHEN length(regexp_replace(text, '\s', '', 'g')) = 0 THEN 0
      |   ELSE len(string_split_regex(trim(text), '\s+')) END""".stripMargin
  private[graft] val SqlStopwordRatio =
    """CASE WHEN length(regexp_replace(text, '\s', '', 'g')) > 0
      |   THEN CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
      |     t -> t IN ('the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','at','by','it'))) AS DOUBLE)
      |     / len(string_split_regex(trim(text), '\s+'))
      |   ELSE 0.0 END""".stripMargin



  /** DuckDB per-language stopword-type scores — mirrors
   * TextFunctions.LangStopwords; used by the t01/t03 oracles. */
  private[graft] val SqlLangScores: String = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del", "las", "por"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "den", "von"),
    "fr" -> Seq("le", "la", "les", "des", "est", "et", "dans", "une", "que", "pour"),
  ).map { case (lang, words) =>
    s"len(list_intersect(list_distinct(ltoks), [${words.map(w => s"'$w'").mkString(",")}])) AS s_$lang"
  }.mkString(", ")

  /** DuckDB argmax-with-ties-to-earlier over the s_* scores plus the CJK
   * density gate — the langId rule (scoring order en, es, de, fr). NULL
   * text pins to 'en' explicitly: with NULL scores every comparison is NULL
   * and the CASE would otherwise fall through to 'fr', while the Spark
   * LangId kernel maps null text to 'en'. */
  private[graft] val SqlLangCase: String =
    """CASE WHEN text IS NULL THEN 'en'
      | WHEN length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) > length(text) * 0.3 THEN 'zh'
      | WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
      | WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
      | WHEN s_de >= s_fr THEN 'de'
      | ELSE 'fr' END""".stripMargin

  /** Headline subset for the per-round benchmark (heavy/representative). */
}
