package graft

import graft.functions.expressions._
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/**
 * Session wiring: the graft function surface registered into Spark SQL
 * (usable from `spark.sql` and the dataflow dialect), plus a builder with
 * the scale-appropriate defaults.
 */
object GraftSession {

  /** Local parallelism when none is given: `SPARK_GRAFT_CPUS` when set,
   * else the cores this JVM sees. */
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** Builder preconfigured for large-scale work: AQE (coalescing + skew
   * join), sane local shuffle parallelism, UTC. `cores` should be cluster
   * parallelism; shuffle partitions scale with it (at a real 1000-executor
   * deployment, set `spark.sql.shuffle.partitions` ≈ 2-3× total cores). */
  def builder(master: String = s"local[$defaultCores]",
      cores: Int = defaultCores): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new GraftExtensions)

  /** Register the graft SQL functions on an existing session (the
   * non-extensions path). */
  def registerFunctions(spark: SparkSession): Unit =
    GraftExtensions.functions.foreach { case (name, (_, builder)) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")
    }
}

/**
 * `SparkSessionExtensions` hook — `.withExtensions(new GraftExtensions)` or
 * `spark.sql.extensions=graft.GraftExtensions` makes the functions
 * available in every session of a cluster.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, (info, builder)) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {
  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "scala_udf")

  /** name → (info, expression builder). */
  val functions: Map[String, (ExpressionInfo, Seq[Expression] => Expression)] = Map(
    "vec_dot" -> (info("vec_dot",
      "vec_dot(a, b) - dot product of two array<double> vectors"),
      (es: Seq[Expression]) => DotProduct(es(0), es(1))),
    "vec_l2_normalize" -> (info("vec_l2_normalize",
      "vec_l2_normalize(v) - unit-L2-norm copy of a float/double array"),
      (es: Seq[Expression]) => L2Normalize(es.head)),
    "minhash_sig" -> (info("minhash_sig",
      "minhash_sig(hashes, numHashes, seed) - minhash signature of a bigint array"),
      (es: Seq[Expression]) => {
        requireArgs("minhash_sig", "(hashes, numHashes, seed)", es, 3, 3)
        MinHashSignature(es.head,
          litInt("minhash_sig", "numHashes", es(1)),
          litLong("minhash_sig", "seed", es(2)))
      }),
    "simhash64" -> (info("simhash64",
      "simhash64(hashes) - 64-bit simhash of a bigint feature-hash array"),
      (es: Seq[Expression]) => SimHash64(es.head)),
    "fingerprint64" -> (info("fingerprint64",
      "fingerprint64(text) - 64-bit whitespace-normalized rolling document fingerprint"),
      (es: Seq[Expression]) => Fingerprint64(es.head)),
    "hyperplane_keys" -> (info("hyperplane_keys",
      "hyperplane_keys(v, dim, nTables, nBits, seed[, probes]) - LSH sign-bucket keys"),
      (es: Seq[Expression]) => {
        requireArgs("hyperplane_keys", "(v, dim, nTables, nBits, seed[, probes])", es, 5, 6)
        HyperplaneKeys(es.head,
          litInt("hyperplane_keys", "dim", es(1)),
          litInt("hyperplane_keys", "nTables", es(2)),
          litInt("hyperplane_keys", "nBits", es(3)),
          litLong("hyperplane_keys", "seed", es(4)),
          if (es.length > 5) litInt("hyperplane_keys", "probes", es(5)) else 0)
      }),
    "shingle_hashes" -> (info("shingle_hashes",
      "shingle_hashes(text, k) - distinct xxhash64 word-k-shingle hashes"),
      (es: Seq[Expression]) => {
        requireArgs("shingle_hashes", "(text, k)", es, 2, 2)
        ShingleHashes(es.head, litInt("shingle_hashes", "k", es(1)))
      }),
    "normalize_unicode" -> (info("normalize_unicode",
      "normalize_unicode(text[, form]) - Unicode-normalize a string (form NFC/NFD/NFKC/NFKD, default NFC)"),
      (es: Seq[Expression]) => {
        requireArgs("normalize_unicode", "(text[, form])", es, 1, 2)
        NormalizeUnicode(es.head,
          if (es.length > 1) litString("normalize_unicode", "form", es(1)) else "NFC")
      }),
    "fix_mojibake" -> (info("fix_mojibake",
      "fix_mojibake(text) - repair UTF-8-as-Latin-1/cp1252 double-encoding corruption"),
      (es: Seq[Expression]) => {
        requireArgs("fix_mojibake", "(text)", es, 1, 1)
        FixMojibake(es.head)
      }),
    "canonicalize_url" -> (info("canonicalize_url",
      "canonicalize_url(url) - canonical URL: lowercase scheme/host, default ports/fragments/tracking params dropped"),
      (es: Seq[Expression]) => {
        requireArgs("canonicalize_url", "(url)", es, 1, 1)
        org.apache.spark.sql.graftshim.ColumnBridge.expression(
          graft.functions.TextFunctions.canonicalizeUrl(
            org.apache.spark.sql.graftshim.ColumnBridge.column(es.head)))
      }),
    "url_host" -> (info("url_host",
      "url_host(url) - lowercased host of an absolute URL ('' if not one)"),
      (es: Seq[Expression]) => {
        requireArgs("url_host", "(url)", es, 1, 1)
        org.apache.spark.sql.graftshim.ColumnBridge.expression(
          graft.functions.TextFunctions.urlHost(
            org.apache.spark.sql.graftshim.ColumnBridge.column(es.head)))
      }),
    "deflate_ratio" -> (info("deflate_ratio",
      "deflate_ratio(text) - DEFLATE(level 6) compressed/raw byte ratio of the text (compression quality signal)"),
      (es: Seq[Expression]) => {
        requireArgs("deflate_ratio", "(text)", es, 1, 1)
        DeflateRatio(es.head)
      }),
    "html_text" -> (info("html_text",
      "html_text(html) - visible text of an HTML document (script/style/tags stripped, entities decoded, whitespace collapsed)"),
      (es: Seq[Expression]) => {
        requireArgs("html_text", "(html)", es, 1, 1)
        org.apache.spark.sql.graftshim.ColumnBridge.expression(
          graft.functions.TextFunctions.extractHtmlText(
            org.apache.spark.sql.graftshim.ColumnBridge.column(es.head)))
      }),
  )

  /** Clear errors for SQL misuse instead of IndexOutOfBounds/NPE during
   * analysis: arity and foldable-non-null-literal checks for the scalar
   * parameters of the injected functions. */
  private def requireArgs(fn: String, sig: String, es: Seq[Expression],
      min: Int, max: Int): Unit =
    if (es.length < min || es.length > max)
      throw new IllegalArgumentException(
        s"$fn expects $sig, got ${es.length} arguments")

  private def litVal(fn: String, param: String, e: Expression): Number = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn: parameter '$param' must be a literal, got: ${e.sql}")
    e.eval() match {
      case n: Number => n
      case other => throw new IllegalArgumentException(
        s"$fn: parameter '$param' must be a non-null number, got: $other")
    }
  }
  private def litInt(fn: String, param: String, e: Expression): Int =
    litVal(fn, param, e).intValue()
  private def litLong(fn: String, param: String, e: Expression): Long =
    litVal(fn, param, e).longValue()
  private def litString(fn: String, param: String, e: Expression): String = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn: parameter '$param' must be a literal, got: ${e.sql}")
    e.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn: parameter '$param' must be a non-null string, got: $other")
    }
  }
}
