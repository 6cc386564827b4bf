package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Driver contract: one query per implemented operator (SURVEY.md §2), each
 * with an equivalent DuckDB oracle where SQL-expressible. Queries run
 * through the graft engine/operator APIs — they are the conformance surface
 * of the library, not hand-written Spark one-offs.
 *
 * The registries live in per-family objects ([[EntriesQ]] core relational,
 * [[EntriesD]] dedup, [[EntriesS]] similarity/ANN, [[EntriesT]] text,
 * [[EntriesM]] media) with shared plumbing in [[EntryHelpers]]; this object
 * assembles them plus the TPC-H-adapted SQL suite into the driver-facing
 * maps. Family key prefixes and object boundaries agree by construction —
 * asserted at assembly time.
 */
object SparkEntry {

  def entry(spark: SparkSession): DataFrame =
    queries("q01_agg")(spark, "/root/testdata/sf0.001")

  private val families: Seq[(Char, Map[String, (SparkSession, String) => DataFrame], Map[String, String])] = Seq(
    ('q', EntriesQ.queries, EntriesQ.oracles),
    ('q', EntriesQ2.queries, EntriesQ2.oracles),
    ('d', EntriesD.queries, EntriesD.oracles),
    ('s', EntriesS.queries, EntriesS.oracles),
    ('t', EntriesT.queries, EntriesT.oracles),
    ('t', EntriesT2.queries, EntriesT2.oracles),
    ('m', EntriesM.queries, EntriesM.oracles),
    ('m', EntriesM2.queries, EntriesM2.oracles),
    ('m', EntriesM3.queries, EntriesM3.oracles))

  // the paired registries must not shadow each other's entries
  require(EntriesQ.queries.keySet.intersect(EntriesQ2.queries.keySet).isEmpty
    && EntriesT.queries.keySet.intersect(EntriesT2.queries.keySet).isEmpty
    && EntriesM.queries.keySet.intersect(EntriesM2.queries.keySet).isEmpty
    && EntriesM.queries.keySet.intersect(EntriesM3.queries.keySet).isEmpty
    && EntriesM2.queries.keySet.intersect(EntriesM3.queries.keySet).isEmpty,
    "split registries overlap")

  for ((prefix, qs, os) <- families) {
    require(qs.keys.forall(_.head == prefix) && os.keys.forall(_.head == prefix),
      s"registry '$prefix' holds a foreign-family key")
    require(os.keySet.subsetOf(qs.keySet),
      s"registry '$prefix' has an oracle without a query")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    families.map(_._2).reduce(_ ++ _) ++ TpchSuite.sql.map { case (n, q) =>
      // TPC-H-adapted suite: the engine's SQL surface against DuckDB
      // running the identical text (dialect-intersection SQL; TpchSuite)
      s"${n}_tpch" -> ((s: SparkSession, dir: String) =>
        graft.engine.SparkGraftEngine(s).sqlSelect(q,
          TpchSuite.tables(n).map(tb =>
            tb -> EntryHelpers.t(s, dir, tb)).toMap))
    }

  // d02/d03/d05 / s02 / m02 / q21: not SQL-expressible (LSH bucket sets,
  // FP ANN rankings, seeded sampling) → rows-only, each pinned by a
  // green boolean differential (d08/d15, d09, d05x+d07, s03, q21x).

  def oracleSql: Map[String, String] =
    families.map(_._3).reduce(_ ++ _) ++
      TpchSuite.sql.map { case (n, q) => s"${n}_tpch" -> q }

  /** The names of a comma-separated list, in order. Fails on a name that
   * is not a query, listing every such name: a typo must not take a query
   * out of a run unnoticed. */
  def queryNames(list: String): Seq[String] = {
    val names = list.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    names
  }

  def benchQueries: Seq[String] = Seq(
    "q01_agg", "q02_filter", "q06_join_inner", "q20_take_per_key",
    "q22_sql", "q23_transform", "q24_comap",
    "d01_dedup_exact", "d02_dedup_minhash", "d04_dedup_ngram",
    "d06_dedup_pipeline",
    "s01_knn_brute", "t01_text_analyze", "t03_langid")
}
