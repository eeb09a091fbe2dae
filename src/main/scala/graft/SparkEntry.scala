package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator of the SURVEY.md §2 inventory (plus the LLM-pipeline and
  * multimodal extensions) registers here: `queries` is the executable
  * surface, `oracleSql` the DuckDB-equivalent statement where the output is
  * SQL-expressible and hash-stable (float/sketch/streaming ops are instead
  * verified by scalatest — SURVEY.md §5).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Joins.multiwayStar(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Joins.queries ++ Aggregations.queries ++
      Windows.queries ++ ScalarFns.queries ++ TextOps.queries ++
      Similarity.queries ++ Streaming.queries ++ Udx.queries ++
      Multimodal.queries ++ Sources.queries ++ Etl.queries ++
      Analytics.queries ++ Graph.queries ++ AnnIndex.queries ++ Bpe.queries ++
      Unigram.queries ++ KmvStore.queries ++ GraphAnnIndex.queries ++
      TokenizerStore.queries ++ Retrieval.queries ++ Catalog.queries

  /** The query subset a comma-separated `spec` names (Bench's
    * `SPARK_GRAFT_ONLY`, Verify's 3rd argument). Blank entries are dropped,
    * so a trailing comma cannot silently shrink the selection; a blank spec
    * selects every query, so an empty variable cannot produce a zero-query
    * "green" run; unknown names fail loudly.
    */
  def select(spec: String): Set[String] = {
    val named = spec.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = named -- queries.keySet
    require(unknown.isEmpty, s"unknown query names in subset: $unknown")
    if (named.isEmpty) queries.keySet else named
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ Joins.oracles ++ Aggregations.oracles ++
      Windows.oracles ++ ScalarFns.oracles ++ TextOps.oracles ++
      Similarity.oracles ++ Streaming.oracles ++ Udx.oracles ++
      Multimodal.oracles ++ Sources.oracles ++ Etl.oracles ++
      Analytics.oracles ++ Graph.oracles ++ AnnIndex.oracles ++ Bpe.oracles ++
      Unigram.oracles ++ KmvStore.oracles ++ GraphAnnIndex.oracles ++
      TokenizerStore.oracles ++ Retrieval.oracles ++ Catalog.oracles
}
