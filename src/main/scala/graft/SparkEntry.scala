package graft

import graft.queries.{Analytics, Approx, Bpe, Commerce, Curation, Enrichment, Extended, Graph, Incremental, Linkage, Relational, ScaleOps, SimilarityQueries, TextQueries, TpchFinal, TpchMore}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps one named query per implemented operator (SURVEY §2 plus
  * the training-data-pipeline extensions); `oracleSql` carries the DuckDB
  * equivalent for the driver's correctness gate.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * fact_order_daily: the reference's headline aggregate (SURVEY §4.2)
    * as one lazy DAG — scan → join attribution → partial+final agg.
    */
  def entry(spark: SparkSession): DataFrame =
    Relational.a1FactOrderDaily(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ TextQueries.queries ++ SimilarityQueries.queries ++
      Extended.queries ++ Enrichment.queries ++ Analytics.queries ++
      ScaleOps.queries ++ TpchMore.queries ++ TpchFinal.queries ++
      Commerce.queries ++ Curation.queries ++ Graph.queries ++ Approx.queries ++
      Linkage.queries ++ Incremental.queries ++ Bpe.queries

  /** `queries`, restricted to the comma-separated names in
    * `SPARK_GRAFT_ONLY` when it is set — a dev knob for running a subset
    * in `Bench` and `Verify`; unset, the full contract suite.
    */
  def selected(): Map[String, (SparkSession, String) => DataFrame] =
    sys.env.get("SPARK_GRAFT_ONLY") match {
      case Some(names) =>
        val keep = names.split(",").map(_.trim).filter(_.nonEmpty).toSet
        queries.filter { case (k, _) => keep(k) }
      case None => queries
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ TextQueries.oracles ++ SimilarityQueries.oracles ++
      Extended.oracles ++ Enrichment.oracles ++ Analytics.oracles ++
      ScaleOps.oracles ++ TpchMore.oracles ++ TpchFinal.oracles ++
      Commerce.oracles ++ Curation.oracles ++ Graph.oracles ++ Approx.oracles ++
      Linkage.oracles ++ Incremental.oracles ++ Bpe.oracles
}
