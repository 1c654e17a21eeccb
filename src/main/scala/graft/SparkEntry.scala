package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship: the full OMM cancellation pipeline (snapshot → parse →
    * dedup) over the deterministic fixtures; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    import graft.omm.{CancellationPipeline => P, OmmFixtures => F}
    // the caller's session tz is unknown; fixture timestamps are UTC-naive
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    F.ensure(spark)
    P.run(spark, F.dir, P.FromNow, F.nowInstant, F.lookbackSeconds, F.zone)
  }
  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.TestdataQueries.queries ++
      graft.queries.OmmQueries.queries ++
      graft.queries.MultimodalQueries.queries
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.TestdataQueries.oracleSql ++
      graft.queries.OmmQueries.oracleSql ++
      graft.queries.MultimodalQueries.oracleSql
}
