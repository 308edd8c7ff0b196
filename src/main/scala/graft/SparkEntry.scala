package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries`/`oracleSql` aggregate the per-module surfaces; every key in
  * `oracleSql` must exist in `queries` and produce hash-identical output to
  * the DuckDB SQL run on the same parquet tables (columns sorted by name,
  * so aliases match exactly on both sides).
  */
object SparkEntry {

  type Query = (SparkSession, String) => DataFrame

  /** A module's share of the surface: its keys' queries and oracles. */
  trait Module {
    def queries: Map[String, Query]
    def oracleSql: Map[String, String]
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * one full Lloyd iteration of the K-Means dataflow (SURVEY.md §2.11).
    */
  def entry(spark: SparkSession): DataFrame =
    kmeans.KmeansQueries.queries("q_kmeans_iter1")(spark, "/root/testdata/sf0.001")

  private val Modules: Seq[Module] = Seq(kmeans.KmeansQueries,
    _root_.graft.queries.RelationalQueries, _root_.graft.queries.TpchDerived,
    _root_.graft.queries.WindowSetQueries, _root_.graft.queries.ScalarQueries,
    _root_.graft.queries.DataPrepQueries, _root_.graft.queries.TimeSeriesQueries,
    _root_.graft.queries.SketchQueries, _root_.graft.queries.StatsQueries,
    _root_.graft.queries.EvalMetricsQueries, _root_.graft.queries.QualityQueries,
    streaming.EventQueries, text.TextQueries, text.CorpusQueries, text.CorpusStatsQueries,
    text.PackingQueries, text.RetrievalQueries, text.GraphQueries,
    sim.SimilarityQueries, sim.SpatialQueries, multimodal.BlobQueries,
    ml.MLQueries, ml.TrainQueries, core.Sinks, sources.TimeTravel)

  /** The surfaces of `modules` as one (queries, oracleSql) pair. Fails,
    * naming the key, if two modules register a key, or if a key has a
    * query without an oracle or an oracle without a query.
    */
  private[graft] def registry(modules: Seq[Module]): (Map[String, Query], Map[String, String]) = {
    def merged[V](part: Module => Map[String, V]): Map[String, V] =
      modules.foldLeft(Map.empty[String, V]) { (acc, m) =>
        part(m).keys.find(acc.contains).foreach { k =>
          throw new IllegalStateException(s"key $k is registered twice, again by ${m.getClass.getName}")
        }
        acc ++ part(m)
      }
    val (qs, os) = (merged(_.queries), merged(_.oracleSql))
    (qs.keySet -- os.keySet).headOption.foreach(k =>
      throw new IllegalStateException(s"query $k has no DuckDB oracle"))
    (os.keySet -- qs.keySet).headOption.foreach(k =>
      throw new IllegalStateException(s"oracle $k has no query"))
    (qs, os)
  }

  /** One entry per implemented operator from SURVEY.md §2, and for each
    * key the equivalent ANSI SQL runnable by DuckDB on the same parquet
    * tables. Built once.
    */
  val (queries, oracleSql) = registry(Modules)
}
