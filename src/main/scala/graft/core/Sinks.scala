package graft.core

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Sinks (SURVEY.md §2.1): the reference's two output shapes re-expressed
  * as declarative writes.
  *
  *   - final centroids CSV, one comma-joined vector per line, no id
  *     (/root/reference/master.py:72-75 writeOutput) -> parquet + text
  *   - map output partitioned by reduce key, one dir per key
  *     (/root/reference/mapper.py:71-84) -> `write.partitionBy`
  *
  * Registered as round-trip queries: write, read back, summarize — so the
  * oracle checks the whole write/read cycle, not just the plan.
  */
object Sinks extends graft.SparkEntry.Module {

  private def tmpDir(name: String): String = {
    val d = new java.io.File(s"target/sink_tmp/$name")
    d.mkdirs()
    d.getAbsolutePath
  }

  /** Centroid CSV sink (writeOutput parity): comma-joined coordinates. */
  def writeCentroidsCsv(centroids: DataFrame, path: String): Unit =
    centroids
      .select(concat_ws(",", transform(col("coordinates"), x => x.cast("string"))).as("value"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).text(path)

  /** Partitioned sink (mapper partition files parity): one directory per
    * reduce key, `partitionBy` replacing the hand-rolled file naming.
    */
  def writePartitioned(assigned: DataFrame, path: String): Unit =
    assigned.write.mode(SaveMode.Overwrite).partitionBy("cid").parquet(path)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Write iter-1 centroids as CSV text, read back, re-parse, emit
    // (cid-less) per-line vector heads — proving the full text round trip.
    "q_sink_centroids" -> { (s, dir) =>
      val means = graft.kmeans.Lloyd.updateExplode(
        graft.kmeans.Lloyd.assign(Tables.points(s, dir),
          graft.kmeans.Lloyd.initCentroidsFor(s, dir, graft.kmeans.KmeansQueries.K)))
        .withColumn("coordinates", transform(col("coordinates"), x => round(x, 7) + lit(0.0)))
      val path = tmpDir(s"centroids_${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
      writeCentroidsCsv(means, path)
      s.read.text(path)
        .select(transform(split(col("value"), ","), x => x.cast("double")).as("c"))
        .select(element_at(col("c"), 1).as("c0"), size(col("c")).cast("long").as("n_dims"))
        .orderBy("c0")
    },
    // Write the iter-1 assignment partitioned by cid, read it back, count
    // per partition — the declarative equivalent of the mapper's
    // per-(mapper, reducer) partition files.
    "q_sink_partitioned" -> { (s, dir) =>
      val assigned = graft.kmeans.Lloyd.assign(Tables.points(s, dir),
        graft.kmeans.Lloyd.initCentroidsFor(s, dir, graft.kmeans.KmeansQueries.K))
      val path = tmpDir(s"assigned_${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
      writePartitioned(assigned, path)
      s.read.parquet(path)
        .groupBy(col("cid").cast("int").as("cid"))
        .agg(count(lit(1)).as("n_points"))
        .orderBy("cid")
    },
    // Partition-pruned read-back: filter the partitioned sink on the
    // partition column — the scan plans PartitionFilters and touches only
    // the matching cid directories (2 of K), never listing the rest's
    // files. THIS is why the sink partitions by reduce key: at 100 TB a
    // reader of one key reads 1/K of the bytes. Plan-asserted in
    // PlanPropertiesSpec.
    "q_sink_pruned" -> { (s, dir) =>
      val assigned = graft.kmeans.Lloyd.assign(Tables.points(s, dir),
        graft.kmeans.Lloyd.initCentroidsFor(s, dir, graft.kmeans.KmeansQueries.K))
      val path = tmpDir(s"assigned_${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
      writePartitioned(assigned, path)
      s.read.parquet(path)
        .filter(col("cid").isin(0, 1))
        .groupBy(col("cid").cast("int").as("cid"))
        .agg(count(lit(1)).as("n_points"))
        .orderBy("cid")
    }
  )

  def oracleSql: Map[String, String] = Map(
    // The round trip preserves values (7-dec rounding before write; both
    // engines parse shortest-roundtrip doubles), so the oracle recomputes
    // the iter-1 mean heads directly.
    "q_sink_centroids" ->
      s"""${graft.kmeans.KmeansQueries.preludeSql},
         |means AS (${graft.kmeans.Lloyd.meansSql("assign", Some(7))})
         |SELECT min(CASE WHEN i = 1 THEN m END) AS c0, count(*) AS n_dims
         |FROM means GROUP BY cid ORDER BY c0""".stripMargin,
    // Identical result set to q_groupby_key: partition counts survive the
    // partitioned write/read round trip.
    "q_sink_partitioned" -> graft.kmeans.KmeansQueries.oracleSql("q_groupby_key"),
    "q_sink_pruned" ->
      s"""${graft.kmeans.KmeansQueries.preludeSql}
         |SELECT cid, count(*) AS n_points FROM assign
         |WHERE cid IN (0, 1) GROUP BY cid ORDER BY cid""".stripMargin
  )
}
