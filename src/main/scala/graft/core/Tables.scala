package graft.core

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * One loader per table; every query goes through here so scale-sensitive
  * load decisions (column pruning happens downstream via Catalyst; type
  * normalization happens once, here) live in one place.
  */
object Tables {

  /** `<sfDir>/<name>.parquet`. A single file's schema is read from its
    * footer on the driver and handed to the reader. Without a schema,
    * `spark.read.parquet` runs a one-task Spark job on every call to infer
    * it, and that job's fixed cost dwarfs one footer read.
    * The footer goes through `ParquetFileFormat.readSchemaFromFooter` and a
    * `ParquetToSparkSchemaConverter` built from the session's conf, the same
    * conversion that job runs, so names, types, nullability and metadata
    * are Spark's own. It is read on every call, never kept, so a file
    * rewritten in place is read with its new schema. A directory of part
    * files (the shape at scale) and a missing path keep Spark's inference,
    * whose one job is noise beside a large scan and whose errors
    * ([PATH_NOT_FOUND]) are Spark's.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = new Path(s"$sfDir/$name.parquet")
    val conf = spark.sessionState.newHadoopConf()
    val isFile =
      try path.getFileSystem(conf).getFileStatus(path).isFile
      catch { case _: java.io.FileNotFoundException => false }
    if (!isFile) spark.read.parquet(path.toString)
    else {
      val footer = new Footer(path, ParquetFileReader.readFooter(conf, path, NO_FILTER))
      val schema = ParquetFileFormat.readSchemaFromFooter(footer,
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      spark.read.schema(schema).parquet(path.toString)
    }
  }

  def region(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")

  /** Conf for legacy fixtures whose `events.ts` is parquet TIMESTAMP(NANOS),
    * which Spark's reader rejects outright ([PARQUET_TYPE_ILLEGAL]) unless
    * read as a nanosecond long via this legacy conf. Since the 2026-08-13
    * fixture regen `events.ts` is TIMESTAMP(MICROS) and the conf changes
    * nothing there; the Bench/Verify/test builders still set it so a nanos
    * file reads too. Set at session construction, NOT inside a loader — a
    * loader mutating shared-session conf would silently change how later
    * parquet reads interpret TIMESTAMP(NANOS).
    */
  val NanosAsLongConf: (String, String) = ("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** The events table with `ts` as a session-tz TIMESTAMP, whatever its
    * on-disk unit ([[normalizeEventTs]]). A legacy nanos `ts` arrives as a
    * nanosecond long (see [[NanosAsLongConf]]) and is truncated to
    * microseconds — integer `div`, NOT `/`, because ns-since-epoch (~1.7e18)
    * exceeds double's 53-bit mantissa and float division would corrupt the
    * microsecond digits. DuckDB's `CAST(ts AS TIMESTAMP)` truncates ns->us
    * identically.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = eventsRead(spark, sfDir)
    normalizeEventTs(raw, raw.schema("ts").dataType)
  }

  /** Raw events read with the nanos-fixture failure made self-explanatory:
    * a TIMESTAMP(NANOS) fixture read in a session missing [[NanosAsLongConf]]
    * fails the footer's schema conversion with a bare [PARQUET_TYPE_ILLEGAL]
    * — rethrown here naming the conf to set.
    */
  private[graft] def eventsRead(spark: SparkSession, sfDir: String): DataFrame =
    try table(spark, sfDir, "events")
    catch {
      case e: Throwable if String.valueOf(e.getMessage).contains("PARQUET_TYPE_ILLEGAL") =>
        throw new IllegalStateException(
          s"events.parquet under $sfDir uses TIMESTAMP(NANOS) and this session lacks " +
            s"${NanosAsLongConf._1}=${NanosAsLongConf._2} (Tables.NanosAsLongConf) — set it at " +
            "session construction to read the nanos fixture as a long", e)
    }

  /** Dispatch on the fixture's on-disk ts type — EXPLICIT arms only, so a
    * regen to any unexpected type (e.g. STRING, MILLIS-as-int) fails loudly
    * here instead of silently casting (the events fixture has regenerated
    * mid-round twice; see FixtureContractSpec).
    */
  private[graft] def normalizeEventTs(raw: DataFrame,
                                      tsType: org.apache.spark.sql.types.DataType): DataFrame =
    tsType match {
      // legacy fixture: TIMESTAMP(NANOS) read as a nanosecond long (needs
      // NanosAsLongConf at session construction or the read itself throws
      // [PARQUET_TYPE_ILLEGAL]); truncate ns -> us in INTEGER arithmetic
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // current fixture (driver regen 2026-08-13): native TIMESTAMP(MICROS)
      // arrives as TIMESTAMP_NTZ; cast to session-tz timestamp (sessions
      // are pinned UTC, so the instant is unchanged and downstream sees the
      // exact same micros the legacy path produced)
      case org.apache.spark.sql.types.TimestampNTZType |
           org.apache.spark.sql.types.TimestampType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unexpected type $other: known fixture encodings are " +
            "TIMESTAMP(MICROS) (TIMESTAMP_NTZ/TIMESTAMP) and legacy TIMESTAMP(NANOS) " +
            s"read as LONG via ${NanosAsLongConf._1} — a fixture regen changed the unit; " +
            "extend Tables.normalizeEventTs AND FixtureContractSpec deliberately")
    }

  /** Embeddings with `embedding` cast float->double once at load: all vector
    * math is double (reference computes in Python floats = IEEE double —
    * /root/reference/mapper.py:26-30), and the DuckDB oracle mirrors with
    * CAST(embedding AS DOUBLE[]).
    */
  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "embeddings")
      .withColumn("embedding", col("embedding").cast("array<double>"))

  /** The K-Means input relation: points(vec_id BIGINT, coordinates ARRAY<DOUBLE>).
    * Reference: Data/Input/points.txt loaded at /root/reference/master.py:45-52.
    */
  def points(spark: SparkSession, sfDir: String): DataFrame =
    embeddings(spark, sfDir).select(col("vec_id"), col("embedding").as("coordinates"))

  /** [[points]] in DuckDB, for the oracles: the CTE `pts(vec_id, c)`. */
  val PointsCte: String = "pts AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS c FROM embeddings)"
}
