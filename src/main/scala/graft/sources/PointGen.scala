package graft.sources

import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.{Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `pointgen` — a first-class DataSource V2 table that GENERATES the
  * reference's point cloud instead of reading it from disk, re-expressing
  * the reference's hand-rolled input pipeline as engine primitives:
  *
  *   - the reference's range split (`master.py:28-43` computes `[start,
  *     end)` line ranges, `mapper.py:15-24` re-reads the whole file and
  *     keeps its slice) becomes `Batch.planInputPartitions`: each
  *     `InputPartition` IS a contiguous id range, each reader generates
  *     only its slice — no shared-file re-read, no driver loop;
  *   - the reference's fixed x/y schema (`kmeans.proto:5-7`) becomes a
  *     declared `StructType` the optimizer can prune: `SupportsPushDown
  *     RequiredColumns` narrows generation to requested fields (an unread
  *     coordinate is never even computed);
  *   - id-range predicates push INTO partition planning via
  *     `SupportsPushDownFilters`: `id >= lo / id < hi` shrink the
  *     generated domain before splits are laid out, so a filtered read
  *     plans fewer/narrower partitions — the DSv2 analog of parquet
  *     row-group skipping. Non-id filters stay residual (returned back to
  *     Spark, evaluated post-scan).
  *
  * Rows are a pure function of id (the md5 prefix of [[graft.core.Hash]],
  * the repo-wide determinism discipline), so the DuckDB oracle regenerates
  * the identical table from `range(n)` — the source is oracle-checkable
  * end to end.
  *
  * At 100 TB-scale the same shape serves any deterministic synthetic
  * benchmark corpus: planning cost is O(partitions), state per reader is
  * O(1), and there is no driver-side materialization of any kind.
  */
object PointGen {
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false),
    StructField("bucket", IntegerType, nullable = false)))

  /** Coordinate in [-10000.00, 10000.00) with two decimals: the hash of
    * `tag || id` as an exact integer divided by 100 — the same IEEE
    * division in both engines.
    */
  def coord(tag: String, id: Long): Double =
    (graft.core.Hash.prefixOf(s"$tag$id") % 2000000L - 1000000L) / 100.0
}

/** `spark.read.format("graft.sources.PointGen").option("rows", n)
  * .option("partitions", p)` — `format` resolves this provider class by
  * name; no registry file needed.
  */
class PointGen extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = PointGen.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new PointGenTable(
      properties.getOrDefault("rows", "1000").toLong,
      properties.getOrDefault("partitions", "4").toInt)
}

final class PointGenTable(rows: Long, partitions: Int) extends Table with SupportsRead {
  override def name(): String = s"pointgen($rows)"
  override def schema(): StructType = PointGen.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PointGenScanBuilder(rows, partitions)
}

final class PointGenScanBuilder(rows: Long, partitions: Int)
  extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var lo = 0L
  private var hi = rows
  private var pushed = Array.empty[Filter]
  private var required: StructType = PointGen.Schema

  /** id-range conjuncts tighten [lo, hi) BEFORE partition planning; all
    * filters are also returned as residual (Spark re-checks them — cheap,
    * and keeps the contract simple for non-range shapes like id IN).
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.flatMap {
      case f @ GreaterThanOrEqual("id", v: Number) => lo = math.max(lo, v.longValue); Some(f)
      case f @ GreaterThan("id", v: Number)        => lo = math.max(lo, v.longValue + 1); Some(f)
      case f @ LessThan("id", v: Number)           => hi = math.min(hi, v.longValue); Some(f)
      case f @ LessThanOrEqual("id", v: Number)    => hi = math.min(hi, v.longValue + 1); Some(f)
      case _ => None
    }
    filters // everything stays residual; pushed ones only narrowed planning
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = requiredSchema
  }

  override def build(): Scan = new PointGenScan(lo, math.max(lo, hi), partitions, required)
}

final case class PointGenRange(start: Long, end: Long, schema: StructType)
  extends InputPartition

final class PointGenScan(lo: Long, hi: Long, partitions: Int, required: StructType)
  extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"PointGen range=[$lo,$hi) partitions=$partitions cols=${required.fieldNames.mkString(",")}"

  /** The reference's `inputSplit` as partition planning: contiguous id
    * ranges, remainder spread one-per-partition from the front (never a
    * fat last split — `master.py:36-38` gives the whole remainder to the
    * last mapper; balanced splits are the scalable spelling).
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val n = hi - lo
    if (n <= 0) return Array.empty
    val p = math.max(1, math.min(partitions.toLong, n)).toInt
    val base = n / p
    val rem = n % p
    val out = new Array[InputPartition](p)
    var start = lo
    var i = 0
    while (i < p) {
      val len = base + (if (i < rem) 1L else 0L)
      out(i) = PointGenRange(start, start + len, required)
      start += len
      i += 1
    }
    out
  }

  override def createReaderFactory(): PartitionReaderFactory = new PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val PointGenRange(start, end, schema) = partition
      new PartitionReader[InternalRow] {
        private var id = start - 1
        // column generators resolved once per reader, not per row
        private val gens: Array[Long => Any] = schema.fieldNames.map {
          case "id"     => (i: Long) => i
          case "x"      => (i: Long) => PointGen.coord("px:", i)
          case "y"      => (i: Long) => PointGen.coord("py:", i)
          case "bucket" => (i: Long) => (i % 16L).toInt
        }
        override def next(): Boolean = { id += 1; id < end }
        override def get(): InternalRow = InternalRow.fromSeq(gens.map(_(id)).toSeq)
        override def close(): Unit = ()
      }
    }
  }
}
