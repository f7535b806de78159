package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Custom DataSourceV2 connector: a deterministic generated table
  * (`spark.read.format("graft.sources.GenSource")`), the same engine
  * surface the reference exercises through DataFusion's ListingTable —
  * here built on Spark's connector API with REAL pushdown:
  *
  *  - `SupportsPushDownFilters`: range predicates on `id` narrow the
  *    generation interval itself (rows that can't match are never
  *    produced — the connector-level analog of partition pruning).
  *    Non-id predicates are returned as residuals for Spark to apply.
  *  - `SupportsPushDownRequiredColumns`: the reader materializes only
  *    requested columns (column pruning at the source).
  *  - Partition-parallel: the id interval splits into `partitions`
  *    equal ranges, one `InputPartition` each — at scale this is how a
  *    generator/JDBC-like source feeds every executor.
  *
  * Row recipe (engine-portable, mirrored by the DuckDB oracle):
  * h = md5-hash31(id as string); val = (h % 1e6)/1e6; cat = 'c' || id%7.
  */
class GenSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GenSource.schema
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GenTable(
      properties.getOrDefault("rows", "1000").toLong,
      properties.getOrDefault("partitions", "8").toInt)
}

object GenSource {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("val", DoubleType, nullable = false),
    StructField("cat", StringType, nullable = false)))
}

final class GenTable(rows: Long, partitions: Int) extends Table with SupportsRead {
  override def name(): String = s"gen($rows)"
  override def schema(): StructType = GenSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GenScanBuilder(rows, partitions)
}

final class GenScanBuilder(rows: Long, partitions: Int)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var lo = 0L          // inclusive generation bound
  private var hi = rows        // exclusive generation bound
  private var pushed = Array.empty[Filter]
  private var required: StructType = GenSource.schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (handled, residual) = filters.partition {
      case GreaterThan("id", _: java.lang.Long) => true
      case GreaterThanOrEqual("id", _: java.lang.Long) => true
      case LessThan("id", _: java.lang.Long) => true
      case LessThanOrEqual("id", _: java.lang.Long) => true
      case EqualTo("id", _: java.lang.Long) => true
      case _ => false
    }
    handled.foreach {
      case GreaterThan("id", v: java.lang.Long) => lo = math.max(lo, v + 1)
      case GreaterThanOrEqual("id", v: java.lang.Long) => lo = math.max(lo, v)
      case LessThan("id", v: java.lang.Long) => hi = math.min(hi, v)
      case LessThanOrEqual("id", v: java.lang.Long) => hi = math.min(hi, v + 1)
      case EqualTo("id", v: java.lang.Long) =>
        lo = math.max(lo, v); hi = math.min(hi, v + 1)
      case _ =>
    }
    pushed = handled
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new GenScan(lo, hi, partitions, required)
}

final case class GenPartition(lo: Long, hi: Long) extends InputPartition

final class GenScan(lo: Long, hi: Long, partitions: Int, required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GenScan range=[$lo,$hi) cols=${required.fieldNames.mkString(",")}"

  override def planInputPartitions(): Array[InputPartition] = {
    val n = math.max(1L, hi - lo)
    val per = (n + partitions - 1) / partitions
    (0 until partitions).iterator
      .map(i => GenPartition(lo + i * per, math.min(hi, lo + (i + 1) * per)))
      .filter(p => p.lo < p.hi)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val req = required // serialize only the schema, not the Scan
    (partition: InputPartition) => {
      val p = partition.asInstanceOf[GenPartition]
      new PartitionReader[InternalRow] {
        private var id = p.lo - 1
        override def next(): Boolean = { id += 1; id < p.hi }
        override def get(): InternalRow = {
          val h = graft.functions.EngineFns.hash31Value(id.toString)
          InternalRow.fromSeq(req.fieldNames.toSeq.map {
            case "id" => id
            case "val" => (h % 1000000L).toDouble / 1000000.0
            case "cat" => UTF8String.fromString("c" + (id % 7))
          })
        }
        override def close(): Unit = ()
      }
    }
  }
}
