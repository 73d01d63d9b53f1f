package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The paged audience scan as a DataSource V2 (SURVEY §2.1 S4/S5, §4):
  * `spark.read.format("graft.sources.AudienceDataSource")
  *   .option("total", n).option("pageSize", 1000)`.
  *
  * - One `InputPartition` per page → page parallelism is partition
  *   parallelism, bounded by the cores Spark runs tasks on; it stands in
  *   for the reference's 10-concurrent page fan-out
  *   (`mailchimp/src/members.rs:24-48`).
  * - `SupportsPushDownRequiredColumns` mirrors the REST `fields=`
  *   projection param (`mailchimp/src/lib.rs:366-373`): pruned columns
  *   never leave the "API" (here: the deterministic synthetic audience;
  *   a production build swaps the page generator for an HTTP GET).
  *
  * This is the scale path for REST-shaped sources: Catalyst sees a
  * normal relation, column pruning reaches the wire protocol, and AQE
  * operates on real per-page statistics.
  */
class AudienceDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    AudienceDataSource.FullSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // getTable receives the ORIGINAL-case options map (DataSourceV2Utils
    // passes options.asCaseSensitiveMap()), so camelCase user options
    // like pageSize would miss a lowercase lookup — normalize first.
    val opts = new CaseInsensitiveStringMap(properties)
    new AudienceTable(opts.getLong("total", 1000L), opts.getInt("pageSize", 300))
  }
}

object AudienceDataSource {
  val FullSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("email", StringType, nullable = false),
    StructField("status", StringType, nullable = false),
    StructField("rating", IntegerType, nullable = false)))

  /** The deterministic "API" row for member i, by field name. */
  def field(i: Long, name: String): Any = name match {
    case "id"     => UTF8String.fromString(f"member_$i%06d")
    case "email"  => UTF8String.fromString(s"user$i@acme.org")
    case "status" => UTF8String.fromString(if (i % 17 == 0) "cleaned" else "subscribed")
    case "rating" => (i % 5).toInt
  }
}

final class AudienceTable(total: Long, pageSize: Int)
    extends Table with SupportsRead {
  override def name(): String = s"audience($total)"
  override def schema(): StructType = AudienceDataSource.FullSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new AudienceScanBuilder(total, pageSize)
}

final class AudienceScanBuilder(total: Long, pageSize: Int)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = AudienceDataSource.FullSchema

  override def pruneColumns(requiredSchema: StructType): Unit =
    // the `fields=` param of the REST call — only these leave the source
    required = requiredSchema

  override def build(): Scan = new Scan with Batch {
    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] =
      (0L until total by pageSize.toLong)
        .map(off => AudiencePage(off, math.min(off + pageSize, total),
          required.fieldNames): InputPartition)
        .toArray
    override def createReaderFactory(): PartitionReaderFactory =
      new AudienceReaderFactory
  }
}

final case class AudiencePage(start: Long, end: Long, fields: Array[String])
    extends InputPartition

final class AudienceReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val page = partition.asInstanceOf[AudiencePage]
    new PartitionReader[InternalRow] {
      private var i = page.start - 1
      override def next(): Boolean = { i += 1; i < page.end }
      override def get(): InternalRow =
        InternalRow.fromSeq(page.fields.toSeq.map(AudienceDataSource.field(i, _)))
      override def close(): Unit = ()
    }
  }
}
