package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** DataSourceV2 batch source for NBU-style raw landing files (SURVEY.md
  * §2.1 S2): pretty-printed JSON ARRAYS, one file per ingest day.
  *
  * Why it exists: Spark's JSON reader needs `multiLine=true` for array
  * files, which forces one task for the whole glob's file — the
  * parallelism cliff SURVEY §7.3 flags. This source plans ONE INPUT
  * PARTITION PER FILE, so a backfill over years of daily landings parses
  * in parallel while keeping the landing format untouched. Column
  * pruning is pushed into the reader (SupportsPushDownRequiredColumns):
  * pruned fields are never materialized into rows.
  *
  * Usage: spark.read.format("graft.sources.NbuRawSource")
  *   .option("path", dir).load()
  *
  * Scale note: file listing happens once at planning; at 100 TB-scale
  * landing zones the same design works with a partitioned listing
  * (ingest_date= dirs) and per-file readers remain independent tasks.
  */
class NbuRawSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    NbuRawSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new NbuRawTable(properties.get("path"))
}

object NbuRawSource {
  val schema: StructType = graft.pipeline.CurrencyPipeline.rawSchema
}

class NbuRawTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"nbu_raw($path)"
  override def schema(): StructType = NbuRawSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new NbuRawScanBuilder(path)
}

class NbuRawScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = NbuRawSource.schema

  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve source field order for a stable reader loop
    required = StructType(NbuRawSource.schema.fields
      .filter(f => requiredSchema.fieldNames.contains(f.name)))

  override def build(): Scan = new NbuRawScan(path, required)
}

case class NbuRawFilePartition(file: String) extends InputPartition

class NbuRawScan(path: String, required: StructType) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  // one partition per landed file — this is the parallelism fix
  override def planInputPartitions(): Array[InputPartition] = {
    def listJson(f: java.io.File): Seq[java.io.File] =
      if (f.isFile) Seq(f).filter(_.getName.endsWith(".json"))
      else Option(f.listFiles()).toSeq.flatten.flatMap(listJson)
    listJson(new java.io.File(path)).sortBy(_.getPath)
      .map(f => NbuRawFilePartition(f.getPath): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new NbuRawReaderFactory(required)
}

class NbuRawReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new NbuRawFileReader(p.asInstanceOf[NbuRawFilePartition].file, required)
}

/** Parses one whole pretty-printed JSON array file (executor-side,
  * Jackson streaming — no whole-file DOM). */
class NbuRawFileReader(file: String, required: StructType)
    extends PartitionReader[InternalRow] {
  import com.fasterxml.jackson.core.{JsonFactory, JsonToken}

  private val parser = new JsonFactory()
    .createParser(new java.io.File(file))
  locally {
    val first = parser.nextToken()
    require(first == JsonToken.START_ARRAY,
      s"$file: expected a JSON array, got $first")
  }
  private var row: InternalRow = _

  override def next(): Boolean = {
    if (parser.nextToken() != JsonToken.START_OBJECT) return false
    val values = new Array[Any](required.length)
    var tok = parser.nextToken()
    while (tok == JsonToken.FIELD_NAME) {
      val name = parser.currentName()
      parser.nextToken()
      val idx = required.fieldNames.indexOf(name)
      if (idx >= 0) {
        // JSON null → SQL NULL (leave the slot unset), matching Spark's
        // built-in JSON reader on sparse payloads; getLongValue/getText
        // on VALUE_NULL would yield 0 / the literal string "null"
        if (parser.currentToken() != JsonToken.VALUE_NULL) {
          values(idx) = required.fields(idx).dataType match {
            case LongType => parser.getLongValue
            case DoubleType => parser.getDoubleValue
            case _ => UTF8String.fromString(parser.getText)
          }
        }
      } else parser.skipChildren() // pruned or unknown field
      tok = parser.nextToken()
    }
    row = InternalRow.fromSeq(values.toSeq)
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = parser.close()
}
