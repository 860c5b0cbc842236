package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** The splittable tag-XML scanner as a first-class **DataSource V2** —
  * the deployment-grade face of [[SplittableXml]]:
  *
  * {{{
  *   spark.read.format("graft-xml")
  *     .option("rowTag", "page").load("/dumps/part-0.xml")
  * }}}
  *
  * completes the engine's extension ladder with the connector
  * category (beside codegen Expressions, a Generator, custom
  * aggregates, a physical operator, six optimizer rules and the
  * session-extensions hook): split planning, task creation and the
  * chunked-buffer record iterator are the SAME code the RDD path
  * runs, but surfaced through the connector API so any SQL-first
  * deployment (catalog tables, `CREATE TABLE ... USING graft-xml`)
  * can consume the dump without touching Scala.
  *
  * V2 specifics done properly:
  *  - `planInputPartitions` emits one partition per planned byte range
  *    ([[SplittableXml.planSplits]] — in-file splitting the native XML
  *    source lacks, whole-file fallback for compressed inputs);
  *  - the Hadoop conf ships once inside the serialized reader factory,
  *    not per partition;
  *  - `SupportsPushDownRequiredColumns` is honored: a `count(*)` over
  *    the source prunes to an EMPTY schema and the readers emit
  *    zero-width rows — records are still walked (the tag scan is the
  *    row count) but no string materializes per row.
  */
class XmlSourceV2 extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-xml"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    XmlSourceV2.Schema
  /** A path that matches nothing fails here, so `load` fails as
    * Spark's own file sources do, not the first action. */
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    Option(options.get("path"))
      .foreach(SplittableXml.globMatches(SparkSession.active, _))
    new XmlTable(options)
  }
}

object XmlSourceV2 {
  val Schema: StructType =
    StructType(Seq(StructField("value", StringType, nullable = false)))
}

private[sources] class XmlTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"graft-xml:${options.get("path")}"
  override def schema(): StructType = XmlSourceV2.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new XmlScanBuilder(opts)
}

private[sources] class XmlScanBuilder(opts: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  import org.apache.spark.sql.sources.{EqualTo, Filter, IsNotNull, StringContains, StringStartsWith}

  private var required: StructType = XmlSourceV2.Schema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** String predicates on `value` run as a PRE-ROW byte screen inside
    * the record scanner: a non-matching record costs one substring
    * probe on the already-decoded tag slice instead of an InternalRow
    * + UTF8String allocation + a codegen filter eval — on a dump scan
    * where the predicate is selective (one title among millions) the
    * row-materialization cost disappears. All four accepted shapes
    * are EXACTLY enforceable on the raw record string, so they are
    * fully consumed (no residual re-evaluation above the scan). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accept, residual) = filters.partition {
      case StringContains("value", v) => v != null
      case StringStartsWith("value", v) => v != null
      case EqualTo("value", v: String) => v != null
      case IsNotNull("value") => true
      case _ => false
    }
    pushed = accept
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = {
    val path = Option(opts.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-xml: .load(path) required"))
    val rowTag = Option(opts.get("rowTag")).getOrElse("page")
    val splitBytes = Option(opts.get("splitBytes")).map(_.toLong).getOrElse(0L)
    val screens: Array[(String, String)] = pushed.map {
      case StringContains(_, v) => ("contains", v)
      case StringStartsWith(_, v) => ("startsWith", v)
      case EqualTo(_, v: String) => ("equals", v)
      case IsNotNull(_) => ("notnull", "")
      case f => throw new IllegalStateException(s"unpushable $f")
    }
    new XmlScan(path, rowTag, splitBytes, required, screens,
      pushed.mkString(", "))
  }
}

private[sources] case class XmlRangePartition(split: SplittableXml.XmlSplit)
    extends InputPartition

private[sources] class XmlScan(path: String, rowTag: String,
                               splitBytes: Long, required: StructType,
                               screens: Array[(String, String)],
                               pushedDesc: String)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-xml $path PushedFilters: [$pushedDesc] " +
      s"ReadColumns: [${required.fieldNames.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val bytes =
      if (splitBytes > 0) splitBytes
      else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes"))
    SplittableXml.planSplits(spark, path, bytes)
      .map(XmlRangePartition(_): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new XmlReaderFactory(
      new SerializableConfiguration(
        SparkSession.active.sparkContext.hadoopConfiguration),
      s"<$rowTag>".getBytes("UTF-8"), s"</$rowTag>".getBytes("UTF-8"),
      emitValue = required.nonEmpty, screens)
}

private[sources] class XmlReaderFactory(conf: SerializableConfiguration,
                                        startTag: Array[Byte],
                                        endTag: Array[Byte],
                                        emitValue: Boolean,
                                        screens: Array[(String, String)])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val it = new TagRecordIterator(conf.value,
      p.asInstanceOf[XmlRangePartition].split, startTag, endTag,
      (bytes, len) => new String(bytes, 0, len, "UTF-8"))
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _

      // the pushed-filter byte screen: a record failing any accepted
      // predicate is dropped BEFORE a row materializes (no
      // InternalRow, no UTF8String, no downstream filter eval)
      private def passes(rec: String): Boolean = {
        var i = 0
        while (i < screens.length) {
          val (kind, v) = screens(i)
          val ok = kind match {
            case "contains" => rec.contains(v)
            case "startsWith" => rec.startsWith(v)
            case "equals" => rec == v
            case _ => rec != null // notnull: records are never null
          }
          if (!ok) return false
          i += 1
        }
        true
      }

      override def next(): Boolean = {
        while (it.hasNext) {
          val rec = it.next()
          if (passes(rec)) {
            cur = if (emitValue) InternalRow(UTF8String.fromString(rec))
            else InternalRow.empty
            return true
          }
        }
        false
      }
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}
