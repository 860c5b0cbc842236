package graft.sources

import org.apache.parquet.example.data.Group
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Decoding of parquet Groups (parquet-hadoop's example API — no
  * Spark-internal reader classes) into Spark rows/values, shared by
  * the change-feed reader ([[FeedParquetReaderFactory]]), the catalog
  * table scan ([[GraftChainScan]]) and the driver-side reads of
  * protocol-owned metadata dirs ([[readRows]]: manifests, deletion
  * vectors, equality-delete keys). Fields resolve BY NAME against the
  * file schema, primitives convert directly, INT96 timestamps decode
  * to micros; decimals, structs and maps (the manifest's stats
  * columns) decode to their Catalyst forms. Arrays are rejected with
  * a clear error — no chain table or manifest carries one. */
private[sources] object GroupParquet {

  /** One field of `g` as a Spark-internal value for `dataType`
    * (UTF8String for strings), or null when absent/unset. */
  def fieldValue(g: Group, name: String, dataType: DataType): Any = {
    val gt = g.getType
    if (!gt.containsField(name)) return null
    val i = gt.getFieldIndex(name)
    if (g.getFieldRepetitionCount(i) == 0) null
    else valueAt(g, i, dataType)
  }

  /** The (single) value of field `i` of `g`, known to be set. */
  private def valueAt(g: Group, i: Int, dataType: DataType): Any = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    def physical = g.getType.getType(i).asPrimitiveType()
      .getPrimitiveTypeName
    dataType match {
      case StringType => UTF8String.fromString(g.getString(i, 0))
      case LongType => g.getLong(i, 0)
      case IntegerType => g.getInteger(i, 0)
      case ShortType => g.getInteger(i, 0).toShort
      case ByteType => g.getInteger(i, 0).toByte
      case DoubleType => g.getDouble(i, 0)
      case FloatType => g.getFloat(i, 0)
      case BooleanType => g.getBoolean(i, 0)
      case BinaryType => g.getBinary(i, 0).getBytes
      case DateType => g.getInteger(i, 0)
      case TimestampNTZType => g.getLong(i, 0)
      case TimestampType =>
        physical match {
          case PrimitiveTypeName.INT64 => g.getLong(i, 0)
          case PrimitiveTypeName.INT96 =>
            // 8 LE bytes nanos-of-day + 4 LE bytes julian day
            val b = g.getInt96(i, 0).getBytes
            val buf = java.nio.ByteBuffer.wrap(b)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            val nanos = buf.getLong
            val julian = buf.getInt
            (julian - 2440588L) * 86400000000L + nanos / 1000L
          case t => throw new UnsupportedOperationException(
            s"timestamp physical type $t")
        }
      // Spark writes precision <= 9 as INT32, <= 18 as INT64, wider
      // as a big-endian two's-complement byte array
      case d: DecimalType => physical match {
        case PrimitiveTypeName.INT32 =>
          Decimal(g.getInteger(i, 0).toLong, d.precision, d.scale)
        case PrimitiveTypeName.INT64 =>
          Decimal(g.getLong(i, 0), d.precision, d.scale)
        case _ => Decimal(new java.math.BigDecimal(
          new java.math.BigInteger(g.getBinary(i, 0).getBytes), d.scale),
          d.precision, d.scale)
      }
      case st: StructType => decode(g.getGroup(i, 0), st)
      // MAP group > repeated key_value group > (key, value)
      case MapType(kt, vt, _) =>
        val m = g.getGroup(i, 0)
        val n = m.getFieldRepetitionCount(0)
        val ks = new Array[Any](n)
        val vs = new Array[Any](n)
        var j = 0
        while (j < n) {
          val kv = m.getGroup(0, j)
          ks(j) = valueAt(kv, 0, kt)
          vs(j) = if (kv.getFieldRepetitionCount(1) == 0) null
            else valueAt(kv, 1, vt)
          j += 1
        }
        new ArrayBasedMapData(new GenericArrayData(ks),
          new GenericArrayData(vs))
      case t => throw new UnsupportedOperationException(
        s"cannot decode column '${g.getType.getFieldName(i)}' of type " +
          s"${t.simpleString}")
    }
  }

  /** The whole group as an InternalRow shaped by `schema`. */
  def decode(g: Group, schema: StructType): InternalRow =
    InternalRow.fromSeq(schema.fields.toIndexedSeq.map(f =>
      fieldValue(g, f.name, f.dataType)))

  /** A field decoded to a JVM-comparable value (String, not
    * UTF8String) — the equality-delete matcher's currency. */
  def plainValue(g: Group, name: String, dataType: DataType): Any =
    fieldValue(g, name, dataType) match {
      case u: UTF8String => u.toString
      case b: Array[Byte] => b.toSeq
      case v => v
    }

  /** Open a Group reader over one parquet file. */
  def open(path: String, conf: org.apache.hadoop.conf.Configuration)
      : org.apache.parquet.hadoop.ParquetReader[Group] = {
    @annotation.nowarn("cat=deprecation")
    val r = org.apache.parquet.hadoop.ParquetReader
      .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
        new org.apache.hadoop.fs.Path(path))
      .withConf(conf)
      .build()
    r
  }

  /** Fold every row of `paths` through `f` (driver- or executor-side
    * sidecar loading: DV positions, equality-delete keys). */
  def foreachRow(paths: Seq[String],
                 conf: org.apache.hadoop.conf.Configuration)
                (f: Group => Unit): Unit =
    paths.foreach { p =>
      val r = open(p, conf)
      try {
        var g = r.read()
        while (g != null) { f(g); g = r.read() }
      } finally r.close()
    }

  /** A parquet file's footer (schema, row groups, key-value
    * metadata) — one ranged read, no data pages. */
  def footer(path: String, conf: org.apache.hadoop.conf.Configuration)
      : org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val r = openFile(path, conf)
    try r.getFooter finally r.close()
  }

  private def openFile(path: String,
                       conf: org.apache.hadoop.conf.Configuration) =
    org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), conf))

  /** Every row of the parquet files `paths`, decoded on the calling
    * thread — no Spark job — into Catalyst rows shaped by `schema`.
    * Only `schema`'s columns are read from the files (the column
    * chunks of the others are never fetched). The driver-side reader
    * of small protocol-owned dirs ([[ManifestPrune.dirRows]]). */
  def readRows(paths: Seq[String], schema: StructType,
               conf: org.apache.hadoop.conf.Configuration)
      : IndexedSeq[InternalRow] = {
    import scala.jdk.CollectionConverters._
    val out = IndexedSeq.newBuilder[InternalRow]
    val wanted = schema.fieldNames.toSet
    paths.foreach { p =>
      val r = openFile(p, conf)
      try {
        val fileSchema = r.getFooter.getFileMetaData.getSchema
        val proj = new org.apache.parquet.schema.MessageType(
          fileSchema.getName,
          fileSchema.getFields.asScala.filter(t => wanted(t.getName))
            .asJava)
        r.setRequestedSchema(proj)
        val io = new org.apache.parquet.io.ColumnIOFactory()
          .getColumnIO(proj, fileSchema)
        var pages = r.readNextRowGroup()
        while (pages != null) {
          val rr = io.getRecordReader(pages,
            new org.apache.parquet.example.data.simple.convert
              .GroupRecordConverter(proj))
          var n = 0L
          while (n < pages.getRowCount) {
            out += decode(rr.read(), schema); n += 1
          }
          pages = r.readNextRowGroup()
        }
      } finally r.close()
    }
    out.result()
  }

  // ------------------------------------------------ the WRITE half

  import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

  /** Spark StructType → parquet MessageType for the staged-write
    * path (flat primitives — the chain's table contract; timestamps
    * land as INT64 micros UTC-adjusted, which Spark reads back as
    * TimestampType bit-for-bit). */
  def messageType(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val opt = Types.optional(_: PrimitiveTypeName)
      f.dataType match {
        case StringType => b.addField(opt(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(f.name))
        case LongType => b.addField(
          opt(PrimitiveTypeName.INT64).named(f.name))
        case IntegerType => b.addField(
          opt(PrimitiveTypeName.INT32).named(f.name))
        case DoubleType => b.addField(
          opt(PrimitiveTypeName.DOUBLE).named(f.name))
        case FloatType => b.addField(
          opt(PrimitiveTypeName.FLOAT).named(f.name))
        case BooleanType => b.addField(
          opt(PrimitiveTypeName.BOOLEAN).named(f.name))
        case BinaryType => b.addField(
          opt(PrimitiveTypeName.BINARY).named(f.name))
        case DateType => b.addField(opt(PrimitiveTypeName.INT32)
          .as(LogicalTypeAnnotation.dateType()).named(f.name))
        case TimestampType => b.addField(opt(PrimitiveTypeName.INT64)
          .as(LogicalTypeAnnotation.timestampType(true,
            LogicalTypeAnnotation.TimeUnit.MICROS)).named(f.name))
        case t => throw new UnsupportedOperationException(
          s"cannot stage column '${f.name}' of type ${t.simpleString} " +
            "— the chain's tables are flat primitive columns")
      }
    }
    b.named("graft_staged")
  }

  /** Open a Group writer over one parquet file (executor-side
    * staging for the DSv2 streaming sink / delta writes). */
  def openWriter(path: String, schema: StructType,
                 conf: org.apache.hadoop.conf.Configuration)
      : org.apache.parquet.hadoop.ParquetWriter[Group] = {
    val mt = messageType(schema)
    org.apache.parquet.hadoop.example.GroupWriteSupport
      .setSchema(mt, conf)
    @annotation.nowarn("cat=deprecation")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path))
      .withConf(conf)
      .withType(mt)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    w
  }

  /** One InternalRow as a Group under `schema` (nulls skipped — the
    * optional-field convention). */
  def toGroup(row: InternalRow, schema: StructType,
              factory: org.apache.parquet.example.data.simple
                .SimpleGroupFactory): Group = {
    val g = factory.newGroup()
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      if (!row.isNullAt(i)) f.dataType match {
        case StringType => g.append(f.name, row.getUTF8String(i).toString)
        case LongType | TimestampType => g.append(f.name, row.getLong(i))
        case IntegerType | DateType => g.append(f.name, row.getInt(i))
        case DoubleType => g.append(f.name, row.getDouble(i))
        case FloatType => g.append(f.name, row.getFloat(i))
        case BooleanType => g.append(f.name, row.getBoolean(i))
        case BinaryType => g.append(f.name,
          org.apache.parquet.io.api.Binary
            .fromConstantByteArray(row.getBinary(i)))
        case t => throw new UnsupportedOperationException(
          s"cannot stage column '${f.name}' of type ${t.simpleString}")
      }
    }
    g
  }
}
