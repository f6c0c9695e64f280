package graft.sources

import java.nio.file.{Path => NioPath}

import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetWriter}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The one staged-file payload of the commit sink: columnar chunks
  * with dictionary/RLE encodings and snappy compression, column
  * projection that skips whole chunks, and the full declared-type
  * surface the CDC path produces — TIMESTAMP / TIMESTAMP_NTZ (INT64
  * micros, the adjustedToUTC flag distinguishing them), DATE (INT32
  * days), DECIMAL (INT64 unscaled for p ≤ 18, 16-byte fixed for
  * wider), FLOAT, SMALLINT/TINYINT (INT32 with bit-width annotation).
  * The reference's sink models a ClickHouse DDL with real
  * Date/DateTime/Decimal columns (consumer_to_file.py:145-150); this is
  * the payload that lets the graft-commit table hold them.
  *
  * ENCODE (r20) streams InternalRows straight into parquet-java's page
  * writers through a custom [[InternalRowWriteSupport]] — no per-row
  * example-Group allocation or primitive boxing (the Group path this
  * replaced built an Object[] per field and traversed every row twice).
  * DECODE (r20, [[FileRows]]) assembles each row's values straight into
  * one reused array in their Spark-internal representation (one file
  * group per input partition at the sink's task boundary), while every
  * DRIVER-side read path (`readCommitted`, compact, DML re-reads) goes
  * through `spark.read.parquet` and gets Spark's native vectorized
  * scan. All values round-trip bit-exactly: numerics and timestamps are
  * stored in their InternalRow representation (micros/days/unscaled),
  * strings as UTF-8 bytes.
  */
private[graft] object ParquetPayload {

  /** Validate a caller's `payload` choice (write option or table
    * property). Parquet is the only format; any other value is refused
    * with this one message, so a caller who asked for the retired
    * JSON-lines payload never silently gets parquet. */
  def requireChoice(choice: Option[String]): Unit =
    choice.map(_.trim.toLowerCase).foreach(p => require(p == "parquet",
      s"graft-commit: payload '$p' is not supported — parquet is the only " +
        "staged-file format (the JSON-lines payload is retired)"))

  /** Spark types the payload accepts — the scalar set plus the
    * declared-schema (TYPE_MAPPING) types. */
  def supported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | StringType | BooleanType => true
    case FloatType | ShortType | ByteType | DateType => true
    case TimestampType | TimestampNTZType => true
    case d: DecimalType => d.precision <= 38
    case _ => false
  }

  /** All fields optional: SQL-nullable. */
  private def toParquetField(f: StructField): Type = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation => LTA}
    val b = f.dataType match {
      case LongType        => Types.optional(INT64)
      case IntegerType     => Types.optional(INT32)
      case ShortType       => Types.optional(INT32).as(LTA.intType(16, true))
      case ByteType        => Types.optional(INT32).as(LTA.intType(8, true))
      case DoubleType      => Types.optional(DOUBLE)
      case FloatType       => Types.optional(FLOAT)
      case BooleanType     => Types.optional(BOOLEAN)
      case StringType      => Types.optional(BINARY).as(LTA.stringType())
      case DateType        => Types.optional(INT32).as(LTA.dateType())
      case TimestampType   =>
        Types.optional(INT64).as(LTA.timestampType(true, LTA.TimeUnit.MICROS))
      case TimestampNTZType =>
        Types.optional(INT64).as(LTA.timestampType(false, LTA.TimeUnit.MICROS))
      case d: DecimalType if d.precision <= 18 =>
        Types.optional(INT64).as(LTA.decimalType(d.scale, d.precision))
      case d: DecimalType =>
        Types.optional(FIXED_LEN_BYTE_ARRAY).length(16)
          .as(LTA.decimalType(d.scale, d.precision))
      case t => sys.error(s"graft-commit parquet payload: unsupported type $t")
    }
    b.named(f.name)
  }

  def message(schema: StructType): MessageType =
    new MessageType("graft", schema.fields.map(toParquetField).toSeq: _*)

  /** DIRECT InternalRow → page-writer encoder (r20): the task write path
    * used to build one example-API Group per row (an Object[] per field,
    * boxing every primitive, then a second traversal Group → columns).
    * This WriteSupport streams each row's values straight from the
    * InternalRow accessors into parquet's RecordConsumer — zero per-row
    * allocation for primitive columns. Type dispatch is precomputed into
    * an int-kind array (one `@switch` per field per row, no DataType
    * pattern-match in the hot loop). Field values, encodings and file
    * layout are byte-identical to the Group path: same MessageType, same
    * optional-field/null convention, same physical representations.
    *
    * `fieldOffset` mirrors [[CommitDataWriter]]'s marker-skip contract:
    * the caller resolves it from the first row and sets it before any
    * row is written (segments roll within write(), so a rolled segment's
    * support inherits the already-resolved offset at construction). */
  final class InternalRowWriteSupport(msg: MessageType, schema: StructType)
      extends org.apache.parquet.hadoop.api.WriteSupport[InternalRow] {
    import org.apache.parquet.io.api.RecordConsumer
    private var rc: RecordConsumer = _
    var fieldOffset: Int = 0
    private val names: Array[String] = schema.fields.map(_.name)
    // 0 long/ts/ntz · 1 int/date · 2 short · 3 byte · 4 double · 5 float
    // 6 boolean · 7 string · 8 decimal(p<=18) · 9 decimal fixed16
    private val kinds: Array[Int] = schema.fields.map(_.dataType match {
      case LongType | TimestampType | TimestampNTZType => 0
      case IntegerType | DateType => 1
      case ShortType => 2
      case ByteType => 3
      case DoubleType => 4
      case FloatType => 5
      case BooleanType => 6
      case StringType => 7
      case d: DecimalType if d.precision <= 18 => 8
      case _: DecimalType => 9
      case t => sys.error(s"unreachable: $t validated at build()")
    })
    private val precs: Array[Int] = schema.fields.map {
      case StructField(_, d: DecimalType, _, _) => d.precision
      case _ => 0
    }
    private val scales: Array[Int] = schema.fields.map {
      case StructField(_, d: DecimalType, _, _) => d.scale
      case _ => 0
    }
    override def init(conf: org.apache.hadoop.conf.Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport.WriteContext =
      new org.apache.parquet.hadoop.api.WriteSupport.WriteContext(
        msg, java.util.Collections.emptyMap[String, String]())
    override def prepareForWrite(consumer: RecordConsumer): Unit = rc = consumer
    override def write(row: InternalRow): Unit = {
      rc.startMessage()
      var i = 0
      while (i < kinds.length) {
        val j = i + fieldOffset
        if (!row.isNullAt(j)) {
          rc.startField(names(i), i)
          (kinds(i): @annotation.switch) match {
            case 0 => rc.addLong(row.getLong(j))
            case 1 => rc.addInteger(row.getInt(j))
            case 2 => rc.addInteger(row.getShort(j).toInt)
            case 3 => rc.addInteger(row.getByte(j).toInt)
            case 4 => rc.addDouble(row.getDouble(j))
            case 5 => rc.addFloat(row.getFloat(j))
            case 6 => rc.addBoolean(row.getBoolean(j))
            case 7 =>
              // getBytes copies out of the (reused) row buffer here —
              // field slices never alias the whole backing array
              rc.addBinary(Binary.fromConstantByteArray(
                row.getUTF8String(j).getBytes))
            case 8 => rc.addLong(
              row.getDecimal(j, precs(i), scales(i)).toUnscaledLong)
            case 9 => rc.addBinary(Binary.fromConstantByteArray(fixed16(
              row.getDecimal(j, precs(i), scales(i))
                .toJavaBigDecimal.unscaledValue())))
          }
          rc.endField(names(i), i)
        }
        i += 1
      }
      rc.endMessage()
    }
  }

  private final class RowWriterBuilder(
      out: org.apache.parquet.io.OutputFile,
      support: InternalRowWriteSupport)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](out) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(conf: org.apache.hadoop.conf.Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] = support
  }

  /** Snappy InternalRow writer over `file`; returns the support so the
    * caller can set the resolved marker offset. Like [[FileRows]], each
    * writer gets its own copy of the parsed Hadoop defaults: one built
    * without a configuration re-parses Hadoop's XML per staged file. */
  def rowWriter(file: NioPath, msg: MessageType, schema: StructType)
      : (ParquetWriter[InternalRow], InternalRowWriteSupport) = {
    val support = new InternalRowWriteSupport(msg, schema)
    val w = new RowWriterBuilder(CommitSink.io.outputFile(file), support)
      .withConf(CommitIO.hadoopConf())
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    (w, support)
  }

  /** Two's-complement big-endian, sign-extended to 16 bytes — the
    * FIXED_LEN_BYTE_ARRAY(16) encoding of a wide decimal's unscaled
    * value (holds every p ≤ 38). */
  private def fixed16(unscaled: java.math.BigInteger): Array[Byte] = {
    val raw = unscaled.toByteArray
    val out = new Array[Byte](16)
    val pad: Byte = if (unscaled.signum() < 0) -1 else 0
    java.util.Arrays.fill(out, pad)
    System.arraycopy(raw, 0, out, 16 - raw.length, raw.length)
    out
  }

  /** Streaming decoder over one parquet file with COLUMN PROJECTION:
    * only `wanted`'s fields are materialized — unrequested column
    * chunks are never read off disk. Fields in
    * `wanted` absent from the file decode as null.
    *
    * r20: values assemble DIRECTLY into a reused per-row array in their
    * Spark-internal representation — the example-Group path this
    * replaced built a SimpleGroup (an ArrayList per field, every
    * primitive boxed) per row and then traversed it a second time
    * through a per-value DataType dispatch. Each requested field's
    * converter knows its Spark type once, at construction.
    *
    * Each open gets read options over its own copy of the JVM's parsed
    * Hadoop defaults ([[CommitIO.hadoopConf]]), under either binding:
    * without options parquet re-parses Hadoop's default XML per open, a
    * fixed cost per file that dominated small snapshot reads. Options
    * are never shared: `ParquetFileReader.close()` releases their codec
    * factory under every other reader holding them. */
  final class FileRows(file: NioPath, wanted: StructType) {
    import org.apache.parquet.io.api.{Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
    private val reader = ParquetFileReader.open(CommitSink.io.inputFile(file),
      ParquetReadOptions.builder(new HadoopParquetConfiguration(CommitIO.hadoopConf())).build())
    private val fileSchema = reader.getFooter.getFileMetaData.getSchema
    private val present = wanted.fields.filter(f => fileSchema.containsField(f.name))
    /** requested-schema index per wanted field (-1 = absent → null). */
    val fieldIndex: Array[Int] = {
      val idx = present.map(_.name).zipWithIndex.toMap
      wanted.fields.map(f => idx.getOrElse(f.name, -1))
    }
    private val requested =
      new MessageType("graft", present.map(f =>
        fileSchema.getType(Seq(f.name): _*)).toSeq: _*)
    reader.setRequestedSchema(requested)

    /** Total rows, from the footer — the zero-column path (pure
      * COUNT-shaped projections) needs no record assembly at all. */
    val rowCount: Long = reader.getRecordCount

    /** The current row's decoded values, indexed by REQUESTED position
      * (map through [[fieldIndex]]); null = SQL null. REUSED across
      * rows — consume or copy before the next [[next]] call. The
      * contained values themselves are immutable. */
    val values = new Array[Any](present.length)

    private def conv(dt: DataType, i: Int): PrimitiveConverter = dt match {
      case LongType | TimestampType | TimestampNTZType =>
        new PrimitiveConverter {
          override def addLong(v: Long): Unit = values(i) = v }
      case IntegerType | DateType =>
        new PrimitiveConverter {
          override def addInt(v: Int): Unit = values(i) = v }
      case ShortType =>
        new PrimitiveConverter {
          override def addInt(v: Int): Unit = values(i) = v.toShort }
      case ByteType =>
        new PrimitiveConverter {
          override def addInt(v: Int): Unit = values(i) = v.toByte }
      case DoubleType =>
        new PrimitiveConverter {
          override def addDouble(v: Double): Unit = values(i) = v }
      case FloatType =>
        new PrimitiveConverter {
          override def addFloat(v: Float): Unit = values(i) = v }
      case BooleanType =>
        new PrimitiveConverter {
          override def addBoolean(v: Boolean): Unit = values(i) = v }
      case StringType =>
        new PrimitiveConverter {
          // getBytes copies out of page/dictionary buffers (or returns
          // the Binary's own stable cached array) — never a live view
          // of a reused decode buffer
          override def addBinary(b: Binary): Unit =
            values(i) = UTF8String.fromBytes(b.getBytes) }
      case d: DecimalType if d.precision <= 18 =>
        new PrimitiveConverter {
          override def addLong(v: Long): Unit =
            values(i) = Decimal(v, d.precision, d.scale) }
      case d: DecimalType =>
        new PrimitiveConverter {
          override def addBinary(b: Binary): Unit =
            values(i) = Decimal(new java.math.BigDecimal(
              new java.math.BigInteger(b.getBytes), d.scale),
              d.precision, d.scale) }
      case t => sys.error(s"unreachable: $t validated at build()")
    }

    private val materializer = new RecordMaterializer[Array[Any]] {
      private val root = new GroupConverter {
        private val convs: Array[Converter] =
          present.zipWithIndex.map { case (f, i) => conv(f.dataType, i) }
        override def getConverter(fi: Int): Converter = convs(fi)
        override def start(): Unit =
          java.util.Arrays.fill(values.asInstanceOf[Array[AnyRef]], null)
        override def end(): Unit = ()
      }
      override def getCurrentRecord: Array[Any] = values
      override def getRootConverter: GroupConverter = root
    }

    private var remaining = 0L
    private var records: org.apache.parquet.io.RecordReader[Array[Any]] = _

    /** Advance to the next row, filling [[values]]; false at end of
      * file. Call only when `present` is non-empty. */
    def next(): Boolean = {
      while (remaining == 0L) {
        val pages = reader.readNextRowGroup()
        if (pages == null) return false
        remaining = pages.getRowCount
        records = new ColumnIOFactory()
          .getColumnIO(requested, fileSchema)
          .getRecordReader(pages, materializer)
      }
      remaining -= 1
      records.read()
      true
    }

    def hasColumns: Boolean = present.nonEmpty
    def close(): Unit = reader.close()
  }
}
