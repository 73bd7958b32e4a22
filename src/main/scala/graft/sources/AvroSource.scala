package graft.sources

import java.io.BufferedInputStream
import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.sources.AvroFiles._

/** DataSource V2 reader for Avro container files (`format("graftavro")`),
  * backed by the from-scratch codec in [[AvroFiles]] — closes SURVEY §2.2's
  * last row without the missing spark-avro jar (the reference's unwired
  * analog: crates/datafusion/src/physical_plan/file_format/avro.rs).
  *
  * Scale posture:
  *   - one InputPartition per file — tasks read their own file via the
  *     Hadoop FS API (file:// locally, HDFS/object stores on a cluster;
  *     finer block-level splits are possible on the sync markers but
  *     per-file parallelism matches how the writer sizes files);
  *   - COLUMN PRUNING is real: non-required fields are skipped in the
  *     binary decoder (varint/length hops, no allocation), so a 2-column
  *     projection over a wide table never materializes the other columns;
  *   - decodes straight to InternalRow (UTF8String / epoch-day ints /
  *     micros longs match Avro's logical types bit-for-bit — no
  *     driver-side conversion pass).
  */
final class AvroSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graftavro"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = AvroSource.pathOf(options.asCaseSensitiveMap().asScala.toMap)
    val conf = AvroSource.sessionConf()
    val files = AvroSource.listFiles(path, conf)
    require(files.nonEmpty, s"graftavro: no .avro files under $path")
    val fs = new HPath(files.head).getFileSystem(conf)
    val in = new BufferedInputStream(fs.open(new HPath(files.head)))
    try {
      val (json, _, _) = readHeader(new Decoder(in))
      toSpark(parseSchema(json))
    } finally in.close()
  }

  // writes pass the DataFrame's schema straight through (no files to
  // infer from yet); reads without a user schema still call inferSchema
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new AvroTable(schema, AvroSource.pathOf(properties.asScala.toMap))
}

private object AvroSource {
  def pathOf(options: Map[String, String]): String =
    options.collectFirst {
      case (k, v) if k.equalsIgnoreCase("path") => v
    }.getOrElse(throw new IllegalArgumentException("graftavro: missing path"))

  /** The active session's Hadoop conf, for driver-side file access; tasks
    * get it serialized in their reader or writer factory. */
  def sessionConf(): Configuration = SparkSession.active.sessionState.newHadoopConf()

  def listFiles(path: String, conf: Configuration): Seq[String] = {
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    if (st.isDirectory)
      fs.listStatus(p).toSeq.filter(s => s.isFile && s.getPath.getName.endsWith(".avro"))
        .map(_.getPath.toString).sorted
    else Seq(path)
  }
}

private final class AvroTable(schema: StructType, path: String)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graftavro:$path"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new AvroScanBuilder(schema, path)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new AvroWriteBuilder(info.schema(), path,
      Option(info.options.get("codec")).getOrElse("deflate"))
}

/** DSV2 write path: each task streams its partition into its own
  * container file (task-attempt-unique name, renamed into place on task
  * commit so speculative/retried attempts never collide); `truncate`
  * (SaveMode.Overwrite) clears the directory on the driver first.
  */
private final class AvroWriteBuilder(schema: StructType, path: String,
                                     codec: String)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new AvroBatchWrite(schema, path, codec, doTruncate)
  }
}

private final class AvroBatchWrite(schema: StructType, path: String,
                                   codec: String, truncate: Boolean)
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val conf = AvroSource.sessionConf()
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    if (truncate && fs.exists(p)) fs.delete(p, true)
    fs.mkdirs(p)
    new AvroWriterFactory(schema, path, codec, new SerializableConfiguration(conf))
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private final class AvroWriterFactory(schema: StructType, path: String,
                                      codec: String, hconf: SerializableConfiguration)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new AvroDataWriter(schema, path, codec, partitionId, taskId, hconf.value)
}

private final class AvroDataWriter(schema: StructType, path: String,
                                   codec: String, partitionId: Int, taskId: Long,
                                   conf: Configuration)
    extends DataWriter[InternalRow] {
  private val rec = toAvro(schema)
  private val json = schemaJson(rec)
  private val sync = syncMarker(json, s"$partitionId-$taskId")
  private val fs = new HPath(path).getFileSystem(conf)
  private val tmp = new HPath(path, f".part-$partitionId%05d-$taskId.avro.inprogress")
  private val out = fs.create(tmp, true)
  writeHeader(out, json, codec, sync)

  private val buf = new java.io.ByteArrayOutputStream(1 << 16)
  private val be = new Encoder(buf)
  private var n = 0
  private val RowsPerBlock = 4096

  private def flush(): Unit = if (n > 0) {
    val raw = buf.toByteArray
    val payload = if (codec == "deflate") deflate(raw) else raw
    val e = new Encoder(out)
    e.writeLong(n.toLong); e.writeBytes(payload)
    out.write(sync)
    buf.reset(); n = 0
  }

  override def write(row: InternalRow): Unit = {
    encodeInternal(be, schema, row)
    n += 1
    if (n >= RowsPerBlock) flush()
  }

  override def commit(): WriterCommitMessage = {
    flush(); out.close()
    fs.rename(tmp, new HPath(path, f"part-$partitionId%05d-$taskId.avro"))
    AvroCommit(partitionId)
  }

  override def abort(): Unit = {
    out.close()
    fs.delete(tmp, false): Unit
  }

  override def close(): Unit = ()
}

private final case class AvroCommit(partitionId: Int) extends WriterCommitMessage

private final class AvroScanBuilder(fullSchema: StructType, path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema // empty projection (count(*)) decodes nothing
  override def build(): Scan = new AvroScan(required, path)
}

private final class AvroScan(required: StructType, path: String)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graftavro $path cols=[${required.fieldNames.mkString(",")}]"

  private lazy val conf = AvroSource.sessionConf()

  override def planInputPartitions(): Array[InputPartition] =
    AvroSource.listFiles(path, conf)
      .map(f => AvroInputPartition(f): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new AvroReaderFactory(required.fieldNames, new SerializableConfiguration(conf))
}

private final case class AvroInputPartition(file: String) extends InputPartition

private final class AvroReaderFactory(requiredCols: Array[String],
                                      hconf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[AvroInputPartition].file
    new AvroPartitionReader(file, requiredCols, hconf.value)
  }
}

/** Streams one container file: block framing + per-record decode with
  * field skipping for pruned columns.
  */
private final class AvroPartitionReader(file: String, requiredCols: Array[String],
                                        conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val fs = new HPath(file).getFileSystem(conf)
  private val in = new BufferedInputStream(fs.open(new HPath(file)), 1 << 16)
  private val fileDecoder = new Decoder(in)
  private val (writerSchema, codec, sync) = {
    val (json, c, s) = readHeader(fileDecoder)
    (parseSchema(json), c, s)
  }
  require(codec == "null" || codec == "deflate", s"graftavro: codec $codec")

  // positions in the OUTPUT row for each writer-schema field (-1 = skip);
  // output order follows the required schema, not file order
  private val outIndex: Array[Int] =
    writerSchema.fields.map(f => requiredCols.indexOf(f.name)).toArray

  private var blockRows = 0L
  private var blockDecoder: Decoder = _
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (blockRows == 0L && !nextBlock()) return false
    current = decodeRecord()
    blockRows -= 1
    true
  }

  private def nextBlock(): Boolean = {
    val count =
      try fileDecoder.readLong()
      catch { case _: java.io.EOFException => return false }
    val payload = fileDecoder.readBytes()
    val syncSeen = fileDecoder.readNBytes(16)
    require(syncSeen.sameElements(sync), "graftavro: sync marker mismatch")
    blockRows = count
    blockDecoder =
      if (codec == "deflate") new Decoder(new BufferedInputStream(inflate(payload), 1 << 14))
      else new Decoder(new java.io.ByteArrayInputStream(payload))
    blockRows > 0
  }

  private def decodeRecord(): InternalRow = {
    val row = new GenericInternalRow(requiredCols.length)
    var i = 0
    while (i < writerSchema.fields.length) {
      val f = writerSchema.fields(i)
      val out = outIndex(i)
      if (f.nullable) {
        val branch = blockDecoder.readLong()
        if (branch == 0L) { if (out >= 0) row.setNullAt(out) }
        else if (out >= 0) row.update(out, decodeValue(f.tpe))
        else skipValue(f.tpe)
      } else if (out >= 0) row.update(out, decodeValue(f.tpe))
      else skipValue(f.tpe)
      i += 1
    }
    row
  }

  private def decodeValue(t: AvType): Any = t match {
    case ABool => blockDecoder.readBool()
    case AInt => blockDecoder.readInt()
    case ALong => blockDecoder.readLong()
    case AFloat => blockDecoder.readFloat()
    case ADouble => blockDecoder.readDouble()
    case AString => UTF8String.fromBytes(blockDecoder.readBytes())
    case ABytes => blockDecoder.readBytes()
    case ADate => blockDecoder.readInt() // Catalyst DateType = epoch days
    case ATimestampMicros => blockDecoder.readLong() // Catalyst = micros
    case ADecimal(p, s) =>
      val unscaled = new java.math.BigInteger(blockDecoder.readBytes())
      org.apache.spark.sql.types.Decimal(
        new java.math.BigDecimal(unscaled, s), p, s)
    case AArray(et, itemsNullable) =>
      val items = scala.collection.mutable.ArrayBuffer.empty[Any]
      var count = blockDecoder.readLong()
      while (count != 0) {
        val n = if (count < 0) { blockDecoder.readLong(); -count } else count
        var i = 0L
        while (i < n) {
          if (itemsNullable) {
            if (blockDecoder.readLong() == 0L) items += null
            else items += decodeValue(et)
          } else items += decodeValue(et)
          i += 1
        }
        count = blockDecoder.readLong()
      }
      new GenericArrayData(items.toArray)
    case ARecord(_, fields) =>
      val nested = new GenericInternalRow(fields.length)
      fields.zipWithIndex.foreach { case (f, i) =>
        if (f.nullable) {
          if (blockDecoder.readLong() == 0L) nested.setNullAt(i)
          else nested.update(i, decodeValue(f.tpe))
        } else nested.update(i, decodeValue(f.tpe))
      }
      nested
    case ANull => null
  }

  private def skipValue(t: AvType): Unit = t match {
    case ABool => blockDecoder.skipN(1)
    case AInt | ALong | ADate | ATimestampMicros => blockDecoder.readLong(): Unit
    case AFloat => blockDecoder.skipN(4)
    case ADouble => blockDecoder.skipN(8)
    case AString | ABytes | ADecimal(_, _) => blockDecoder.skipBytes()
    case AArray(et, itemsNullable) =>
      var count = blockDecoder.readLong()
      while (count != 0) {
        if (count < 0) blockDecoder.skipN(blockDecoder.readLong()) // sized block
        else {
          var i = 0L
          while (i < count) {
            if (itemsNullable) {
              if (blockDecoder.readLong() != 0L) skipValue(et)
            } else skipValue(et)
            i += 1
          }
        }
        count = blockDecoder.readLong()
      }
    case ARecord(_, fields) =>
      fields.foreach { f =>
        if (f.nullable) { if (blockDecoder.readLong() != 0L) skipValue(f.tpe) }
        else skipValue(f.tpe)
      }
    case ANull => ()
  }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}
