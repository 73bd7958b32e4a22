package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{ParquetWriter => PqWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Direct single-file parquet writes of Catalyst rows from the CALLING
  * thread — the part writer for driver-resident rows (wire blocks, SQL
  * INSERT VALUES payloads, and the materialized-view results computed
  * from them; one file per partition directory). Such a block is
  * already fully materialized on one server thread; scheduling a Spark
  * job for it buys zero parallelism and pays task serialization of every
  * row plus a Hadoop commit cycle (~1.3 s per 600k-row flush measured,
  * PERF.md r19 — the dominant wire-ingest cost). This writes the block
  * with Spark's own `ParquetWriteSupport` (bit-identical encoding to a
  * mainline write: same schema converter, same rebase handling), so the
  * resulting part file is indistinguishable from an `insertInto` part.
  * Concurrent connections encode their files in PARALLEL; only the
  * rename into the table directory serializes, under the same per-table
  * lock as every other append. This is the reference's memtable->part
  * flush shape (crates/meta/src/store/parts.rs), re-expressed on
  * Spark's storage layout.
  */
object GraftDirectParquet {

  private final class RowBuilder(file: Path)
      extends PqWriter.Builder[InternalRow, RowBuilder](file) {
    override def self(): RowBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  /** Hadoop conf carrying everything `ParquetWriteSupport.init` reads,
    * pinned from the session so a server thread (no active SQLConf)
    * writes exactly what a mainline write job would.
    */
  private def writeConf(spark: SparkSession,
                        schema: StructType): Configuration = {
    val conf = spark.sessionState.newHadoopConf()
    val sc = spark.sessionState.conf
    ParquetWriteSupport.setSchema(schema, conf)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sc.getConf(SQLConf.PARQUET_WRITE_LEGACY_FORMAT).toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sc.getConf(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE).toString)
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sc.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sc.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    // SparkToParquetSchemaConverter(conf) reads these with a bare
    // .toBoolean — absent keys throw, so pin them all
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sc.getConf(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED).toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sc.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    conf
  }

  private def codecOf(spark: SparkSession): CompressionCodecName =
    spark.conf.get("spark.sql.parquet.compression.codec", "snappy")
      .toLowerCase(java.util.Locale.ROOT) match {
      case "none" | "uncompressed" => CompressionCodecName.UNCOMPRESSED
      case "gzip" => CompressionCodecName.GZIP
      case "zstd" => CompressionCodecName.ZSTD
      case "lz4" | "lz4raw" | "lz4_raw" => CompressionCodecName.LZ4_RAW
      case _ => CompressionCodecName.SNAPPY
    }

  /** Write `rows` as a HIDDEN tmp file inside `dir` (dot-prefixed: no
    * scan ever lists it; a crash leaks only an invisible file). The
    * caller renames it into visibility under the table's write lock.
    */
  def writeHidden(spark: SparkSession, dir: Path, schema: StructType,
                  rows: Iterator[InternalRow],
                  bloomCols: Seq[String]): (Path, Long) = {
    val codec = codecOf(spark)
    val ext = codec match {
      case CompressionCodecName.UNCOMPRESSED => ""
      case c => "." + c.name.toLowerCase(java.util.Locale.ROOT).replace("_", "")
    }
    val uuid = java.util.UUID.randomUUID.toString
    val tmp = new Path(dir, s".graft-wire-$uuid$ext.parquet.tmp")
    var b = new RowBuilder(tmp)
      .withConf(writeConf(spark, schema))
      .withCompressionCodec(codec)
    bloomCols.foreach(c => b = b.withBloomFilterEnabled(c, true))
    val w = b.build()
    var n = 0L
    try while (rows.hasNext) { w.write(rows.next()); n += 1 }
    finally w.close()
    (tmp, n)
  }

  /** Atomically publish a hidden tmp file as a visible part file in the
    * same directory. Call under the table's write lock.
    */
  def publish(spark: SparkSession, tmp: Path): Path = {
    val name = tmp.getName.stripPrefix(".").stripSuffix(".tmp")
    val dst = new Path(tmp.getParent, s"part-graft-$name")
    val fs = tmp.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"cannot publish ingest part $dst")
    dst
  }
}
