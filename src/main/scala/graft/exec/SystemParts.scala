package graft.exec

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext}
import org.apache.spark.sql.sources.{BaseRelation, EqualTo, Filter, In, PrunedFilteredScan}
import org.apache.spark.sql.types._

/** ClickHouse `system.parts`: one row per live part file of every user
  * table. CH reads it from its part store; here it comes from the same
  * source of truth the scanner uses — the table directory plus each file's
  * parquet footer (row count from metadata, never data pages, through the
  * engine's footer memo [[GraftSession.footerRows]]). Partition id is the
  * `__ptk=` value, or "all" for an unpartitioned table, as CH names them.
  *
  * A relation, not a snapshot: each query's scan lists only the databases
  * and tables its pushed `database`/`table` equalities and IN lists pin
  * (every table when none does), and reads footers only when `rows` is
  * selected. Spark re-applies every filter, so any predicate stays exact.
  * A statement that reads `system.parts` splices in a relation of its own
  * (`GraftSession.spliceSystemViews`).
  */
private[exec] final class SystemParts(val sqlContext: SQLContext)
    extends BaseRelation with PrunedFilteredScan {

  override def schema: StructType = SystemParts.Schema

  /** Metadata rows, about 100 bytes per part: small enough that a
    * statement over it plans as one job (`SmallStatementExecution`). */
  override def sizeInBytes: Long = 1L << 20

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[Filter]): RDD[Row] = {
    val spark = sqlContext.sparkSession
    def pinned(col: String): String => Boolean =
      filters.collect {
        case EqualTo(`col`, v) => Set[Any](v)
        case In(`col`, vs) => vs.toSet
      }.reduceOption(_ intersect _).fold((_: String) => true)(s => s.contains)
    val withRows = requiredColumns.contains("rows")
    lazy val hconf = spark.sessionState.newHadoopConf()
    val all = GraftSession.userTables(spark.sessionState.catalog,
        pinned("database"), pinned("table")).flatMap { case (db, m) =>
      val files = SystemParts.partFiles(java.nio.file.Paths.get(m.location.getPath))
      val counts =
        if (!withRows) files.map(_ => None)
        else GraftSession.footerRows(
          GraftSession.partRoot(new org.apache.hadoop.fs.Path(m.location)),
          files.map { case (_, p, bytes, mtime) =>
            (new org.apache.hadoop.fs.Path(p.toUri), bytes, mtime)
          }, hconf)
      files.zip(counts).map { case ((part, p, bytes, _), n) =>
        Seq(db, m.identifier.table, part, p.getFileName.toString,
          n.getOrElse(-1L), bytes, 1)
      }
    }
    val picked = requiredColumns.toSeq.map(schema.fieldIndex)
    val rows = all.map(r => Row.fromSeq(picked.map(r)))
    spark.sparkContext.parallelize(rows, 1)
  }
}

private[exec] object SystemParts {
  val Schema: StructType = StructType(Seq(
    StructField("database", StringType), StructField("table", StringType),
    StructField("partition", StringType), StructField("name", StringType),
    StructField("rows", LongType), StructField("bytes_on_disk", LongType),
    StructField("active", IntegerType)))

  /** The part files under `root` — (partition id, path, length, mtime) of
    * every `.parquet` file no hidden path component leads to, the files the
    * scanner reads. Empty when `root` is not a directory. */
  def partFiles(root: java.nio.file.Path): Seq[(String, java.nio.file.Path, Long, Long)] = {
    if (!java.nio.file.Files.isDirectory(root)) return Nil
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator.asScala.filter { p =>
      java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet") &&
        !GraftSession.isHiddenPath(root.relativize(p))
    }.map { p =>
      val part = root.relativize(p).iterator.asScala.map(_.toString)
        .find(_.startsWith(s"${GraftSession.PtkCol}="))
        .map(s => org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(s.stripPrefix(s"${GraftSession.PtkCol}=")))
        .getOrElse("all")
      (part, p, java.nio.file.Files.size(p),
        java.nio.file.Files.getLastModifiedTime(p).toMillis)
    }.toVector
    finally walk.close()
  }
}
