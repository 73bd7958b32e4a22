package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile

/** The engine's one parquet footer opener: footer metadata only, no data
  * page is read.
  *
  * It opens with read options built from the caller's Hadoop conf.
  * `ParquetFileReader.open(file)` without options builds its own
  * `ParquetReadOptions`, and so a new Hadoop `Configuration` that re-reads
  * `core-default.xml` and the other resources: ~15 ms per footer, against
  * ~1 ms with the caller's conf (4-core box). The footer memo's misses
  * (`GraftSession.footerRows`, behind the trivial count and
  * `system.parts`), the OPTIMIZE commit witness and
  * `Tables.rowGroupCount` all read footers here.
  */
object ParquetFooters {

  /** The row groups of the parquet file `p`, from its footer. */
  def rowGroups(p: Path, hconf: Configuration): Seq[BlockMetaData] = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, hconf),
      HadoopReadOptions.builder(hconf).build())
    try r.getRowGroups.asScala.toSeq finally r.close()
  }

  /** The row count of the parquet file `p`, from its footer. */
  def rowCount(p: Path, hconf: Configuration): Long =
    rowGroups(p, hconf).map(_.getRowCount).sum
}
