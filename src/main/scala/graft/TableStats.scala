package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.{FileMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, FileStatusWithMetadata, InMemoryFileIndex, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Facts about a parquet table from its file listing and footers, with
  * no Spark job: the schema `spark.read.parquet` infers, row counts and
  * bytes (one metadata read, as in *Dremel: A Decade of Interactive SQL
  * Analysis at Web Scale*, VLDB 2020). A footer is read once per
  * process, keyed by (path, length, modification time), so a file
  * rewritten in place is read afresh; listings are not cached.
  */
object TableStats {

  private val footers =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), (FileMetaData, Long)]()

  private def footer(f: FileStatus, conf: Configuration): (FileMetaData, Long) =
    footers.computeIfAbsent((f.getPath.toString, f.getLen, f.getModificationTime), { _ =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try (r.getFileMetaData, r.getRecordCount) finally r.close()
    })

  /** Row count of one parquet file. */
  def rows(f: FileStatus, conf: Configuration): Long = footer(f, conf)._2

  /** The table at `path`, listed as a read of it lists. */
  def apply(spark: SparkSession, path: String): Table =
    new Table(spark, new InMemoryFileIndex(spark, Seq(new Path(path)), Map.empty, None).allFiles())

  final class Table(spark: SparkSession, val files: Seq[FileStatus]) {
    def bytes: Long = files.map(_.getLen).sum

    /** The schema inference gives with schema merging off (the
      * default): the first file's by path, through inference's own
      * per-footer read, so Spark's row-metadata key wins and the
      * session's parquet confs (`nanosAsLong` among them) apply. None
      * for no files. */
    def schema: Option[StructType] = files.minByOption(_.getPath.toString).map { f =>
      val meta = footer(f, spark.sessionState.newHadoopConf())._1
      ParquetFileFormat.readSchemaFromFooter(
        new Footer(f.getPath, new ParquetMetadata(meta, java.util.Collections.emptyList())),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }

    /** The splits a scan of every file plans: the file scan's own packing
      * of these lengths. */
    def scanSplits: Int = {
      val fs = files.map(FileStatusWithMetadata(_))
      val maxSplit = FilePartition.maxSplitBytes(spark, Seq(PartitionDirectory(InternalRow.empty, fs)))
      val splits = fs.flatMap(f => PartitionedFileUtil.splitFiles(f, f.getPath,
        isSplitable = true, maxSplit, InternalRow.empty)).sortBy(-_.length)
      FilePartition.getFilePartitions(spark, splits, maxSplit).size
    }
  }
}
