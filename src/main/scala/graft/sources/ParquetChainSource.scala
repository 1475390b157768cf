package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.types._

/** File-backed chain provider: serves the shared scan ([[ChainScan]])
  * from REAL parquet files instead of synthetic generation — the provider
  * plane proven against real IO (cherry's archived-data path: providers
  * also serve from their parquet/arrow archives, `README.md:29-34`).
  *
  * Planning reads only file FOOTERS (metadata) and prunes whole row groups
  * whose block-column min/max stats fall outside the scan range — the same
  * stats-prune a warehouse-grade parquet scan does; each surviving row
  * group becomes one InputPartition, so scan parallelism tracks data
  * layout, and the description notes `rgs=kept/total`. Inside a row group
  * the reader projects only the needed columns (column pruning reaches the
  * page level: parquet is columnar, unprojected columns are never
  * deserialized) and applies the row-level range check plus OR-of-requests
  * matching before a row is ever handed to Spark. The default range is
  * unbounded; there is no micro-batch stream.
  *
  * Usage:
  *   spark.read.format("graft.sources.ParquetChainSource")
  *     .option("path", "/data/chain/logs")   // dir of .parquet or one file
  *     .option("table", "logs")              // or "instructions"
  *     .load()
  */
class ParquetChainSource extends ChainProvider("chainfile", streams = false) {
  private[sources] def backend(table: String, opts: Map[String, String]): ChainBackend = {
    val path = opts.getOrElse("path",
      throw new IllegalArgumentException("graftchainfile requires option 'path'"))
    val blockCol = ChainSource.blockColumn(table)
    new ChainBackend {
      val defaultRange = (Long.MinValue, Some(Long.MaxValue))
      def plan(from: Long, to: Long, requests: Seq[ChainReq],
               cols: Array[String]): ChainPlan = {
        // the SESSION's Hadoop configuration, not a bare new Configuration():
        // fs.s3a credentials / endpoint overrides / io settings set via
        // spark.hadoop.* must reach both the driver-side footer listing and
        // the executor-side row-group reads (shipped to partitions via
        // SerializableConfiguration — Configuration itself is not
        // serializable)
        val hconf = new org.apache.spark.util.SerializableConfiguration(
          org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
        val conf = hconf.value
        val root = new Path(path)
        val fs = root.getFileSystem(conf)
        val files =
          if (fs.getFileStatus(root).isDirectory)
            fs.listStatus(root).map(_.getPath)
              .filter(_.getName.endsWith(".parquet")).sortBy(_.toString)
          else Array(root)
        var total = 0
        val parts = files.flatMap { f =>
          val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
          try {
            reader.getFooter.getBlocks.asScala.toSeq.zipWithIndex.flatMap {
              case (bm, i) =>
                total += 1
                val stats = bm.getColumns.asScala
                  .find(_.getPath.toDotString == blockCol).map(_.getStatistics)
                // prune iff stats prove the group disjoint from [from, to)
                val keep = stats match {
                  case Some(s) if s != null && s.hasNonNullValue =>
                    val mn = s.genericGetMin.asInstanceOf[java.lang.Long].longValue
                    val mx = s.genericGetMax.asInstanceOf[java.lang.Long].longValue
                    mx >= from && mn < to
                  case _ => true // no stats → cannot prune
                }
                if (keep)
                  Some(ParquetChainPartition(table, f.toString, i, from, to,
                    requests, cols, hconf): InputPartition)
                else None
            }
          } finally reader.close()
        }
        ChainPlan(parts, s" rgs=${parts.length}/$total")
      }
      val readerFactory: PartitionReaderFactory =
        (partition: InputPartition) =>
          new ParquetChainReader(partition.asInstanceOf[ParquetChainPartition])
    }
  }
}

private case class ParquetChainPartition(table: String, file: String,
                                         rowGroup: Int, fromBlock: Long, toBlock: Long,
                                         requests: Seq[ChainReq],
                                         cols: Array[String],
                                         conf: org.apache.spark.util.SerializableConfiguration)
    extends InputPartition

/** Reads ONE row group of one file: projects only the needed columns,
  * applies the row-level block-range check (boundary row groups overlap
  * the range) and the OR-of-requests match before emitting.
  */
private class ParquetChainReader(p: ParquetChainPartition)
    extends PartitionReader[InternalRow] {

  private val sparkSchema = ChainSource.schemaFor(p.table)
  private val blockCol = ChainSource.blockColumn(p.table)
  private val reader = ParquetFileReader.open(
    HadoopInputFile.fromPath(new Path(p.file), p.conf.value))
  // everything after open() runs under a guard: a constructor failure
  // (missing column in the file schema, corrupt row group) would leak the
  // open file handle — Spark never calls close() on an unconstructed
  // reader, and one leaked fd per task retry adds up on long runs
  private val (recordReader, rowCount) =
    try {
      val fileSchema = reader.getFooter.getFileMetaData.getSchema
      // projection = output cols ∪ request cols ∪ block col (row check)
      val readCols: Seq[String] =
        (p.cols.toSeq ++ p.requests.flatMap(_.cs.keys) :+ blockCol).distinct
      val projection = new MessageType(fileSchema.getName,
        readCols.map(c => fileSchema.getType(Seq(c): _*)): _*)
      reader.setRequestedSchema(projection)
      (0 until p.rowGroup).foreach(_ => reader.skipNextRowGroup())
      val pages = reader.readNextRowGroup()
      (new ColumnIOFactory().getColumnIO(projection)
        .getRecordReader(pages, new GroupRecordConverter(projection)),
        pages.getRowCount)
    } catch { case e: Throwable => reader.close(); throw e }
  private var remaining: Long = rowCount
  private val unconstrained = p.requests == Seq(ChainReq(Map.empty))
  private var row: InternalRow = _

  override def next(): Boolean = {
    while (remaining > 0) {
      remaining -= 1
      val g = recordReader.read()
      val block = g.getLong(blockCol, 0)
      if (block >= p.fromBlock && block < p.toBlock) {
        val matches = unconstrained ||
          p.requests.exists(_.matches(c => g.getBinary(c, 0).getBytes.toSeq))
        if (matches) {
          val values: Array[Any] = p.cols.map[Any] { c =>
            sparkSchema(c).dataType match {
              case LongType   => g.getLong(c, 0)
              case BinaryType => g.getBinary(c, 0).getBytes
              case other => throw new IllegalStateException(s"unexpected type $other")
            }
          }
          row = new GenericInternalRow(values)
          return true
        }
      }
    }
    false
  }
  override def get(): InternalRow = row
  override def close(): Unit = reader.close()
}
