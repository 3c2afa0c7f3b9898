package graft.engine

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ColumnPath, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions, ParquetToSparkSchemaConverter}

/** Driver-side parquet footer reads for the engine's own tables.
  *
  * `spark.read.parquet(dir)` infers the schema with a Spark job even
  * when it touches one footer (`mergeSchema = false` reads the first
  * data file in path order and nothing else). A small incremental epoch
  * opens about twenty tables, so that job is a fixed cost per table.
  * [[open]] reads the same footer on the driver and hands Spark the
  * schema it would have inferred, the pattern of the vector indexes'
  * `ClusterStore.clusterRows`. [[footerMax]] answers `max(col)` and
  * [[footerRows]] the row count from row-group metadata without a scan.
  *
  * Both stay off any layout whose answer would need more than that: a
  * merged schema, partition directories, summary files, glob paths or
  * listing options go through `spark.read.parquet`, and so do a missing
  * or empty directory, which then fail exactly as Spark fails them.
  */
object ParquetTable {

  /** Options the driver-side path understands; any other option (a
    * listing filter, a base path, corrupt-file handling) may change
    * which files Spark reads, so it goes through Spark's inference.
    */
  private val plainOptions = Set("inferschema", "mergeschema")

  /** `spark.read.options(options).parquet(path)` without the schema
    * inference job, for an unpartitioned directory of parquet files.
    */
  def open(spark: SparkSession, path: String,
           options: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.read.options(options)
    val oneFooter =
      !new ParquetOptions(options, spark.sessionState.conf).mergeSchema &&
        options.keys.forall(k => plainOptions(k.toLowerCase))
    val conf = spark.sessionState.newHadoopConf()
    val schema =
      if (!oneFooter) None
      else dataFiles(conf, path).flatMap(_.headOption).flatMap { first =>
        try {
          val footer = new Footer(first.getPath, readFooter(conf, first))
          Some(ParquetFileFormat.readSchemaFromFooter(footer,
            new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
        } catch { case NonFatal(_) => None }
      }
    schema.fold(reader.parquet(path))(s => reader.schema(s).parquet(path))
  }

  /** `max(column)` over an unpartitioned parquet table of INT64
    * `column`, from row-group statistics alone:
    *  - `Some(Some(m))`: the maximum non-null value;
    *  - `Some(None)`: every row group is empty or all-null there;
    *  - `None`: some non-empty row group carries no usable statistics
    *    (written with statistics off, column absent or not a plain
    *    INT64), or the layout is one [[open]] leaves to Spark — the
    *    caller computes the maximum with a job.
    */
  def footerMax(spark: SparkSession, path: String,
                column: String): Option[Option[Long]] = {
    val colPath = ColumnPath.get(column)
    val conf = spark.sessionState.newHadoopConf()
    dataFiles(conf, path).flatMap { files =>
      val groups = files.flatMap { f =>
        try readFooter(conf, f).getBlocks.asScala.toSeq
          .filter(_.getRowCount > 0).map(groupMax(_, colPath))
        catch { case NonFatal(_) => Seq(None) }
      }
      if (groups.contains(None)) None
      else Some(groups.flatten.flatten.maxOption)
    }
  }

  /** Row count of an unpartitioned parquet table from its footers,
    * with no Spark job; `None` for a layout [[open]] leaves to Spark or
    * an unreadable footer.
    */
  def footerRows(spark: SparkSession, path: String): Option[Long] = {
    val conf = spark.sessionState.newHadoopConf()
    dataFiles(conf, path).flatMap { files =>
      try Some(files.map(f =>
        readFooter(conf, f).getBlocks.asScala.map(_.getRowCount).sum).sum)
      catch { case NonFatal(_) => None }
    }
  }

  /** One non-empty row group's answer, in [[footerMax]]'s encoding. */
  private def groupMax(block: BlockMetaData,
                       colPath: ColumnPath): Option[Option[Long]] =
    block.getColumns.asScala
      .find(c => c.getPath == colPath && {
        // plain INT64 is Spark's LongType; annotated INT64 (timestamps,
        // unsigned) reads as another type or orders differently
        val t = c.getPrimitiveType
        t.getPrimitiveTypeName == PrimitiveTypeName.INT64 &&
          t.getLogicalTypeAnnotation == null
      })
      .map(_.getStatistics)
      .filter(st => st != null && !st.isEmpty)
      .flatMap { st =>
        if (st.hasNonNullValue)
          Some(Some(st.genericGetMax.asInstanceOf[java.lang.Long].longValue))
        else if (st.isNumNullsSet && st.getNumNulls == block.getRowCount)
          Some(None)
        else None
      }

  /** The data files `spark.read.parquet(path)` would read, sorted by
    * path as Spark's schema inference sorts them; `None` when the path
    * is not a plain non-empty directory of files (glob, missing,
    * subdirectories, summary files, no data file).
    */
  private def dataFiles(conf: Configuration,
                        path: String): Option[Seq[FileStatus]] =
    if (path.exists("{}[]*?\\".contains(_))) None
    else try {
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      if (!fs.getFileStatus(p).isDirectory) None
      else {
        val visible = fs.listStatus(p).toSeq
          .filterNot(st => hidden(st.getPath.getName))
        if (visible.isEmpty || visible.exists(st => !st.isFile ||
            st.getPath.getName.startsWith("_"))) None
        else Some(visible.sortBy(_.getPath.toString))
      }
    } catch { case NonFatal(_) => None }

  /** Spark's listing filter: `_`/`.`-prefixed names (bar `k=v`
    * directories and parquet summary files) and in-flight copies are
    * not table data.
    */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith("_common_metadata") && !name.startsWith("_metadata")

  private def readFooter(conf: Configuration, f: FileStatus): ParquetMetadata = {
    val rdr = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
    try rdr.getFooter finally rdr.close()
  }
}
