package graft.operators

import org.apache.hadoop.fs.Path
import graft.engine.Commit
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** The cluster-partitioned store under both vector engines: how an
  * index directory is laid out, mutated, committed and metered.
  *
  * An index at `path` keeps its rows hive-partitioned by `cluster`
  * under one data directory ([[Ivf]]'s `corpus/`, [[Hnsw]]'s
  * `graph/`), so a search's probe list prunes to the probed
  * partitions. Beside it sit small records read on the driver:
  * `_ROWS` (the live row count), `_ROWS_BASE` (the count at the last
  * build, the drift meter's denominator), `_SCHEMA`, `_MRL_DIMS` and
  * the `_INDEX_READY` build fingerprint.
  *
  * Every append, delete and upsert of either engine is one [[mutate]]:
  * count the doomed rows per cluster, rebuild the touched clusters
  * from their survivors and the delta, commit them with
  * [[rewriteSwap]], restamp `_ROWS`. The [[Engine]] says only how a
  * delta is staged and how a touched cluster is rebuilt. Untouched
  * partitions keep their files byte-identical.
  */
object ClusterStore {

  /** Which stored rows a mutation deletes. */
  private[operators] sealed trait Selection {
    def matching(stored: DataFrame): DataFrame
    def keep(stored: DataFrame): DataFrame
  }

  /** The rows `predicate` provably matches: a row whose predicate is
    * NULL is kept (delete means provably matching, the blocklist
    * discipline).
    */
  private[operators] final case class Where(predicate: Column)
      extends Selection {
    def matching(stored: DataFrame): DataFrame = stored.filter(predicate)
    def keep(stored: DataFrame): DataFrame =
      stored.filter(!(predicate <=> lit(true)))
  }

  /** The rows whose `storedIdCol` appears in `ids`. The ids stay a
    * DataFrame end to end (semi-join selects, anti-join keeps), so a
    * bulk tombstone epoch never becomes a driver-side `isin` list;
    * duplicates are fine.
    */
  private[operators] final case class Ids(ids: DataFrame, storedIdCol: String)
      extends Selection {
    private lazy val sel = ids.select(col(storedIdCol)).distinct()
    def matching(stored: DataFrame): DataFrame =
      stored.join(sel, Seq(storedIdCol), "left_semi")
    def keep(stored: DataFrame): DataFrame =
      stored.join(sel, Seq(storedIdCol), "left_anti")
  }

  /** An append delta staged by its engine: its rows in the layout
    * [[Engine.rebuild]] takes, and the clusters it forces into the
    * rebuild set — None when its rows are independent of the stored
    * ones and move in beside them.
    */
  private[operators] final case class Staged(rows: DataFrame,
                                             clusters: Option[Array[Int]])

  /** What differs between the engines in a [[mutate]]. */
  private[operators] trait Engine {
    /** The data directory's name under the index path. */
    def dataDir: String
    /** Stage `delta`; `stored` is the live data, None once the index
      * has been deleted to empty.
      */
    def stage(delta: DataFrame, stored: Option[DataFrame]): Staged
    /** The touched clusters' stored survivors in [[rebuild]]'s layout. */
    def survivors(stored: DataFrame): DataFrame = stored
    /** The rows committed for the touched clusters. */
    def rebuild(rows: DataFrame): DataFrame = rows
  }

  /** The one mutation path: delete the `doomed` rows and add `delta`,
    * rewriting only the clusters either touches. Returns the number of
    * rows deleted.
    *
    *  1. The doomed rows are counted per cluster in one job.
    *  2. The touched clusters are the doomed rows' clusters plus those
    *     the staged delta forces in. Their survivors and the delta are
    *     rebuilt by the engine and committed by [[rewriteSwap]]; delta
    *     rows staged without clusters move in beside the stored ones.
    *  3. `_ROWS` becomes pre − deleted + `deltaRowsHint` when the
    *     caller knows the delta's non-null-vector row count (the
    *     streaming epoch collects it), else a footer walk. An index
    *     without `_ROWS_BASE` (built before the drift meters) gets its
    *     pre-mutation count less the deleted rows as the base, so its
    *     meter starts here instead of reading 0.0 forever.
    *
    * The data directory is opened once (one schema-inference job), and
    * that frame serves the doomed count, the delta's staging and the
    * survivors. The stored row set alone decides the result, so an
    * upsert equals its delete followed by its append (UpsertFusionSpec).
    */
  private[operators] def mutate(spark: SparkSession, indexPath: String,
                                engine: Engine, doomed: Option[Selection],
                                delta: Option[DataFrame],
                                deltaRowsHint: Option[Long] = None): Long = {
    val dir = s"$indexPath/${engine.dataDir}"
    recover(spark, dir)
    val exists = hasParquetFiles(spark, dir)
    if (!exists && delta.isEmpty) return 0L    // already emptied
    // a prior op in this session may have left a stale listing in the
    // shared FileStatusCache
    if (exists) spark.catalog.refreshByPath(dir)
    val preRows = if (exists) readCountFile(spark, s"$indexPath/_ROWS")
      else Some(0L)
    val legacyBase =
      if (readCountFile(spark, s"$indexPath/_ROWS_BASE").isEmpty)
        Some(rowCount(spark, dir))
      else None
    val stored = if (exists) Some(spark.read.parquet(dir)) else None
    val staged = delta.map(engine.stage(_, stored))
    val perCluster = doomed.zip(stored).fold(Map.empty[Int, Long]) {
      case (sel, live) =>
        sel.matching(live).groupBy(col("cluster")).agg(count(lit(1)))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    }
    val nDel = perCluster.values.sum
    val touched = (perCluster.keys ++
      staged.flatMap(_.clusters).getOrElse(Array.empty[Int])).toArray
      .distinct.sorted
    val extras = staged.exists(_.clusters.isEmpty)
    if (touched.isEmpty && !extras) return 0L  // nothing matched or added
    val survivors =
      if (touched.isEmpty) None
      else stored.map { live =>
        val inTouched = live.filter(col("cluster").isin(touched.toIndexedSeq: _*))
        engine.survivors(doomed.fold(inTouched)(_.keep(inTouched)))
      }
    rewriteSwap(spark, dir,
      engine.rebuild((survivors ++ staged.map(_.rows)).reduce(_ unionByName _)),
      touched, appendExtras = extras)
    legacyBase.foreach(n =>
      writeCountFile(spark, s"$indexPath/_ROWS_BASE", n - nDel))
    writeCountFile(spark, s"$indexPath/_ROWS", (deltaRowsHint, preRows) match {
      case (Some(dr), Some(pre)) => pre - nDel + dr
      case _ => rowCount(spark, dir)
    })
    nDel
  }

  /** Replace the `touched` `cluster=N` partition dirs under `dataDir`
    * with `rows`' content in ONE write: `rows` lands cluster-
    * partitioned in the dot-prefixed `.rewrite` sibling dir on the same
    * filesystem (invisible to Spark reads), then one journaled
    * [[graft.engine.Commit]] swap moves each touched live dir aside
    * and its replacement in. A touched cluster with no output rows is
    * retired — the emptied-partition case. Untouched partitions' files
    * stay byte-identical (their dirs are never listed, let alone
    * rewritten). Callers run [[recover]] before they read `dataDir`.
    *
    * With `appendExtras = true`, `rows` may ALSO carry clusters
    * outside `touched`: their files are MOVED into the live partition
    * dirs by the same commit (append semantics, nothing existing is
    * replaced). This is how an IVF mutation commits its rewrite AND
    * its delta in one write job. With the default `false`, an output
    * cluster outside `touched` fails the commit — the guard on every
    * rebuild-shaped caller and on the driver-computed assignment
    * hints.
    */
  private[operators] def rewriteSwap(spark: SparkSession, dataDir: String,
                                     rows: DataFrame,
                                     touched: Array[Int],
                                     appendExtras: Boolean = false): Unit =
    rewriteSwapWith(spark, dataDir, rows, touched, appendExtras)(_ => Nil)

  /** [[rewriteSwap]] that also publishes what `stage` writes into the
    * staging root (the HNSW split's widened router). */
  private[operators] def rewriteSwapWith(spark: SparkSession, dataDir: String,
                                         rows: DataFrame, touched: Array[Int],
                                         appendExtras: Boolean)
                                        (stage: Path => Seq[Commit.Swap]): Unit = {
    val dataPath = new Path(dataDir)
    val fs = dataPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = stagingOf(dataPath)
    val aside = new Path(tmp, "_old")
    rows.write.partitionBy("cluster").mode("overwrite").parquet(tmp.toString)
    val present = if (!fs.exists(tmp)) Set.empty[String]
      else fs.listStatus(tmp).map(_.getPath.getName).filter(_.startsWith("cluster=")).toSet
    val touchedNames = touched.map(c => s"cluster=$c").toSet
    if (!appendExtras) {
      val stray = present.filterNot(touchedNames)
      require(stray.isEmpty,
        s"rewrite produced rows for unswapped partition(s) " +
          s"${stray.mkString(",")} under $dataDir")
    }
    val replaced = touchedNames.toSeq.sorted.map { name =>
      Commit.Swap(Some(new Path(tmp, name)).filter(_ => present(name)),
        new Path(dataPath, name), new Path(aside, name))
    }
    // an extra cluster's files move into its live dir (part files move
    // with their checksum siblings)
    val appended = present.filterNot(touchedNames).toSeq.sorted.flatMap { name =>
      fs.mkdirs(new Path(dataPath, name))
      fs.listStatus(new Path(tmp, name)).toSeq.map(st => Commit.Swap(Some(st.getPath),
        new Path(new Path(dataPath, name), st.getPath.getName), new Path(aside, name)))
    }
    val extra = stage(tmp)
    fs.mkdirs(dataPath); fs.mkdirs(aside)
    Commit.swap(fs, replaced ++ appended ++ extra, Some(journalOf(tmp)))
    fs.delete(tmp, true)
    // the fs-level moves bypass Spark's write-path cache invalidation
    // — refresh so later reads see the new listing
    spark.catalog.refreshByPath(dataDir)
  }

  private def stagingOf(dataPath: Path) = new Path(dataPath.getParent, ".rewrite")
  private def journalOf(staging: Path) = new Path(staging, "_COMMIT")

  /** Finish or undo a [[rewriteSwap]] a crash interrupted. Every writer
    * of the index runs it before it reads `dataDir`; metadata only.
    */
  private[graft] def recover(spark: SparkSession, dataDir: String): Unit = {
    val dataPath = new Path(dataDir)
    val fs = dataPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = stagingOf(dataPath)
    if (fs.exists(tmp)) {
      Commit.recover(fs, Nil, Some(journalOf(tmp)))
      fs.delete(tmp, true)
      spark.catalog.refreshByPath(dataDir)
    }
  }

  // ── metadata: driver-side listings and footers, never a Spark job ──

  /** Any parquet part file under `dir` (recursive)? */
  private[graft] def hasParquetFiles(spark: SparkSession,
                                     dir: String): Boolean = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    val it = fs.listFiles(p, true)
    while (it.hasNext)
      if (it.next().getPath.getName.endsWith(".parquet")) return true
    false
  }

  /** Rows per `cluster=N` partition under `dataDir`, summed from the
    * parquet FOOTERS: a driver metadata walk, never a data scan.
    */
  private[graft] def clusterRows(spark: SparkSession,
                                 dataDir: String): Map[Int, Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(dataDir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Map.empty
    fs.listStatus(p).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cluster="))
      .map { part =>
        part.getPath.getName.stripPrefix("cluster=").toInt ->
          fs.listStatus(part.getPath).iterator
            .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
            .map { f =>
              val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
                org.apache.parquet.hadoop.util.HadoopInputFile
                  .fromPath(f.getPath, conf))
              try rdr.getRecordCount finally rdr.close()
            }.sum
      }.toMap
  }

  /** All rows under `dataDir`, from the footers ([[clusterRows]]). */
  private[graft] def rowCount(spark: SparkSession, dataDir: String): Long =
    clusterRows(spark, dataDir).values.sum

  /** Stamp a fresh build's `_ROWS` and `_ROWS_BASE` from the footers of
    * the data just written.
    */
  private[operators] def stampBuild(spark: SparkSession, indexPath: String,
                                    dataDir: String): Unit = {
    val n = rowCount(spark, s"$indexPath/$dataDir")
    writeCountFile(spark, s"$indexPath/_ROWS", n)
    writeCountFile(spark, s"$indexPath/_ROWS_BASE", n)
  }

  /** Files per partition — the FRAGMENTATION meter: every append or
    * rewrite can land more than one file per touched cluster, and a
    * daily-ingest index degrades into KB-scale files whose open and
    * footer overhead dominates the scan. One recursive listing.
    */
  private[graft] def filesPerCluster(spark: SparkSession,
                                     dataDir: String): Map[Int, Int] = {
    val p = new Path(dataDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Map.empty
    val counts = scala.collection.mutable.Map.empty[Int, Int]
    val it = fs.listFiles(p, true)
    val re = ".*/cluster=(\\d+)/[^/]*\\.parquet$".r
    while (it.hasNext) it.next().getPath.toString match {
      case re(c) => counts(c.toInt) = counts.getOrElse(c.toInt, 0) + 1
      case _ => ()
    }
    counts.toMap
  }

  /** The compaction trigger: some partition holds more than `maxFiles`
    * files.
    */
  private[operators] def needsCompaction(spark: SparkSession, dataDir: String,
                                         maxFiles: Int): Boolean =
    filesPerCluster(spark, dataDir).values.exists(_ > maxFiles)

  /** Rewrite every partition holding more than one file into one file —
    * OPTIMIZE for the index. Content-invisible: same rows, same
    * partition values (a graph row carries its own adjacency, so
    * nothing rebuilds). Single-file partitions keep their files
    * byte-identical; repartitioning by `cluster` lands each touched
    * partition in one task, one file. Returns the number compacted.
    */
  private[operators] def compact(spark: SparkSession, dataDir: String): Int = {
    recover(spark, dataDir)
    val touched = filesPerCluster(spark, dataDir).filter(_._2 > 1)
      .keys.toArray.sorted
    if (touched.isEmpty) return 0
    spark.catalog.refreshByPath(dataDir)
    rewriteSwap(spark, dataDir,
      spark.read.parquet(dataDir)
        .filter(col("cluster").isin(touched.toIndexedSeq: _*))
        .repartition(touched.length, col("cluster")),
      touched)
    touched.length
  }

  /** Appended-since-build fraction: (live − base) / base, where base is
    * `_ROWS_BASE` and live is `_ROWS` (the footer sum for an index
    * without one). 0.0 for a never-appended index and for one with no
    * base recorded. This is the drift meter behind both engines'
    * `needsRebuild`: appended vectors are assigned to FROZEN centroids
    * (and encoded with frozen PQ codebooks), so as the appended mass
    * grows the partition of space fits the corpus less and recall
    * decays.
    */
  private[operators] def appendedFraction(spark: SparkSession,
                                          indexPath: String,
                                          dataDir: String): Double = {
    val live = readCountFile(spark, s"$indexPath/_ROWS")
      .getOrElse(rowCount(spark, s"$indexPath/$dataDir"))
    readCountFile(spark, s"$indexPath/_ROWS_BASE") match {
      case Some(base) if base > 0 =>
        math.max(0.0, (live - base).toDouble / base)
      case _ => 0.0
    }
  }

  // ── the small records beside the data ──────────────────────────────

  /** The `_INDEX_READY` build fingerprint, None when the index has none. */
  private[graft] def readMarker(spark: SparkSession,
                                indexPath: String): Option[String] =
    readText(spark, s"$indexPath/_INDEX_READY")

  private def readText(spark: SparkSession, pathStr: String): Option[String] = {
    val p = new Path(pathStr)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  private def writeText(spark: SparkSession, pathStr: String,
                        text: String): Unit = {
    val p = new Path(pathStr)
    val o = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true)
    try o.write(text.getBytes("UTF-8")) finally o.close()
  }

  /** The stored Matryoshka prefix width (`_MRL_DIMS`), None for an
    * index built without an `mrl` column.
    */
  private[operators] def mrlDims(spark: SparkSession,
                                 indexPath: String): Option[Int] =
    readCountFile(spark, s"$indexPath/_MRL_DIMS").map(_.toInt)

  private[graft] def writeCountFile(spark: SparkSession, pathStr: String,
                                    n: Long): Unit =
    writeText(spark, pathStr, n.toString)

  private[graft] def readCountFile(spark: SparkSession,
                                   pathStr: String): Option[Long] =
    readText(spark, pathStr).map(_.trim.toLong)

  private[operators] def writeSchemaFile(spark: SparkSession, pathStr: String,
                                         schema: StructType): Unit =
    writeText(spark, pathStr, schema.json)

  private[operators] def readSchemaFile(spark: SparkSession,
                                        pathStr: String): Option[StructType] =
    readText(spark, pathStr)
      .map(DataType.fromJson(_).asInstanceOf[StructType])
}
