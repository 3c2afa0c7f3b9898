package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.ClusterStore.{hasParquetFiles, readCountFile,
  readSchemaFile, rewriteSwap, writeCountFile}

/** The vector-index maintenance ops as each engine wrote them before
  * both ran through [[ClusterStore]]'s one mutation path: IVF's and
  * HNSW's own append, delete, upsert, compaction and drift-meter
  * bodies. They are the reference `VectorMaintenanceEquivalenceSpec`
  * pins the store-backed ops equal to, in rows, count files, files per
  * partition and Spark job count. The engine-specific pieces they call
  * (the IVF delta encoding, the HNSW shard build, the marker parse)
  * are the live ones.
  */
object VectorMaintenanceReference {

  private def footerSum(spark: SparkSession, dir: String): Long =
    ClusterStore.clusterRows(spark, dir).values.sum

  // ── IVF ────────────────────────────────────────────────────────────

  private def writeRowCount(spark: SparkSession, path: String): Long = {
    val n = footerSum(spark, s"$path/corpus")
    writeCountFile(spark, s"$path/_ROWS", n)
    n
  }

  private def storedCorpusSchema(spark: SparkSession, indexPath: String)
      : org.apache.spark.sql.types.StructType =
    if (hasParquetFiles(spark, s"$indexPath/corpus"))
      spark.read.parquet(s"$indexPath/corpus").schema
    else readSchemaFile(spark, s"$indexPath/_SCHEMA").getOrElse(
      sys.error(s"index corpus at $indexPath is empty and predates " +
        "the _SCHEMA record; rebuild via ensureIndex"))

  def ivfAppendToIndex(df: DataFrame, indexPath: String,
                       vecCol: String = "embedding"): Unit = {
    val spark = df.sparkSession
    val corpusSchema = storedCorpusSchema(spark, indexPath)
    Ivf.encodeForCorpus(df, indexPath, corpusSchema, vecCol)
      .write.mode("append").partitionBy("cluster")
      .parquet(s"$indexPath/corpus")
    writeRowCount(spark, indexPath): Unit
  }

  def ivfUpsertToIndex(spark: SparkSession, indexPath: String,
                       predicate: Column, delta: DataFrame,
                       vecCol: String = "embedding",
                       deltaRowsHint: Option[Long] = None): Long =
    ivfUpsertImpl(spark, indexPath, _.filter(predicate),
      _.filter(!(predicate <=> lit(true))), delta, vecCol, deltaRowsHint)

  def ivfUpsertIdsToIndex(spark: SparkSession, indexPath: String,
                          ids: DataFrame, delta: DataFrame,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): Long = {
    val sel = ids.select(col(idCol)).distinct()
    ivfUpsertImpl(spark, indexPath, _.join(sel, Seq(idCol), "left_semi"),
      _.join(sel, Seq(idCol), "left_anti"), delta, vecCol, None)
  }

  private def ivfUpsertImpl(spark: SparkSession, indexPath: String,
                            matchRows: DataFrame => DataFrame,
                            keepRows: DataFrame => DataFrame,
                            delta: DataFrame, vecCol: String,
                            deltaRowsHint: Option[Long]): Long = {
    val corpusExists = hasParquetFiles(spark, s"$indexPath/corpus")
    if (corpusExists) spark.catalog.refreshByPath(s"$indexPath/corpus")
    val corpusSchema = storedCorpusSchema(spark, indexPath)
    val preRows = if (corpusExists)
      readCountFile(spark, s"$indexPath/_ROWS") else Some(0L)
    var nDel = 0L
    val encoded = Ivf.encodeForCorpus(delta, indexPath, corpusSchema, vecCol)
    var fused = false
    if (corpusExists) {
      val corpus = spark.read.parquet(s"$indexPath/corpus")
      val perCluster = matchRows(corpus).groupBy(col("cluster"))
        .agg(count(lit(1)).as("__n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      if (perCluster.nonEmpty) {
        nDel = perCluster.values.sum
        val touched = perCluster.keys.toArray.sorted
        rewriteSwap(spark, s"$indexPath/corpus",
          keepRows(corpus.filter(
            col("cluster").isin(touched.toIndexedSeq: _*)))
            .unionByName(encoded),
          touched, appendExtras = true)
        fused = true
      }
    }
    if (!fused)
      encoded.write.mode("append").partitionBy("cluster")
        .parquet(s"$indexPath/corpus")
    (deltaRowsHint, preRows) match {
      case (Some(dr), Some(pre)) =>
        writeCountFile(spark, s"$indexPath/_ROWS", pre - nDel + dr)
      case _ =>
        if (hasParquetFiles(spark, s"$indexPath/corpus"))
          writeRowCount(spark, indexPath)
        else writeCountFile(spark, s"$indexPath/_ROWS", 0L)
    }
    nDel
  }

  def ivfDeleteFromIndex(spark: SparkSession, indexPath: String,
                         predicate: Column): Long =
    ivfDeleteImpl(spark, indexPath, _.filter(predicate),
      _.filter(!(predicate <=> lit(true))))

  def ivfDeleteIdsFromIndex(spark: SparkSession, indexPath: String,
                            ids: DataFrame,
                            idCol: String = "vec_id"): Long = {
    val sel = ids.select(col(idCol)).distinct()
    ivfDeleteImpl(spark, indexPath, _.join(sel, Seq(idCol), "left_semi"),
      _.join(sel, Seq(idCol), "left_anti"))
  }

  private def ivfDeleteImpl(spark: SparkSession, indexPath: String,
                            matchRows: DataFrame => DataFrame,
                            keepRows: DataFrame => DataFrame): Long = {
    if (!hasParquetFiles(spark, s"$indexPath/corpus")) return 0L
    spark.catalog.refreshByPath(s"$indexPath/corpus")
    val corpus = spark.read.parquet(s"$indexPath/corpus")
    val perCluster = matchRows(corpus).groupBy(col("cluster"))
      .agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (perCluster.isEmpty) return 0L
    val nDel = perCluster.values.sum
    val touched = perCluster.keys.toArray.sorted
    rewriteSwap(spark, s"$indexPath/corpus",
      keepRows(corpus.filter(col("cluster").isin(touched.toIndexedSeq: _*))),
      touched)
    if (hasParquetFiles(spark, s"$indexPath/corpus"))
      writeRowCount(spark, indexPath)
    else writeCountFile(spark, s"$indexPath/_ROWS", 0L)
    nDel
  }

  /** Files per `cluster=N` partition under `dir`. */
  private def filesPer(spark: SparkSession, dir: String): Map[Int, Int] = {
    val p = new org.apache.hadoop.fs.Path(dir)
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

  private def compact(spark: SparkSession, dir: String): Int = {
    val frag = filesPer(spark, dir).filter(_._2 > 1)
    if (frag.isEmpty) return 0
    val touched = frag.keys.toArray.sorted
    spark.catalog.refreshByPath(dir)
    val stored = spark.read.parquet(dir)
    rewriteSwap(spark, dir,
      stored.filter(col("cluster").isin(touched.toIndexedSeq: _*))
        .repartition(touched.length, col("cluster")),
      touched)
    touched.length
  }

  def ivfCompactIndex(spark: SparkSession, indexPath: String): Int =
    compact(spark, s"$indexPath/corpus")

  def ivfAppendedFraction(spark: SparkSession, indexPath: String): Double = {
    val live = readCountFile(spark, s"$indexPath/_ROWS")
      .getOrElse(spark.read.parquet(s"$indexPath/corpus").count())
    readCountFile(spark, s"$indexPath/_ROWS_BASE") match {
      case Some(base) if base > 0 =>
        math.max(0.0, (live - base).toDouble / base)
      case _ => 0.0
    }
  }

  def ivfMaintain(spark: SparkSession, indexPath: String,
                  maxFilesPerCluster: Int = 16,
                  maxAppendedFraction: Double = 0.5): Ivf.MaintenanceReport = {
    val compacted =
      if (filesPer(spark, s"$indexPath/corpus").values
          .exists(_ > maxFilesPerCluster))
        ivfCompactIndex(spark, indexPath)
      else 0
    val frac = ivfAppendedFraction(spark, indexPath)
    Ivf.MaintenanceReport(compacted, frac, frac > maxAppendedFraction)
  }

  // ── HNSW ───────────────────────────────────────────────────────────

  private def shardSum(spark: SparkSession, indexPath: String): Long =
    footerSum(spark, s"$indexPath/graph")

  def hnswAppendToIndex(df: DataFrame, indexPath: String,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): Unit = {
    val spark = df.sparkSession
    val b = Hnsw.buildParams(spark, indexPath)
    if (readCountFile(spark, s"$indexPath/_ROWS_BASE").isEmpty)
      writeCountFile(spark, s"$indexPath/_ROWS_BASE",
        shardSum(spark, indexPath))
    val model = Ivf.loadModelCached(spark, s"$indexPath/centroids")
    val missing = b.attrs.filterNot(df.columns.contains)
    require(missing.isEmpty, s"the append delta lacks ${missing.mkString(",")}")
    val assigned = Hnsw.shardInput(Ivf.assign(df, model, vecCol),
      col("cluster"), col(idCol), col(vecCol), delta = true, b.attrs)
    val touched = assigned.select(col("cluster")).distinct()
      .collect().map(_.getInt(0)).sorted
    val existing =
      if (hasParquetFiles(spark, s"$indexPath/graph"))
        Hnsw.shardInput(spark.read.parquet(s"$indexPath/graph")
            .filter(col("cluster").isin(touched.toIndexedSeq: _*)),
          col("cluster"), col("vec_id"), col("vec"), delta = false, b.attrs)
      else assigned.limit(0)
    val rebuilt = Hnsw.buildShardsCarryingAttrs(
      existing.unionByName(assigned), b.attrs, b.m, b.efC)
    rewriteSwap(spark, s"$indexPath/graph", rebuilt, touched)
    writeCountFile(spark, s"$indexPath/_ROWS", shardSum(spark, indexPath))
  }

  def hnswDeleteFromIndex(spark: SparkSession, indexPath: String,
                          predicate: Column): Long =
    hnswDeleteImpl(spark, indexPath, _.filter(predicate),
      _.filter(!(predicate <=> lit(true))))

  def hnswDeleteIdsFromIndex(spark: SparkSession, indexPath: String,
                             ids: DataFrame,
                             idCol: String = "vec_id"): Long = {
    val sel = ids.select(col(idCol).as("vec_id")).distinct()
    hnswDeleteImpl(spark, indexPath,
      _.join(sel, Seq("vec_id"), "left_semi"),
      _.join(sel, Seq("vec_id"), "left_anti"))
  }

  private def hnswDeleteImpl(spark: SparkSession, indexPath: String,
                             matchRows: DataFrame => DataFrame,
                             keepRows: DataFrame => DataFrame): Long = {
    if (!hasParquetFiles(spark, s"$indexPath/graph")) return 0L
    val b = Hnsw.buildParams(spark, indexPath)
    spark.catalog.refreshByPath(s"$indexPath/graph")
    val graph = spark.read.parquet(s"$indexPath/graph")
    val perShard = matchRows(graph).groupBy(col("cluster"))
      .agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (perShard.isEmpty) return 0L
    val nDel = perShard.values.sum
    val touched = perShard.keys.toArray.sorted
    val rebuilt = Hnsw.buildShardsCarryingAttrs(
      Hnsw.shardInput(
        keepRows(graph.filter(col("cluster").isin(touched.toIndexedSeq: _*))),
        col("cluster"), col("vec_id"), col("vec"), delta = false, b.attrs),
      b.attrs, b.m, b.efC)
    rewriteSwap(spark, s"$indexPath/graph", rebuilt, touched)
    writeCountFile(spark, s"$indexPath/_ROWS", shardSum(spark, indexPath))
    nDel
  }

  def hnswUpsertToIndex(spark: SparkSession, indexPath: String,
                        predicate: Column, delta: DataFrame,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        deltaRowsHint: Option[Long] = None,
                        deltaClustersHint: Option[Array[Int]] = None): Long =
    hnswUpsertImpl(spark, indexPath, _.filter(predicate),
      _.filter(!(predicate <=> lit(true))), delta, idCol, vecCol,
      deltaRowsHint, deltaClustersHint)

  def hnswUpsertIdsToIndex(spark: SparkSession, indexPath: String,
                           ids: DataFrame, delta: DataFrame,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): Long = {
    val sel = ids.select(col(idCol).as("vec_id")).distinct()
    hnswUpsertImpl(spark, indexPath,
      _.join(sel, Seq("vec_id"), "left_semi"),
      _.join(sel, Seq("vec_id"), "left_anti"), delta, idCol, vecCol,
      None, None)
  }

  private def hnswUpsertImpl(spark: SparkSession, indexPath: String,
                             matchRows: DataFrame => DataFrame,
                             keepRows: DataFrame => DataFrame,
                             delta: DataFrame, idCol: String,
                             vecCol: String, deltaRowsHint: Option[Long],
                             deltaClustersHint: Option[Array[Int]]): Long = {
    val b = Hnsw.buildParams(spark, indexPath)
    val missing = b.attrs.filterNot(delta.columns.contains)
    require(missing.isEmpty, s"the upsert delta lacks ${missing.mkString(",")}")
    val model = Ivf.loadModelCached(spark, s"$indexPath/centroids")
    val hasGraph = hasParquetFiles(spark, s"$indexPath/graph")
    val preRows =
      if (readCountFile(spark, s"$indexPath/_ROWS_BASE").isEmpty)
        Some(shardSum(spark, indexPath))
      else None
    val assigned = Hnsw.shardInput(
      Ivf.assign(delta.filter(col(vecCol).isNotNull), model, vecCol),
      col("cluster"), col(idCol), col(vecCol), delta = true, b.attrs)
    val touchedAppend = deltaClustersHint.getOrElse(
      assigned.select(col("cluster")).distinct()
        .collect().map(_.getInt(0)))
    var nDel = 0L
    var touchedDel = Array.empty[Int]
    if (hasGraph) {
      spark.catalog.refreshByPath(s"$indexPath/graph")
      val perShard = matchRows(spark.read.parquet(s"$indexPath/graph"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("__n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      nDel = perShard.values.sum
      touchedDel = perShard.keys.toArray
    }
    val rebuildSet = (touchedDel ++ touchedAppend).distinct.sorted
    if (rebuildSet.isEmpty) return 0L
    val keep =
      if (hasGraph)
        Hnsw.shardInput(
          keepRows(spark.read.parquet(s"$indexPath/graph")
            .filter(col("cluster").isin(rebuildSet.toIndexedSeq: _*))),
          col("cluster"), col("vec_id"), col("vec"), delta = false, b.attrs)
      else assigned.limit(0)
    val rebuilt = Hnsw.buildShardsCarryingAttrs(
      keep.unionByName(assigned), b.attrs, b.m, b.efC)
    val preLive =
      if (hasGraph) readCountFile(spark, s"$indexPath/_ROWS")
      else Some(0L)
    rewriteSwap(spark, s"$indexPath/graph", rebuilt, rebuildSet)
    preRows.foreach(pre =>
      writeCountFile(spark, s"$indexPath/_ROWS_BASE", pre - nDel))
    (deltaRowsHint, preLive) match {
      case (Some(dr), Some(pre)) =>
        writeCountFile(spark, s"$indexPath/_ROWS", pre - nDel + dr)
      case _ =>
        writeCountFile(spark, s"$indexPath/_ROWS", shardSum(spark, indexPath))
    }
    nDel
  }

  def hnswCompactShards(spark: SparkSession, indexPath: String): Int =
    compact(spark, s"$indexPath/graph")

  def hnswAppendedFraction(spark: SparkSession, indexPath: String): Double = {
    val live = readCountFile(spark, s"$indexPath/_ROWS")
      .getOrElse(shardSum(spark, indexPath))
    readCountFile(spark, s"$indexPath/_ROWS_BASE") match {
      case Some(base) if base > 0 =>
        math.max(0.0, (live - base).toDouble / base)
      case _ => 0.0
    }
  }

  def hnswMaintain(spark: SparkSession, indexPath: String,
                   maxFilesPerShard: Int = 16,
                   maxAppendedFraction: Double = 0.5,
                   maxShardSkew: Double = 4.0,
                   maxSplits: Int = 8): Hnsw.MaintenanceReport = {
    val compacted =
      if (filesPer(spark, s"$indexPath/graph").values
          .exists(_ > maxFilesPerShard))
        hnswCompactShards(spark, indexPath)
      else 0
    val (splits, retrain, delta) =
      Hnsw.rebuildRemedy(spark, indexPath, maxAppendedFraction,
        maxShardSkew) match {
        case Hnsw.Retrain(d) => (0, true, d)
        case Hnsw.SplitHot(_) =>
          (Hnsw.rebalance(spark, indexPath, maxShardSkew, maxSplits), false, 0)
        case Hnsw.NoRebuild => (0, false, 0)
      }
    Hnsw.MaintenanceReport(compacted, splits,
      hnswAppendedFraction(spark, indexPath),
      Hnsw.shardImbalance(spark, indexPath), retrain, delta)
  }
}
