package graft

import org.apache.spark.sql.functions._
import graft.operators.{ClusterStore, Hnsw, Ivf}

/** Round-16 optimization pin: the fused upsert (one maintenance pass)
  * must produce the IDENTICAL index state as the sequential
  * delete-then-append it replaced in the streaming CDC path — on both
  * engines, on both delete forms (isin predicate / distributed id
  * relation), including the tombstone-only and brand-new-ids edges.
  */
class UpsertFusionSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  // a CDC epoch: updates (negated vectors for %7 ids), inserts (+5000
  // ids), and tombstones (%11 ids, delete-only — in the delete set but
  // not in the delta)
  private lazy val updates = emb.filter(col("vec_id") % 7 === 0)
    .select(col("vec_id"),
      transform(col("embedding"), x => (-x).cast("float")).as("embedding"),
      col("label"))
  private lazy val inserts = emb.filter(col("vec_id") % 13 === 1)
    .select((col("vec_id") + 5000L).as("vec_id"),
      reverse(col("embedding")).as("embedding"), col("label"))
  private lazy val delta = updates.unionByName(inserts)
  private lazy val tombstoneIds = emb.filter(col("vec_id") % 11 === 0)
    .select(col("vec_id"))
  private lazy val touched =
    delta.select(col("vec_id")).unionByName(tombstoneIds).distinct()
  private lazy val touchedSeq = touched.as[Long].collect().toIndexedSeq

  private def ivfState(path: String) =
    spark.read.parquet(s"$path/corpus").collect().map(_.toSeq).toSet

  private def hnswState(path: String) =
    spark.read.parquet(s"$path/graph").collect().map(_.toSeq).toSet

  test("IVF: fused upsert == sequential delete-then-append (both " +
    "delete forms), same rows, same _ROWS meter") {
    val m = Ivf.train(emb, k = 4, iters = 2)
    val (pSeq, pFusedA, pFusedB) =
      (tmpDir("uf-ivf-seq"), tmpDir("uf-ivf-fa"), tmpDir("uf-ivf-fb"))
    Seq(pSeq, pFusedA, pFusedB).foreach(Ivf.writeIndex(emb, m, _))
    val nSeq =
      Ivf.deleteFromIndex(spark, pSeq, col("vec_id").isin(touchedSeq: _*))
    Ivf.appendToIndex(delta, pSeq)
    val nA = Ivf.upsertToIndex(spark, pFusedA,
      col("vec_id").isin(touchedSeq: _*), delta)
    val nB = Ivf.upsertIdsToIndex(spark, pFusedB, touched, delta)
    assert(nA == nSeq && nB == nSeq, "deleted-row counts diverged")
    assert(ivfState(pFusedA) == ivfState(pSeq), "isin-form state diverged")
    assert(ivfState(pFusedB) == ivfState(pSeq), "ids-form state diverged")
    assert(Ivf.indexRowCount(spark, pFusedA) ==
      Ivf.indexRowCount(spark, pSeq))
    assert(Ivf.indexRowCount(spark, pFusedB) ==
      Ivf.indexRowCount(spark, pSeq))
  }

  test("IVF: fused upsert edges — tombstone-only epoch equals plain " +
    "delete; brand-new-ids epoch equals plain append") {
    val m = Ivf.train(emb, k = 4, iters = 2)
    val (pDel, pUps) = (tmpDir("uf-ivf-d"), tmpDir("uf-ivf-du"))
    Seq(pDel, pUps).foreach(Ivf.writeIndex(emb, m, _))
    val empty = delta.limit(0)
    Ivf.deleteFromIndex(spark, pDel, col("vec_id").isin(touchedSeq: _*))
    Ivf.upsertToIndex(spark, pUps, col("vec_id").isin(touchedSeq: _*),
      empty)
    assert(ivfState(pUps) == ivfState(pDel), "tombstone-only diverged")
    val (pApp, pAu) = (tmpDir("uf-ivf-a"), tmpDir("uf-ivf-au"))
    Seq(pApp, pAu).foreach(Ivf.writeIndex(emb, m, _))
    Ivf.appendToIndex(inserts, pApp)
    // the fused form still names the delta's ids as touched — none
    // exist in the index, so the delete half must be a no-op
    val n = Ivf.upsertIdsToIndex(spark, pAu,
      inserts.select(col("vec_id")), inserts)
    assert(n == 0L, "new ids must delete nothing")
    assert(ivfState(pAu) == ivfState(pApp), "brand-new-ids diverged")
  }

  test("HNSW (attr-carrying): fused upsert == sequential " +
    "delete-then-append (both delete forms), graph rows identical") {
    val src = "/root/testdata/sf0.001/embeddings.parquet"
    val (pSeq, pFusedA, pFusedB) =
      (tmpDir("uf-h-seq"), tmpDir("uf-h-fa"), tmpDir("uf-h-fb"))
    Seq(pSeq, pFusedA, pFusedB).foreach(p =>
      Hnsw.ensureIndex(emb, src, p, shards = 4, m = 8, efC = 32,
        attrCols = Seq("label")))
    val nSeq =
      Hnsw.deleteFromIndex(spark, pSeq, col("vec_id").isin(touchedSeq: _*))
    Hnsw.appendToIndex(delta, pSeq)
    val nA = Hnsw.upsertToIndex(spark, pFusedA,
      col("vec_id").isin(touchedSeq: _*), delta)
    val nB = Hnsw.upsertIdsToIndex(spark, pFusedB, touched, delta)
    assert(nA == nSeq && nB == nSeq, "deleted-row counts diverged")
    assert(hnswState(pFusedA) == hnswState(pSeq), "isin-form diverged")
    assert(hnswState(pFusedB) == hnswState(pSeq), "ids-form diverged")
    assert(ClusterStore.readCountFile(spark, s"$pFusedA/_ROWS") ==
      ClusterStore.readCountFile(spark, s"$pSeq/_ROWS"))
  }

  test("arithmetic _ROWS restamp (deltaRowsHint) == footer walk on " +
    "both engines, including a second stacked epoch") {
    // the hint is the delta's non-null-vector row count, exactly what
    // the streaming route probe collects; the stamp must equal what
    // the replaced footer walk would re-measure
    val m = Ivf.train(emb, k = 4, iters = 2)
    val pI = tmpDir("uf-ivf-hint")
    Ivf.writeIndex(emb, m, pI)
    val hint = delta.filter(col("embedding").isNotNull).count()
    Ivf.upsertToIndex(spark, pI, col("vec_id").isin(touchedSeq: _*),
      delta, deltaRowsHint = Some(hint))
    assert(ClusterStore.readCountFile(spark, s"$pI/_ROWS") ==
      Some(ClusterStore.rowCount(spark, s"$pI/corpus")),
      "IVF arithmetic _ROWS diverged from the footer truth")
    // second epoch stacked on the arithmetic stamp (induction step)
    val delta2 = inserts.select((col("vec_id") + 9000L).as("vec_id"),
      col("embedding"), col("label"))
    Ivf.upsertToIndex(spark, pI,
      col("vec_id").isin(touchedSeq.take(5): _*), delta2,
      deltaRowsHint = Some(delta2.count()))
    assert(ClusterStore.readCountFile(spark, s"$pI/_ROWS") ==
      Some(ClusterStore.rowCount(spark, s"$pI/corpus")),
      "IVF second-epoch arithmetic _ROWS diverged")
    val src = "/root/testdata/sf0.001/embeddings.parquet"
    val pH = tmpDir("uf-h-hint")
    Hnsw.ensureIndex(emb, src, pH, shards = 4, m = 8, efC = 32,
      attrCols = Seq("label"))
    Hnsw.upsertToIndex(spark, pH, col("vec_id").isin(touchedSeq: _*),
      delta, deltaRowsHint = Some(hint))
    assert(ClusterStore.readCountFile(spark, s"$pH/_ROWS") ==
      Some(Hnsw.footerShardSizes(spark, pH).values.sum),
      "HNSW arithmetic _ROWS diverged from the footer truth")
  }

  test("driver-side shard assignment (deltaClustersHint) is " +
    "bit-identical to the distributed kernel and yields the same " +
    "index state") {
    import graft.functions.NativeExpressions
    val m = Ivf.train(emb, k = 4, iters = 2)
    val norms = NativeExpressions.centroidNorms(m.centroids)
    // every corpus vector: driver assignment == the kernel's column
    val kernelAssigned = Ivf.assign(emb, m)
      .select(col("vec_id"), col("embedding"), col("cluster"))
      .collect()
    kernelAssigned.foreach { r =>
      val drv = NativeExpressions.nearestCentroidDriver(
        r.getSeq[Float](1), m.centroids, norms)
      assert(drv == r.getInt(2),
        s"driver assignment diverged for vec_id=${r.getLong(0)}")
    }
    // and the hint path produces the identical graph state
    val src = "/root/testdata/sf0.001/embeddings.parquet"
    val (pHint, pScan) = (tmpDir("uf-h-chint"), tmpDir("uf-h-cscan"))
    Seq(pHint, pScan).foreach(p =>
      Hnsw.ensureIndex(emb, src, p, shards = 4, m = 8, efC = 32,
        attrCols = Seq("label")))
    val model = Ivf.loadModelCached(spark, s"$pHint/centroids")
    val mNorms = NativeExpressions.centroidNorms(model.centroids)
    val hint = delta.filter(col("embedding").isNotNull)
      .select(col("embedding")).collect()
      .map(r => NativeExpressions.nearestCentroidDriver(
        r.getSeq[Float](0), model.centroids, mNorms)).distinct
    Hnsw.upsertToIndex(spark, pHint, col("vec_id").isin(touchedSeq: _*),
      delta, deltaClustersHint = Some(hint))
    Hnsw.upsertToIndex(spark, pScan, col("vec_id").isin(touchedSeq: _*),
      delta)
    assert(hnswState(pHint) == hnswState(pScan),
      "hint-path index state diverged from the distinct-scan path")
  }

  test("HNSW: untouched shards keep byte-identical files through a " +
    "fused upsert (swap never lists them)") {
    val src = "/root/testdata/sf0.001/embeddings.parquet"
    val p = tmpDir("uf-h-untouched")
    Hnsw.ensureIndex(emb, src, p, shards = 4, m = 8, efC = 32)
    // ids of exactly one shard: everything else must stay untouched
    val oneShard = spark.read.parquet(s"$p/graph")
      .filter(col("cluster") === 0).select(col("vec_id"))
    val before = fileStamps(s"$p/graph")
    Hnsw.upsertIdsToIndex(spark, p, oneShard, oneShard.limit(0)
      .join(emb, Seq("vec_id")).select(emb.columns.map(col): _*))
    val after = fileStamps(s"$p/graph")
    val untouchedBefore = before.filterNot(_._1.contains("cluster=0"))
    val untouchedAfter = after.filterNot(_._1.contains("cluster=0"))
    assert(untouchedBefore == untouchedAfter,
      "untouched shard files changed (path/len/mtime)")
    assert(!after.keys.exists(_.contains("cluster=0")),
      "an all-deleted shard must drop its dir entirely")
  }

  /** Spark jobs of one streamed CDC epoch on these fixtures — the
    * delta upserted and the tombstones deleted, under the inline-delete
    * cap — per engine in the test session (`local[4]`, 4 shuffle
    * partitions), as measured once each mutation opened the index's
    * data directory once. Job count does not depend on box load, so a
    * rise above it is a deterministic regression signal; a change that
    * cuts jobs lowers it.
    */
  private val ivfEpochJobCeiling = 11
  private val hnswEpochJobCeiling = 12

  test("one streamed CDC epoch stays within its Spark job ceiling on " +
    "both engines") {
    val feed = tmpDir("uf-epoch-feed")
    delta.withColumn("op", lit("U"))
      .unionByName(tombstoneIds.select(col("vec_id"),
        lit(null).cast(emb.schema("embedding").dataType).as("embedding"),
        lit(null).cast(emb.schema("label").dataType).as("label"),
        lit("D").as("op")))
      .coalesce(1).write.mode("overwrite").parquet(feed)
    val pI = tmpDir("uf-ivf-epoch")
    Ivf.writeIndex(emb, Ivf.train(emb, k = 4, iters = 2), pI)
    val pH = tmpDir("uf-h-epoch")
    Hnsw.ensureIndex(emb, feed, pH, shards = 4, m = 8, efC = 32,
      attrCols = Seq("label"))
    val (_, ivfJobs) = jobsOf(graft.streaming.StreamingVectorIndex
      .upsertStream(spark, feed, pI, tmpDir("uf-ivf-ck"),
        opCol = Some("op")))
    val (_, hnswJobs) = jobsOf(graft.streaming.StreamingVectorIndex
      .upsertStreamHnsw(spark, feed, pH, tmpDir("uf-h-ck"),
        opCol = Some("op")))
    val live = emb.join(touched, Seq("vec_id"), "left_anti").count() +
      delta.filter(col("embedding").isNotNull).count()
    assert(ClusterStore.readCountFile(spark, s"$pI/_ROWS").contains(live) &&
      ClusterStore.readCountFile(spark, s"$pH/_ROWS").contains(live),
      "construction: the epoch must land on both indexes")
    assert(ivfJobs <= ivfEpochJobCeiling,
      s"IVF epoch took $ivfJobs Spark jobs (ceiling $ivfEpochJobCeiling)")
    assert(hnswJobs <= hnswEpochJobCeiling,
      s"HNSW epoch took $hnswJobs Spark jobs (ceiling $hnswEpochJobCeiling)")
  }

  private def fileStamps(dir: String): Map[String, (Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Map.empty
    val it = fs.listFiles(p, true)
    val out = scala.collection.mutable.Map.empty[String, (Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet"))
        out(f.getPath.toString) = (f.getLen, f.getModificationTime)
    }
    out.toMap
  }
}
