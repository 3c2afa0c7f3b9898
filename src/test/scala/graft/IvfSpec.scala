package graft

import org.apache.spark.sql.functions._
import graft.operators.{Ivf, SimilaritySearch}

class IvfSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("train: k centroids, deterministic for a fixed seed") {
    val m1 = Ivf.train(emb, k = 8, iters = 2)
    val m2 = Ivf.train(emb, k = 8, iters = 2)
    assert(m1.k == 8)
    assert(m1.centroids.map(_.toSeq).toSeq == m2.centroids.map(_.toSeq).toSeq)
    assert(m1.centroids.forall(_.length == 64))
  }

  test("assign: every vector gets a cluster in [0, k)") {
    val m = Ivf.train(emb, k = 8, iters = 2)
    val clusters = Ivf.assign(emb, m).select("cluster").as[Int].collect()
    assert(clusters.length == emb.count())
    assert(clusters.forall(c => c >= 0 && c < 8))
    assert(clusters.distinct.length > 1) // not degenerate
  }

  test("searchTopK: full probe (nprobe=k) equals brute force exactly") {
    val m = Ivf.train(emb, k = 4, iters = 2)
    val q = emb.filter(col("vec_id") < 8)
    val exact = SimilaritySearch.bruteForceTopK(emb, q, k = 5)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    val ivf = Ivf.searchTopK(emb, q, m, k = 5, nprobe = 4)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    assert(ivf == exact) // probing every cluster = exhaustive search
  }

  test("searchTopK: partial probe trades recall for touched data") {
    val m = Ivf.train(emb, k = 8, iters = 2)
    val q = emb.filter(col("vec_id") < 20)
    val exact = SimilaritySearch.bruteForceTopK(emb, q, k = 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val ivf = Ivf.searchTopK(emb, q, m, k = 5, nprobe = 3)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall $recall") // random gaussians cluster weakly
    assert(ivf.size <= exact.size)
  }

  test("sampled training: bounded sample yields a usable model and " +
    "full-probe search stays exhaustive-exact for ANY centroids") {
    val m = Ivf.train(emb, k = 4, iters = 2, trainSampleN = 100)
    assert(m.k == 4 && m.centroids.forall(_.length == 64))
    val q = emb.filter(col("vec_id") < 8)
    val exact = SimilaritySearch.bruteForceTopK(emb, q, k = 5)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    val ivf = Ivf.searchTopK(emb, q, m, k = 5, nprobe = 4)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    assert(ivf == exact, "full probe must be exhaustive whatever the model")
  }

  test("model save/load round-trips the centroid matrix exactly") {
    val m = Ivf.train(emb, k = 4, iters = 2)
    val path = tmpDir("graft-ivf-model")
    Ivf.saveModel(spark, m, path)
    val loaded = Ivf.loadModel(spark, path)
    assert(loaded.centroids.map(_.toSeq).toSeq ==
      m.centroids.map(_.toSeq).toSeq)
  }

  test("loadModelCached: hit skips the reload, rewrite invalidates") {
    val m1 = Ivf.train(emb, k = 2, iters = 1)
    val path = tmpDir("graft-ivf-mcache")
    Ivf.saveModel(spark, m1, path)
    val a = Ivf.loadModelCached(spark, path)
    val b = Ivf.loadModelCached(spark, path)
    assert(a eq b, "unchanged index must return the cached instance")
    // a genuinely different model at the same path must be picked up
    Thread.sleep(1100) // FS mtime granularity can be a full second
    val m2 = Ivf.train(emb, k = 3, iters = 2)
    Ivf.saveModel(spark, m2, path)
    val c = Ivf.loadModelCached(spark, path)
    assert(c.centroids.map(_.toSeq).toSeq == m2.centroids.map(_.toSeq).toSeq,
      "rewritten centroids must invalidate the cache")
  }

  test("searchIndex on a reloaded on-disk index equals the in-memory search") {
    val m = Ivf.train(emb, k = 4, iters = 2)
    val path = tmpDir("graft-ivf-index")
    Ivf.writeIndex(emb, m, path)
    val q = emb.filter(col("vec_id") < 8)
    for (nprobe <- Seq(1, 2, 4)) {
      val mem = Ivf.searchTopK(emb, q, m, k = 5, nprobe = nprobe)
        .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
      val disk = Ivf.searchIndex(spark, path, q, k = 5, nprobe = nprobe)
        .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
      assert(disk == mem, s"nprobe=$nprobe diverged")
    }
  }

  test("searchIndex prunes unprobed cluster partitions at the scan") {
    val m = Ivf.train(emb, k = 4, iters = 2)
    val path = tmpDir("graft-ivf-prune")
    Ivf.writeIndex(emb, m, path)
    val q = emb.filter(col("vec_id") === 0)
    val probed = q
      .select(explode(graft.functions.NativeExpressions
        .nearestCentroids(col("embedding"), m.centroids, 1)).as("cluster"))
      .distinct().as[Int].collect().toSet
    assert(probed.size == 1)
    // the pruned scan the search plans: partition filter present, and the
    // files it reads all come from the probed cluster's directory
    val pruned = spark.read.parquet(s"$path/corpus")
      .filter(col("cluster").isin(probed.toSeq: _*))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      s"no partition filter in:\n$plan")
    val scannedFiles = pruned.select(input_file_name()).distinct()
      .as[String].collect()
    assert(scannedFiles.nonEmpty)
    assert(scannedFiles.forall(f => probed.exists(c => f.contains(s"cluster=$c"))),
      s"scan touched unprobed partitions: ${scannedFiles.mkString(", ")}")
  }

  test("ensureIndex: builds once, skips when fresh, rebuilds when the " +
    "source is newer than the marker") {
    val src = tmpDir("graft-ivf-src")
    emb.limit(50).write.mode("overwrite").parquet(src)
    val idx = tmpDir("graft-ivf-ensure")
    val data = spark.read.parquet(src)
    val marker = new java.io.File(s"$idx/_INDEX_READY")

    Ivf.ensureIndex(data, src, idx, k = 2, iters = 1)
    assert(marker.exists(), "first call must build the index")
    val builtAt = marker.lastModified()

    Ivf.ensureIndex(data, src, idx, k = 2, iters = 1)
    assert(marker.lastModified() == builtAt, "fresh index must not rebuild")

    // regenerate the source with a strictly newer mtime → must rebuild
    // (re-read after the overwrite: the old frame pins dead file names)
    Thread.sleep(1100) // FS mtime granularity can be a full second
    emb.limit(50).write.mode("overwrite").parquet(src)
    val data2 = spark.read.parquet(src)
    Ivf.ensureIndex(data2, src, idx, k = 2, iters = 1)
    assert(marker.lastModified() > builtAt, "stale index must rebuild")

    // changed build PARAMETERS at the same path must rebuild too — a
    // stale k=2 index must never be served to a k=3 caller (the marker
    // fingerprints the parameters)
    val preParamChange = marker.lastModified()
    Thread.sleep(1100)
    Ivf.ensureIndex(data2, src, idx, k = 3, iters = 1)
    assert(marker.lastModified() > preParamChange,
      "parameter change did not rebuild")
    assert(Ivf.loadModel(spark, s"$idx/centroids").k == 3)
    Ivf.ensureIndex(data2, src, idx, k = 2, iters = 1) // restore for below

    // the ensured index searches identically to a direct build
    val q = data2.filter(col("vec_id") < 4)
    val direct = Ivf.searchTopK(data2, q,
      Ivf.train(data2, k = 2, iters = 1), k = 3, nprobe = 2)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    val ensured = Ivf.searchIndex(spark, idx, q, k = 3, nprobe = 2)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    assert(ensured == direct)
  }

  test("appendToIndex: build-half-then-append equals build-all for a " +
    "full-probe search; _ROWS tracks the growth") {
    val m = Ivf.train(emb, k = 4, iters = 2)
    val all = tmpDir("graft-ivf-app-all")
    val inc = tmpDir("graft-ivf-app-inc")
    Ivf.writeIndex(emb, m, all)
    val half0 = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val half1 = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    Ivf.writeIndex(half0, m, inc)
    val rowsBefore = Ivf.indexRowCount(spark, inc).get
    Ivf.appendToIndex(half1, inc)
    assert(Ivf.indexRowCount(spark, inc).contains(emb.count()))
    assert(rowsBefore == half0.count())
    val q = emb.filter(col("vec_id") < 8)
    val a = Ivf.searchIndex(spark, all, q, k = 5, nprobe = 4)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    val b = Ivf.searchIndex(spark, inc, q, k = 5, nprobe = 4)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    assert(a == b, "appended index diverged from the one-shot build")
  }

  test("appendToIndex on quantized and PQ indexes keeps the compressed " +
    "columns aligned and reuses the SAVED codebooks") {
    val m = Ivf.train(emb, k = 4, iters = 2)
    val half0 = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val half1 = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    val n = emb.count().toInt

    // int8-quantized: appended rows must carry q8/q_scale so the
    // compressed shortlist scan stays uniform
    val qIdx = tmpDir("graft-ivf-app-q")
    Ivf.writeIndex(half0, m, qIdx, quantize = true)
    Ivf.appendToIndex(half1, qIdx)
    val qAll = tmpDir("graft-ivf-app-q-all")
    Ivf.writeIndex(emb, m, qAll, quantize = true)
    val q = emb.filter(col("vec_id") < 8)
    val compInc = Ivf.searchIndex(spark, qIdx, q, k = 5,
      nprobe = 4, shortlist = Ivf.Shortlist.Sq8(n))
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    val compAll = Ivf.searchIndex(spark, qAll, q, k = 5,
      nprobe = 4, shortlist = Ivf.Shortlist.Sq8(n))
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    assert(compInc == compAll)

    // PQ: appended rows encode with the index's SAVED codebooks (the
    // codebook artifact must be byte-identical after the append)
    val pIdx = tmpDir("graft-ivf-app-pq")
    val pq = graft.operators.Pq.train(half0, m = 4, k = 16)
    Ivf.writeIndex(half0, m, pIdx, pq = Some(pq))
    def pqBytes = {
      val p = new org.apache.hadoop.fs.Path(s"$pIdx/pq")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(s => (s.getPath.getName, s.getLen,
        s.getModificationTime)).toSeq.sortBy(_._1)
    }
    val before = pqBytes
    Ivf.appendToIndex(half1, pIdx)
    assert(pqBytes == before, "append must NOT rewrite the codebooks")
    val viaPq = Ivf.searchIndex(spark, pIdx, q, k = 5, nprobe = 4,
      shortlist = Ivf.Shortlist.Pq(n))
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    val exact = Ivf.searchIndex(spark, pIdx, q, k = 5, nprobe = 4)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    assert(viaPq == exact,
      "full-shortlist PQ search over the appended index must match exact")
  }

  test("residual IVF-PQ index: cold-reload search with exhaustive " +
    "shortlist equals brute force; rebuild only on fingerprint change") {
    val src = "/root/testdata/sf0.001/embeddings.parquet"
    val idx = tmpDir("graft-ivf-residx")
    val n = emb.count().toInt
    Ivf.ensureIndexPqResidual(emb, src, idx, k = 4, iters = 2,
      pqM = 8, pqK = 16, pqIters = 4, pqSampleN = 1024)
    val ready = new org.apache.hadoop.fs.Path(s"$idx/_INDEX_READY")
    val fs = ready.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val builtAt = fs.getFileStatus(ready).getModificationTime
    val q = emb.filter(col("vec_id") < 8)
    val got = Ivf.searchIndex(spark, idx, q, k = 5,
        nprobe = 4, shortlist = Ivf.Shortlist.PqResidual(n))
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    val exact = graft.operators.SimilaritySearch.bruteForceTopK(emb, q, k = 5)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    assert(got == exact,
      "exhaustive probe + full rescore must equal brute force cold")
    // freshness: a second ensure is a no-op, same-parameter reuse
    Ivf.ensureIndexPqResidual(emb, src, idx, k = 4, iters = 2,
      pqM = 8, pqK = 16, pqIters = 4, pqSampleN = 1024)
    assert(fs.getFileStatus(ready).getModificationTime == builtAt,
      "fresh index must not rebuild")
    // default shortlist from the cold artifact keeps useful recall
    val approx = Ivf.searchIndex(spark, idx, q, k = 5,
        nprobe = 4, shortlist = Ivf.Shortlist.PqResidual(64))
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val hits = exact.map(t => (t._1, t._3)).intersect(approx)
    assert(hits.size >= (exact.size * 6) / 10,
      s"residual index recall collapsed: ${hits.size}/${exact.size}")
  }

  test("searchIndexCompressed with a full shortlist equals the float search") {
    val m = Ivf.train(emb, k = 4, iters = 2)
    val path = tmpDir("graft-ivf-pq-full")
    Ivf.writeIndex(emb, m, path, quantize = true)
    val q = emb.filter(col("vec_id") < 8)
    val n = emb.count().toInt
    for (nprobe <- Seq(2, 4)) {
      // shortlist everything → the exact-cosine rescore decides every
      // rank, so the compressed path must reproduce the float path
      val float = Ivf.searchIndex(spark, path, q, k = 5, nprobe = nprobe)
        .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
      val compressed = Ivf.searchIndex(spark, path, q, k = 5,
        nprobe = nprobe, shortlist = Ivf.Shortlist.Sq8(n))
        .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
      assert(compressed == float, s"nprobe=$nprobe diverged")
    }
  }

  test("searchIndexCompressed default shortlist keeps high recall") {
    val m = Ivf.train(emb, k = 4, iters = 2)
    val path = tmpDir("graft-ivf-pq-recall")
    Ivf.writeIndex(emb, m, path, quantize = true)
    val q = emb.filter(col("vec_id") < 20)
    val float = Ivf.searchIndex(spark, path, q, k = 5, nprobe = 2)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val compressed = Ivf.searchIndex(spark, path, q, k = 5,
      nprobe = 2, shortlist = Ivf.Shortlist.Sq8()) // default rescoreK = 4k
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = float.intersect(compressed).size.toDouble / float.size
    assert(recall >= 0.9, s"int8 shortlist recall $recall vs the float path")
  }

  test("searchIndexCompressed shortlist scan reads int8, not the float vectors") {
    val m = Ivf.train(emb, k = 4, iters = 2)
    val path = tmpDir("graft-ivf-pq-plan")
    Ivf.writeIndex(emb, m, path, quantize = true)
    val q = emb.filter(col("vec_id") < 4)
    val df = Ivf.searchIndex(spark, path, q, k = 5, nprobe = 2,
      shortlist = Ivf.Shortlist.Sq8())
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val schemas = p.linesIterator.filter(_.contains("ReadSchema:")).toList
    // the shortlist phase reads the 4×-smaller quantized column only
    assert(schemas.exists(s => s.contains("q8") && !s.contains("embedding")),
      s"no int8-only corpus scan in:\n$p")
    // the rescore phase still reads float vectors (shortlisted rows only)
    assert(schemas.exists(s => s.contains("embedding")),
      s"no full-precision rescore scan in:\n$p")
    // partition pruning applies to the compressed scan like the float one
    assert(p.contains("PartitionFilters"), s"unpruned compressed scan:\n$p")
  }

  test("searchIndexMrl: full probe + exhaustive rescore ≡ brute force; " +
    "shortlist scan reads the stored prefix only; append slices the " +
    "same width") {
    val m = Ivf.train(emb, k = 4, iters = 2)
    val path = tmpDir("graft-ivf-mrl")
    Ivf.writeIndex(emb, m, path, mrlDims = 4)
    val q = emb.filter(col("vec_id") < 8)
    val n = emb.count().toInt
    // full probe + exhaustive rescore: exactly the brute-force rows
    val exact = SimilaritySearch.bruteForceTopK(emb, q, k = 5)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    val got = Ivf.searchIndex(spark, path, q, k = 5, nprobe = 4,
      shortlist = Ivf.Shortlist.Mrl(n))
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    assert(got == exact, "full-probe MRL index path diverged from brute")
    // plan: the shortlist phase reads the prefix column only — the IO
    // saving q_v_topk_mrl's in-memory slice can't deliver; the rescore
    // still reads float vectors (shortlisted rows only), pruned scans
    val df = Ivf.searchIndex(spark, path, q, k = 5, nprobe = 2,
      shortlist = Ivf.Shortlist.Mrl())
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val schemas = p.linesIterator.filter(_.contains("ReadSchema:")).toList
    assert(schemas.exists(s => s.contains("mrl") && !s.contains("embedding")),
      s"no prefix-only corpus scan in:\n$p")
    assert(schemas.exists(_.contains("embedding")),
      s"no full-precision rescore scan in:\n$p")
    assert(p.contains("PartitionFilters"), s"unpruned mrl scan:\n$p")
    // append path: half-built index + appended half slices the SAME
    // stored width (schema- and _MRL_DIMS-driven), so full probe over
    // the grown index still equals brute force
    val path2 = tmpDir("graft-ivf-mrl-app")
    val half0 = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val half1 = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    Ivf.writeIndex(half0, Ivf.train(half0, k = 4, iters = 2), path2,
      mrlDims = 4)
    Ivf.appendToIndex(half1, path2)
    val grown = Ivf.searchIndex(spark, path2, q, k = 5, nprobe = 4,
      shortlist = Ivf.Shortlist.Mrl(n))
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    assert(grown == exact, "appended MRL index diverged from brute")
  }

  test("searchIndexBin: full probe ≡ binTopK exactly; shortlist scan " +
    "reads the packed column only; partial-probe recall measured") {
    val m = Ivf.train(emb, k = 4, iters = 2)
    val path = tmpDir("graft-ivf-bin")
    Ivf.writeIndex(emb, m, path, binarize = true)
    val q = emb.filter(col("vec_id") < 20)
    // full probe: pair space and tie-breaks shared with binTopK —
    // exact row equality (the gate's oracle premise)
    val idx = Ivf.searchIndex(spark, path, q, k = 5, nprobe = 4,
      shortlist = Ivf.Shortlist.Binary(64))
      .collect().map(_.toSeq).toSet
    val direct = SimilaritySearch.binTopK(emb, q, k = 5, shortlistK = 64)
      .collect().map(_.toSeq).toSet
    assert(idx == direct, "full-probe index path diverged from binTopK")
    // plan: the shortlist phase reads b (one long per 64 dims), never
    // the float vectors; the rescore still reads them (shortlist only)
    val df = Ivf.searchIndex(spark, path, q, k = 5, nprobe = 2,
      shortlist = Ivf.Shortlist.Binary())
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val schemas = p.linesIterator.filter(_.contains("ReadSchema:")).toList
    assert(schemas.exists(s => s.contains("b:array<bigint>") &&
      !s.contains("embedding")),
      s"no packed-only corpus scan in:\n$p")
    assert(schemas.exists(_.contains("embedding")),
      s"no full-precision rescore scan in:\n$p")
    assert(p.contains("PartitionFilters"), s"unpruned bin scan:\n$p")
    // partial probe: recall vs the full-probe truth stays useful
    val part = Ivf.searchIndex(spark, path, q, k = 5, nprobe = 2,
      shortlist = Ivf.Shortlist.Binary(64))
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val full = direct.map(r => (r.head.asInstanceOf[Long],
      r(2).asInstanceOf[Long]))
    val recall = full.intersect(part).size.toDouble / full.size
    info(f"bin index nprobe=2 recall vs full probe: $recall%.3f")
    assert(recall >= 0.4, s"partial-probe bin recall collapsed: $recall")
  }

  test("planted clusters: nprobe=1 achieves near-perfect recall") {
    // 3 tight clusters around orthogonal-ish anchors
    val rnd = new scala.util.Random(7)
    val anchors = Array.fill(3, 16)(rnd.nextGaussian())
    val rows = (0 until 300).map { i =>
      val a = anchors(i % 3)
      (i.toLong, a.map(x => (x + rnd.nextGaussian() * 0.05).toFloat).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val m = Ivf.train(df, k = 3, iters = 4)
    val q = df.filter(col("vec_id") < 9)
    val exact = SimilaritySearch.bruteForceTopK(df, q, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val ivf = Ivf.searchTopK(df, q, m, k = 10, nprobe = 1)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.95, s"clustered recall $recall")
  }

  test("drift policy: appendedFraction meters appends, needsRebuild " +
    "fires past the threshold, drifted recall decays on frozen " +
    "centroids and a retrain recovers it and resets the meter") {
    // base: 3 planted clusters; the index partitions them perfectly
    val rnd = new scala.util.Random(11)
    val anchors = Array.fill(3, 16)(rnd.nextGaussian())
    val rows = (0 until 300).map { i =>
      val a = anchors(i % 3)
      (i.toLong, a.map(x => (x + rnd.nextGaussian() * 0.05).toFloat).toSeq)
    }
    val base = rows.toDF("vec_id", "embedding")
    val idx = tmpDir("ivf-drift") + "/idx"
    Ivf.writeIndex(base, Ivf.train(base, k = 3, iters = 4), idx)
    assert(Ivf.appendedFraction(spark, idx) == 0.0)
    assert(!Ivf.needsRebuild(spark, idx))
    // drifted mass: a NEW cluster midway between anchors 0 and 1 — its
    // members split between the two frozen centroids on noise alone,
    // the worst case for frozen assignment: an nprobe=1 search from
    // inside the mass structurally misses the half assigned to the
    // other centroid
    val mid = anchors(0).zip(anchors(1)).map { case (x, y) => (x + y) / 2 }
    val drift = (1000 until 1180).map { i =>
      (i.toLong, mid.map(x => (x + rnd.nextGaussian() * 0.05).toFloat).toSeq)
    }
    val driftDf = drift.toDF("vec_id", "embedding")
    Ivf.appendToIndex(driftDf, idx)
    val frac = Ivf.appendedFraction(spark, idx)
    assert(math.abs(frac - 0.6) < 0.01, s"meter off: $frac")
    assert(Ivf.needsRebuild(spark, idx), "0.6 appended must trip the 0.5 default")
    assert(!Ivf.needsRebuild(spark, idx, maxAppendedFraction = 0.7))
    val q = driftDf.filter(col("vec_id") < 1009)
    val corpus = spark.read.parquet(s"$idx/corpus")
      .select(col("vec_id"), col("embedding"))
    val exact = SimilaritySearch.bruteForceTopK(corpus, q, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    def recallOf(path: String): Double = {
      val got = Ivf.searchIndex(spark, path, q, k = 10, nprobe = 1)
        .select("q_id", "n_id").as[(Long, Long)].collect().toSet
      exact.intersect(got).size.toDouble / exact.size
    }
    val frozen = recallOf(idx)
    assert(frozen < 0.8, s"drift construction failed to hurt: $frozen")
    // the rebuild the trigger points at: retrain over the full corpus
    val idx2 = tmpDir("ivf-drift") + "/idx2"
    Ivf.writeIndex(corpus, Ivf.train(corpus, k = 4, iters = 4), idx2)
    val retrained = recallOf(idx2)
    assert(retrained > frozen + 0.1,
      s"retrain must recover drifted recall: frozen=$frozen retrained=$retrained")
    assert(Ivf.appendedFraction(spark, idx2) == 0.0, "rebuild must reset the meter")
  }

  test("appendToIndex against a pre-meter index (no _ROWS_BASE) stamps " +
    "the base from the pre-append footer sum, so the drift meter " +
    "starts from that append instead of reading 0.0 forever") {
    val half0 = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val half1 = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    val idx = tmpDir("ivf-legacy-base") + "/idx"
    Ivf.writeIndex(half0, Ivf.train(half0, k = 4, iters = 2), idx)
    val n0 = Ivf.indexRowCount(spark, idx).get
    // simulate an index built before the meters existed
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/_ROWS_BASE"), true)
    assert(Ivf.appendedFraction(spark, idx) == 0.0,
      "no base -> meter reads 0.0 (the legacy blind spot)")
    Ivf.appendToIndex(half1, idx)
    assert(graft.operators.ClusterStore.readCountFile(
      spark, s"$idx/_ROWS_BASE").contains(n0),
      "append must stamp _ROWS_BASE from the PRE-append footer sum")
    val frac = Ivf.appendedFraction(spark, idx)
    assert(frac > 0.9 && frac < 1.1,
      s"meter must see the appended half against the stamped base: $frac")
    assert(Ivf.needsRebuild(spark, idx),
      "the append axis must be able to fire on a legacy index")
  }

  test("appendedFraction on an index without _ROWS reads the live count " +
    "from the parquet footers: the counted value, no Spark job") {
    val half0 = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val idx = tmpDir("ivf-no-rows") + "/idx"
    Ivf.writeIndex(half0, Ivf.train(half0, k = 4, iters = 2), idx)
    Ivf.appendToIndex(emb.filter(col("vec_id") % 4 === 1), idx)
    val stamped = Ivf.appendedFraction(spark, idx)
    assert(stamped > 0.0, "construction: the append must move the meter")
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/_ROWS"), true)
    assert(Ivf.indexRowCount(spark, idx).isEmpty)
    val live = spark.read.parquet(s"$idx/corpus").count()
    val base = graft.operators.ClusterStore.readCountFile(
      spark, s"$idx/_ROWS_BASE").get
    val (frac, jobs) = jobsOf(Ivf.appendedFraction(spark, idx))
    assert(frac == (live - base).toDouble / base && frac == stamped,
      s"footer-sum meter $frac vs counted ${(live - base).toDouble / base}")
    assert(jobs == 0, s"the meter must not run a Spark job: $jobs")
  }

  test("searchIndexWhere: predicate pushed into the scan; full probe ≡ " +
    "brute force over the filtered slice; beats post-filtering") {
    val m = Ivf.train(emb, k = 4, iters = 2)
    val path = tmpDir("graft-ivf-flt")
    Ivf.writeIndex(emb, m, path)
    val q = emb.filter(col("vec_id") < 8)
    val res = Ivf.searchIndex(spark, path, q, k = 5, nprobe = 4,
      predicate = Some(col("label") < 5))
    // full probe ⇒ exhaustive over exactly the label<5 slice
    val exact = SimilaritySearch.bruteForceTopK(
        emb.filter(col("label") < 5), q, k = 5)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    val got = res.select("q_id", "rank", "n_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(got == exact, "filtered index search diverged from filtered brute force")
    // the attribute predicate reaches the parquet reader (row-group
    // pruning at scale), stacked on the cluster partition pruning
    val p = res.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("LessThan(label,5)"),
      s"label predicate not pushed:\n$p")
    assert(p.contains("PartitionFilters"), s"unpruned filtered scan:\n$p")
    // the value proposition: every returned row qualifies and each
    // query gets its full k; post-filtering an UNFILTERED top-k
    // starves queries whose neighborhoods are label≥5-heavy
    val labels = emb.select(col("vec_id"), col("label")).as[(Long, Int)]
      .collect().toMap
    val unfiltered = Ivf.searchIndex(spark, path, q, k = 5, nprobe = 4)
      .select("q_id", "n_id").as[(Long, Long)].collect()
    val postCounts = unfiltered.filter { case (_, n) => labels(n) < 5 }
      .groupBy(_._1).view.mapValues(_.length).toMap
    val qIds = q.select("vec_id").as[Long].collect()
    assert(qIds.forall(id => got.count(_._1 == id) == 5),
      "filtered arm must fill the k budget from the qualifying set")
    assert(qIds.exists(id => postCounts.getOrElse(id, 0) < 5),
      "construction check: post-filtering should starve some query " +
        "(if not, this corpus stopped exercising the contrast)")
  }

  test("searchIndexBinWhere: the filtered pipeline equals binTopK " +
    "over the pre-filtered corpus; the shortlist budget lands on " +
    "qualifying candidates; the predicate reaches both scans") {
    val m = Ivf.train(emb, k = 4, iters = 2)
    val path = tmpDir("graft-ivf-bin-flt")
    Ivf.writeIndex(emb, m, path, binarize = true)
    val q = emb.filter(col("vec_id") < 16)
    val res = Ivf.searchIndex(spark, path, q, k = 5, nprobe = 4,
      predicate = Some(col("label") < 5), shortlist = Ivf.Shortlist.Binary(64))
    // full probe: whole-pipeline equality with the direct kernel over
    // the filtered corpus — shortlist SELECTION included, not just ids
    val want = SimilaritySearch.binTopK(emb.filter(col("label") < 5),
        q, k = 5, shortlistK = 64)
      .collect().map(_.toSeq).toSet
    assert(res.collect().map(_.toSeq).toSet == want,
      "filtered bin index diverged from binTopK over the filtered slice")
    // plan: predicate pushed at the packed shortlist scan (which still
    // reads b only) AND at the float rescore scan
    val p = res.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("LessThan(label,5)"), s"label not pushed:\n$p")
    val schemas = p.linesIterator.filter(_.contains("ReadSchema:")).toList
    assert(schemas.exists(s => s.contains("b:array<bigint>") &&
      !s.contains("embedding")), s"no packed-only shortlist scan:\n$p")
    // every returned row qualifies and each query fills its k
    import spark.implicits._
    val labels = emb.select(col("vec_id"), col("label"))
      .as[(Long, Int)].collect().toMap
    val rows = res.select("q_id", "n_id").as[(Long, Long)].collect()
    assert(rows.forall { case (_, n) => labels(n) < 5 })
    assert(rows.groupBy(_._1).forall(_._2.length == 5))
  }

  test("searchIndexMatch: full probe ≡ the positives miner; query " +
    "attribute values reach the scan as a pushed isin") {
    val m = Ivf.train(emb, k = 4, iters = 2)
    val path = tmpDir("graft-ivf-match")
    Ivf.writeIndex(emb, m, path)
    val q = emb.filter(col("vec_id") < 8)
    val res = Ivf.searchIndexMatch(spark, path, q, matchCol = "label",
      k = 5, nprobe = 4)
    val exact = SimilaritySearch.positives(emb, q, k = 5)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    val got = res.select("q_id", "rank", "n_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(got == exact, "indexed positives diverged from the brute-force miner")
    // scan-side stage: the distinct query labels land in the reader as
    // an In(label, …) pushdown alongside the partition filter
    val p = res.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("In(label,"), s"query-label isin not pushed:\n$p")
    assert(p.contains("PartitionFilters"), s"unpruned match scan:\n$p")
    // null-safety contract: a null-attribute query matches exactly the
    // null-attribute candidates (and never the non-null ones)
    val withNulls = emb.select(col("vec_id"),
      col("embedding"),
      when(col("vec_id") % 7 === 0, lit(null)).otherwise(col("label"))
        .cast("int").as("label"))
    val path2 = tmpDir("graft-ivf-match-null")
    Ivf.writeIndex(withNulls, m, path2)
    val qn = withNulls.filter(col("vec_id").isin(0L, 1L))
    val rn = Ivf.searchIndexMatch(spark, path2, qn, matchCol = "label",
        k = 3, nprobe = 4)
      .select("q_id", "n_id").as[(Long, Long)].collect()
    val nullIds = withNulls.filter(col("label").isNull)
      .select("vec_id").as[Long].collect().toSet
    assert(rn.filter(_._1 == 0L).forall(r => nullIds.contains(r._2)),
      "null-label query matched a non-null candidate")
    assert(rn.filter(_._1 == 1L).forall(r => !nullIds.contains(r._2)),
      "non-null query matched a null-label candidate")
  }

  test("compactIndex: the fragmentation meter trips after appends, " +
    "compaction leaves one file per posting list with identical " +
    "content, and an unfragmented index is a no-op") {
    val m = Ivf.train(emb, k = 4, iters = 2)
    val idx = tmpDir("ivf-cpt")
    val half0 = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val half1 = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    Ivf.writeIndex(half0, m, idx)
    Ivf.appendToIndex(half1, idx)
    val frag = Ivf.filesPerCluster(spark, idx)
    assert(frag.values.exists(_ > 1),
      s"construction: an append must fragment some posting list: $frag")
    assert(Ivf.needsCompaction(spark, idx, maxFilesPerCluster = 1))
    val before = spark.read.parquet(s"$idx/corpus")
      .collect().map(_.toSeq).toSet
    val compacted = Ivf.compactIndex(spark, idx)
    assert(compacted == frag.count(_._2 > 1))
    val after = Ivf.filesPerCluster(spark, idx)
    assert(after.values.forall(_ == 1),
      s"every posting list must be one file after compaction: $after")
    assert(spark.read.parquet(s"$idx/corpus")
      .collect().map(_.toSeq).toSet == before,
      "compaction must be content-invisible")
    assert(!Ivf.needsCompaction(spark, idx, maxFilesPerCluster = 1))
    assert(Ivf.compactIndex(spark, idx) == 0, "no-op when unfragmented")
  }

  test("StreamingVectorIndex: each epoch is delete-then-append — the " +
    "corpus holds exactly the latest version of every id, and " +
    "replaying an epoch changes nothing") {
    import graft.streaming.StreamingVectorIndex
    val base = tmpDir("ivf-vidx")
    val (feed, ckpt, idx) = (s"$base/feed", s"$base/ckpt", s"$base/idx")
    val m = Ivf.train(emb, k = 4, iters = 2)
    Ivf.writeIndex(emb, m, idx)
    val n0 = emb.count()
    // epoch: update ids %9==0 to the negated vector, insert 3 new ids
    val upd = emb.filter(col("vec_id") % 9 === 0)
      .select(col("vec_id"),
        transform(col("embedding"), x => (-x).cast("float"))
          .as("embedding"),
        col("label"))
    val ins = emb.filter(col("vec_id").isin(1L, 2L, 3L))
      .select((col("vec_id") + 5000L).as("vec_id"), col("embedding"),
        col("label"))
    upd.unionByName(ins).coalesce(1).write.mode("append").parquet(feed)
    StreamingVectorIndex.upsertStream(spark, feed, idx, ckpt)
    val corpus1 = spark.read.parquet(s"$idx/corpus")
    assert(corpus1.count() == n0 + 3, "upsert adds only the inserts")
    assert(corpus1.groupBy("vec_id").count()
      .filter(col("count") > 1).count() == 0,
      "never two versions of one id")
    val negated = corpus1.join(emb.select(col("vec_id"),
        col("embedding").as("__orig")), Seq("vec_id"))
      .filter(col("vec_id") % 9 === 0)
      .filter(expr("embedding[0]") =!= -expr("__orig[0]"))
    assert(negated.count() == 0, "updated ids must carry the new vector")
    // replay the same epoch file set: a fresh checkpoint reprocesses
    // it, and delete-then-append makes that a no-op on the state
    StreamingVectorIndex.upsertStream(spark, feed, idx, s"$base/ckpt2")
    val corpus2 = spark.read.parquet(s"$idx/corpus")
    assert(corpus2.count() == n0 + 3)
    assert(corpus2.groupBy("vec_id").count()
      .filter(col("count") > 1).count() == 0,
      "replay must not duplicate any id")
  }

  test("deleteIdsFromIndex: the anti-join bulk path produces the " +
    "IDENTICAL index state as the isin predicate path on both " +
    "engines, and the streaming threshold routes bulk epochs to it") {
    import graft.streaming.StreamingVectorIndex
    val delIds = emb.filter(col("vec_id") % 3 === 0).select(col("vec_id"))
    val idsSeq = delIds.as[Long].collect().toIndexedSeq
    // IVF: byte-equal corpus state either way
    val m = Ivf.train(emb, k = 4, iters = 2)
    val (pA, pB) = (tmpDir("ivf-delid-a"), tmpDir("ivf-delid-b"))
    Ivf.writeIndex(emb, m, pA)
    Ivf.writeIndex(emb, m, pB)
    val n1 = Ivf.deleteFromIndex(spark, pA, col("vec_id").isin(idsSeq: _*))
    val n2 = Ivf.deleteIdsFromIndex(spark, pB, delIds)
    assert(n1 == n2 && n1 == idsSeq.size.toLong)
    assert(spark.read.parquet(s"$pA/corpus").collect().map(_.toSeq).toSet ==
      spark.read.parquet(s"$pB/corpus").collect().map(_.toSeq).toSet,
      "IVF: the two delete paths diverged")
    assert(Ivf.indexRowCount(spark, pA) == Ivf.indexRowCount(spark, pB))
    // HNSW (attr-carrying): the canonical touched-shard rebuild is
    // deterministic in the survivor set, so the graphs match row-wise
    val (hA, hB) = (tmpDir("hnsw-delid-a"), tmpDir("hnsw-delid-b"))
    val src = "/root/testdata/sf0.001/embeddings.parquet"
    graft.operators.Hnsw.ensureIndex(emb, src, hA, shards = 4, m = 8,
      efC = 32, attrCols = Seq("label"))
    graft.operators.Hnsw.ensureIndex(emb, src, hB, shards = 4, m = 8,
      efC = 32, attrCols = Seq("label"))
    val h1 = graft.operators.Hnsw.deleteFromIndex(spark, hA,
      col("vec_id").isin(idsSeq: _*))
    val h2 = graft.operators.Hnsw.deleteIdsFromIndex(spark, hB, delIds)
    assert(h1 == h2 && h1 == idsSeq.size.toLong)
    assert(spark.read.parquet(s"$hA/graph").collect().map(_.toSeq).toSet ==
      spark.read.parquet(s"$hB/graph").collect().map(_.toSeq).toSet,
      "HNSW: the two delete paths diverged")
    // streaming: a bulk tombstone epoch through maxInlineDeleteIds = 0
    // (every delete forced onto the join path) drains to the same
    // state as the default inline path
    val base = tmpDir("ivf-delid-stream")
    val tomb = emb.filter(col("vec_id") % 3 === 0)
      .select(col("vec_id"), col("embedding"), col("label"),
        lit("D").as("op"))
    tomb.coalesce(1).write.mode("append").parquet(s"$base/feed")
    val (sA, sB) = (s"$base/idxA", s"$base/idxB")
    Ivf.writeIndex(emb, m, sA)
    Ivf.writeIndex(emb, m, sB)
    StreamingVectorIndex.upsertStream(spark, s"$base/feed", sA,
      s"$base/ckptA", opCol = Some("op"))
    StreamingVectorIndex.upsertStream(spark, s"$base/feed", sB,
      s"$base/ckptB", opCol = Some("op"), maxInlineDeleteIds = 0)
    assert(spark.read.parquet(s"$sA/corpus").collect().map(_.toSeq).toSet ==
      spark.read.parquet(s"$sB/corpus").collect().map(_.toSeq).toSet,
      "streaming: inline vs join delete paths diverged")
  }

  test("maintain: compacts when fragmented (content-invisible), " +
    "reports drift honestly, and is a cheap no-op when healthy") {
    val m = Ivf.train(emb, k = 4, iters = 2)
    val idx = tmpDir("ivf-maint")
    val half0 = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val half1 = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    Ivf.writeIndex(half0, m, idx)
    Ivf.appendToIndex(half1, idx)
    val r1 = Ivf.maintain(spark, idx, maxFilesPerCluster = 1,
      maxAppendedFraction = 0.5)
    assert(r1.compactedClusters > 0, "fragmented index must compact")
    assert(r1.needsRetrain && r1.appendedFraction > 0.9,
      s"a doubled corpus is ~1.0 appended: $r1")
    val r2 = Ivf.maintain(spark, idx, maxFilesPerCluster = 1,
      maxAppendedFraction = 2.0)
    assert(r2.compactedClusters == 0 && !r2.needsRetrain,
      s"healthy thresholds → no-op: $r2")
    // content invisible: post-maintenance search ≡ brute force
    val q = emb.filter(col("vec_id") < 8)
    val got = Ivf.searchIndex(spark, idx, q, k = 5, nprobe = 4)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    val want = SimilaritySearch.bruteForceTopK(emb, q, k = 5)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    assert(got == want)
  }

  test("StreamingVectorIndex CDC ops: a tombstone deletes without " +
    "re-append; an id carrying both D and U in one epoch resolves " +
    "to the upsert") {
    import graft.streaming.StreamingVectorIndex
    val base = tmpDir("ivf-vcdc")
    val (feed, ckpt, idx) = (s"$base/feed", s"$base/ckpt", s"$base/idx")
    val m = Ivf.train(emb, k = 4, iters = 2)
    Ivf.writeIndex(emb, m, idx)
    val n0 = emb.count()
    val mk = (id: Long, op: String) => emb.filter(col("vec_id") === id)
      .select(col("vec_id"),
        (if (op == "U")
          transform(col("embedding"), x => (-x).cast("float"))
        else col("embedding")).as("embedding"),
        col("label"), lit(op).as("op"))
    mk(10L, "D").unionByName(mk(20L, "U"))
      .unionByName(mk(30L, "D")).unionByName(mk(30L, "U"))
      .coalesce(1).write.mode("append").parquet(feed)
    StreamingVectorIndex.upsertStream(spark, feed, idx, ckpt,
      opCol = Some("op"))
    val corpus = spark.read.parquet(s"$idx/corpus")
    assert(corpus.count() == n0 - 1, "exactly the tombstoned id leaves")
    assert(corpus.filter(col("vec_id") === 10L).count() == 0)
    assert(corpus.filter(col("vec_id") === 30L).count() == 1,
      "D+U in one epoch: the upsert wins, one version stored")
    val v20 = corpus.filter(col("vec_id") === 20L)
      .select(expr("embedding[0]")).as[Float].head()
    val o20 = emb.filter(col("vec_id") === 20L)
      .select(expr("embedding[0]")).as[Float].head()
    assert(v20 == -o20, "updated id must carry the new vector")
  }

  test("appendToIndex on a RESIDUAL index encodes the delta with " +
    "residual codes — plain codes scored by residual ADC would be " +
    "silently wrong") {
    import graft.operators.Pq
    val src = "/root/testdata/sf0.001/embeddings.parquet"
    val idx = tmpDir("ivf-resapp") + "/idx"
    val half0 = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val half1 = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    Ivf.ensureIndexPqResidual(half0, src, idx, k = 4, iters = 2,
      pqM = 8, pqK = 16, pqIters = 4, pqSampleN = 1024)
    assert(Ivf.indexIsResidual(spark, idx))
    Ivf.appendToIndex(half1, idx)
    val model = Ivf.loadModel(spark, s"$idx/centroids")
    val pqm = Pq.loadModel(spark, s"$idx/pq")
    val stored = spark.read.parquet(s"$idx/corpus")
      .filter(pmod(col("vec_id"), lit(2)) === 1)
      .select(col("vec_id"), col("pq_code"))
      .as[(Long, Seq[Int])].collect().toMap
    val want = Pq.withResidualCodes(half1, model, pqm)
      .select(col("vec_id"), col("pq_code"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(stored == want,
      "appended rows must carry residual codes under the index's models")
    val plain = Pq.withCodes(Ivf.assign(half1, model), pqm)
      .select(col("vec_id"), col("pq_code"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(plain != want,
      "construction: plain and residual encodes must differ somewhere")
    // a plain PQ index is untouched by the fix
    val idxP = tmpDir("ivf-plainapp") + "/idx"
    Ivf.ensureIndexPq(half0, src, idxP, k = 4, iters = 2,
      pqM = 8, pqK = 16, pqIters = 4, pqSampleN = 1024)
    assert(!Ivf.indexIsResidual(spark, idxP))
  }

  test("a residual-PQ index deleted to empty takes the next append: " +
    "its build records _SCHEMA like every other build, and the " +
    "regrown index searches exactly") {
    val src = tmpDir("ivf-resempty-src")
    emb.write.mode("overwrite").parquet(src)
    val idx = tmpDir("ivf-resempty") + "/idx"
    Ivf.ensureIndexPqResidual(spark.read.parquet(src), src, idx, k = 4,
      iters = 2, pqM = 8, pqK = 16, pqIters = 4, pqSampleN = 1024)
    assert(Ivf.deleteFromIndex(spark, idx, lit(true)) == emb.count())
    assert(Ivf.indexRowCount(spark, idx).contains(0L))
    // no parquet footer is left: the append aligns to _SCHEMA
    val delta = emb.filter(col("vec_id") < 100)
    Ivf.appendToIndex(delta, idx)
    val n = delta.count()
    assert(Ivf.indexRowCount(spark, idx).contains(n))
    val q = delta.filter(col("vec_id") < 8)
    val got = Ivf.searchIndex(spark, idx, q, k = 5, nprobe = 4,
        shortlist = Ivf.Shortlist.PqResidual(n.toInt))
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    val want = SimilaritySearch.bruteForceTopK(delta, q, k = 5)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    assert(got == want, "regrown residual index diverged from brute force")
  }

  test("deleteFromIndex: only touched posting lists rewrite, NULL " +
    "predicate rows are kept, emptied partitions disappear, and " +
    "search equals brute force over the survivors") {
    val m = Ivf.train(emb, k = 4, iters = 2)
    val path = tmpDir("graft-ivf-del")
    // plant a NULL-label row set: vec_id % 97 == 0 gets a null label
    val withNulls = emb.select(col("vec_id"), col("embedding"),
      when(col("vec_id") % 97 === 0, lit(null)).otherwise(col("label"))
        .cast("int").as("label"))
    Ivf.writeIndex(withNulls, m, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(): Map[String, Long] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$path/corpus"), true)
      val b = scala.collection.mutable.Map.empty[String, Long]
      while (it.hasNext) { val f = it.next()
        b += f.getPath.toString -> f.getModificationTime }
      b.toMap
    }
    val before = files()
    val untouchedBefore = before.filterNot(_._1.contains("cluster=")) // none
    // delete a slice that lives in SOME clusters only: label >= 8
    val expectDel = withNulls.filter(col("label") >= 8).count()
    val touchedClusters = Ivf.assign(withNulls, m)
      .filter(col("label") >= 8).select("cluster")
      .distinct().as[Int].collect().toSet
    val nDel = Ivf.deleteFromIndex(spark, path, col("label") >= 8)
    assert(nDel == expectDel, s"returned $nDel, expected $expectDel")
    val after = files()
    val untouched = before.keys.filterNot(k =>
      touchedClusters.exists(c => k.contains(s"cluster=$c/")))
    assert(untouched.nonEmpty, "construction: some cluster untouched")
    untouched.foreach { k =>
      assert(after.contains(k) && after(k) == before(k),
        s"untouched file rewritten: $k")
    }
    // NULL-label rows survived (delete means provably matching)
    val kept = spark.read.parquet(s"$path/corpus")
    val keptN = kept.count()
    assert(kept.filter(col("label").isNull).count() ==
      withNulls.filter(col("label").isNull).count())
    assert(kept.filter(col("label") >= 8).count() == 0)
    // row count file tracks the survivors
    assert(Ivf.indexRowCount(spark, path).contains(keptN))
    // search ≡ brute force over survivors (full probe)
    val q = withNulls.filter(col("vec_id") < 8)
    val got = Ivf.searchIndex(spark, path, q, k = 5, nprobe = 4)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    val want = SimilaritySearch.bruteForceTopK(
        withNulls.filter(!(col("label") >= 8 <=> lit(true))), q, k = 5)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    assert(got == want, "post-delete search diverged from survivors' brute force")
    // deleting EVERYTHING in a cluster removes its partition dir
    val all = Ivf.deleteFromIndex(spark, path, lit(true))
    assert(all == keptN)
    val leftover = {
      val it = fs.listFiles(
        new org.apache.hadoop.fs.Path(s"$path/corpus"), true)
      val b = scala.collection.mutable.ListBuffer.empty[String]
      while (it.hasNext) b += it.next().getPath.getName
      b.toList
    }
    assert(!leftover.exists(_.endsWith(".parquet")),
      s"emptied partitions must disappear (left: $leftover)")
    assert(Ivf.deleteFromIndex(spark, path, lit(true)) == 0L,
      "idempotent on an emptied index")
  }

  test("searchIndexPqWhere / searchIndexPqResidualWhere: the predicate " +
    "is pushed at the code-column shortlist scan; full probe + " +
    "exhaustive rescore ≡ brute force over the filtered slice") {
    val m = Ivf.train(emb, k = 4, iters = 2)
    val q = emb.filter(col("vec_id") < 8)
    val n = emb.count().toInt
    val exact = SimilaritySearch.bruteForceTopK(
        emb.filter(col("label") < 5), q, k = 5)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    def check(res: org.apache.spark.sql.DataFrame, arm: String,
              shortCol: String = "pq_code"): Unit = {
      val got = res.select("q_id", "rank", "n_id")
        .as[(Long, Int, Long)].collect().toSet
      assert(got == exact,
        s"$arm filtered search diverged from filtered brute force")
      val p = res.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(p.contains("LessThan(label,5)"),
        s"$arm: label predicate not pushed:\n$p")
      // the shortlist phase still scans the compressed column only
      // (no float vectors)
      val schemas = p.linesIterator.filter(_.contains("ReadSchema:")).toList
      assert(schemas.exists(s => s.contains(shortCol) &&
        !s.contains("embedding")),
        s"$arm: no compressed-only shortlist scan:\n$p")
      assert(p.contains("PartitionFilters"),
        s"$arm: unpruned filtered scan:\n$p")
    }
    val pq = graft.operators.Pq.train(emb, m = 8, k = 16, iters = 4,
      sampleN = 1024)
    val path = tmpDir("graft-ivf-pq-flt")
    Ivf.writeIndex(emb, m, path, pq = Some(pq))
    check(Ivf.searchIndex(spark, path, q, k = 5, nprobe = 4,
      predicate = Some(col("label") < 5), shortlist = Ivf.Shortlist.Pq(n)),
      "pq")
    val pathR = tmpDir("graft-ivf-pqr-flt") + "/idx"
    Ivf.ensureIndexPqResidual(emb,
      "/root/testdata/sf0.001/embeddings.parquet", pathR,
      k = 4, iters = 2, pqM = 8, pqK = 16, pqIters = 4, pqSampleN = 1024)
    check(Ivf.searchIndex(spark, pathR, q, k = 5, nprobe = 4,
      predicate = Some(col("label") < 5),
      shortlist = Ivf.Shortlist.PqResidual(n)),
      "residual-pq")
    // the int8 arm completes the family: same contract over the
    // quantized column
    val pathC = tmpDir("graft-ivf-c-flt")
    Ivf.writeIndex(emb, m, pathC, quantize = true)
    check(Ivf.searchIndex(spark, pathC, q, k = 5, nprobe = 4,
      predicate = Some(col("label") < 5), shortlist = Ivf.Shortlist.Sq8(n)),
      "sq8", shortCol = "q8")
  }
}
