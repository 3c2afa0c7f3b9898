package graft.tools

/** Throwaway profiling harness (not part of the library surface):
  * times a named subset of SparkEntry.queries, N reps each, so a
  * single operator's constant can be chased without a full Bench run.
  * Usage: sbt "runMain graft.tools.Profile q_d_minhash_lsh q_v_neardup"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("topk-micro")) { topkMicro(); return }
    if (args.headOption.contains("ivf-drift")) { ivfDrift(); return }
    if (args.headOption.contains("hnsw-imbalance")) { hnswImbalance(); return }
    if (args.headOption.contains("ann-clustered")) { annClustered(); return }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = graft.Session.local(cpus)
    spark.read.parquet(s"$sfDir/nation.parquet").count() // warm-up

    val explain = args.headOption.contains("--explain")
    val explainExec = args.headOption.contains("--explain-exec")
    val names0 = if (explain || explainExec) args.tail.toSeq else args.toSeq
    val names = if (names0.nonEmpty) names0 else Seq("q_d_minhash_lsh")
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      if (explainExec) {
        // the plan AFTER AQE replanning (runtime exchange reuse etc.)
        val df = fn(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        println(s"===== $name (executed) =====")
        println(df.queryExecution.executedPlan.toString)
      } else if (explain) {
        println(s"===== $name =====")
        println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      } else {
        // wall and executor CPU per rep (Bench's load-immune channel)
        val times = (1 to reps).map { _ =>
          spark.catalog.clearCache()
          val (wall, m) = graft.obs.QueryMetrics.measure(spark) {
            val t0 = System.nanoTime()
            // noop sink like Bench: count() lets Catalyst prune the work
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          (wall, m.cpuSec)
        }
        println(f"$name: ${times.map(t => f"${t._1}%.2f").mkString(" ")} s" +
          f"  cpu ${times.map(t => f"${t._2}%.2f").mkString(" ")} s")
      }
    }
    spark.stop()
  }

  /** Measure IVF recall decay as appends accumulate against frozen
    * centroids ([[graft.operators.Ivf.appendToIndex]]'s documented
    * drift) — the evidence behind `Ivf.needsRebuild`'s default
    * threshold. Two regimes:
    *  - stationary: appended vectors drawn from the same distribution
    *    the centroids were trained on (the append-only happy path);
    *  - shifted: each appended chunk is offset progressively harder
    *    (a constant added to every component), simulating a corpus
    *    whose distribution moves out from under the trained partition.
    * At each step: recall@5 of `searchIndex` (nprobe 2) vs brute
    * force over the CURRENT corpus, the appendedFraction meter, and —
    * at full append — the recall a retrain recovers.
    * Usage: sbt "runMain graft.tools.Profile ivf-drift"
    */
  private def ivfDrift(): Unit = {
    import org.apache.spark.sql.functions._
    import graft.operators.{Ivf, SimilaritySearch}
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Session.local(cpus)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val half = emb.count() / 2
    def recallOf(idx: String): Double = {
      val corpus = spark.read.parquet(s"$idx/corpus")
        .select(col("vec_id"), col("embedding"))
      val qs = corpus.filter(pmod(col("vec_id"), lit(97)) === 3).limit(48)
      val exact = SimilaritySearch.bruteForceTopK(corpus, qs, k = 5)
      val approx = Ivf.searchIndex(spark, idx, qs, k = 5, nprobe = 2)
      val r = SimilaritySearch.recallAtK(exact, approx)
        .agg(sum("n_hit").as("h"), sum("n_exact").as("e")).head()
      r.getLong(0).toDouble / r.getLong(1)
    }
    for (mode <- Seq("stationary", "shifted")) {
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_drift_$mode"
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(idx), true)
      val base = emb.filter(col("vec_id") < half)
      Ivf.writeIndex(base, Ivf.train(base, k = 32), idx)
      println(f"== $mode ==  base recall@5 = ${recallOf(idx)}%.3f")
      val steps = 4
      val chunk = half / steps
      (1 to steps).foreach { i =>
        val raw = emb.filter(col("vec_id") >= half + (i - 1) * chunk &&
          col("vec_id") < half + i * chunk)
        val delta = if (mode == "shifted") 0.2f * i else 0.0f
        val app = raw.withColumn("embedding",
          transform(col("embedding"), x => (x + lit(delta)).cast("float")))
        Ivf.appendToIndex(app, idx)
        println(f"appended ${i * 100 / steps}%3d%% of base: " +
          f"frac=${Ivf.appendedFraction(spark, idx)}%.2f " +
          f"recall@5=${recallOf(idx)}%.3f " +
          f"needsRebuild(0.5)=${Ivf.needsRebuild(spark, idx)}")
      }
      // what a retrain recovers at full append
      val fullCorpus = spark.read.parquet(s"$idx/corpus")
        .select(col("vec_id"), col("embedding"))
      val idx2 = idx + "_retrained"
      fs.delete(new org.apache.hadoop.fs.Path(idx2), true)
      Ivf.writeIndex(fullCorpus, Ivf.train(fullCorpus, k = 32), idx2)
      println(f"retrained at 100%%: recall@5=${recallOf(idx2)}%.3f " +
        f"frac=${Ivf.appendedFraction(spark, idx2)}%.2f")
    }
    spark.stop()
  }

  /** Clustered-corpus ANN recall study (round-11 VERDICT #10): the
    * synthetic isotropic embeddings bound what the recall ladder can
    * show (documented twice in NOTES), so this arm plants a CLUSTERED
    * corpus — the shape real embedding models emit — at 10× the sf0.01
    * vector count and re-measures the whole ladder at EQUAL candidate
    * budgets. Mixed cluster tightness (σ from 0.05 to 0.4 across
    * clusters) plus 10% isotropic background noise, so neighbors are
    * neither trivially-in-cluster nor uniformly spread.
    */
  private def annClustered(): Unit = {
    import org.apache.spark.sql.functions._
    import graft.operators.{Hnsw, Ivf, Pq, SimilaritySearch}
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Session.local(cpus, "spark.sql.extensions" -> "")
    import spark.implicits._
    val dim = 64
    val clusters = 40
    val perCluster = 112  // 40·112 + 500 noise ≈ 5k ≈ 10× sf0.01
    val rnd = new scala.util.Random(13)
    val anchors = Array.fill(clusters, dim)(rnd.nextGaussian())
    val sigma = Array.tabulate(clusters)(c => 0.05 + 0.35 * c / clusters)
    val rows = (0 until clusters * perCluster).map { i =>
      val c = i % clusters
      (i.toLong, anchors(c)
        .map(x => (x + rnd.nextGaussian() * sigma(c)).toFloat).toSeq)
    } ++ (0 until 500).map(i => ((100000 + i).toLong,
      Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq))
    val emb = rows.toDF("vec_id", "embedding")
    emb.cache().count(): Unit
    val q = emb.filter(pmod(col("vec_id"), lit(59)) === 1).limit(64)
    val exact = SimilaritySearch.bruteForceTopK(emb, q, k = 5)
    exact.cache().count(): Unit
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val r = SimilaritySearch.recallAtK(exact, df)
        .agg(sum(col("n_hit")), sum(col("n_exact"))).head
      r.getLong(0).toDouble / r.getLong(1)
    }
    // equal budgets across the ladder: 8 coarse cells, nprobe=2,
    // 64-candidate shortlist / ef=64 — the HnswSpec/NOTES convention
    val ivf = Ivf.train(emb, k = 8, iters = 4)
    println(f"ivf_full_probe   recall@5=${recallOf(
      Ivf.searchTopK(emb, q, ivf, k = 5, nprobe = 8))}%.3f")
    println(f"ivf_nprobe2      recall@5=${recallOf(
      Ivf.searchTopK(emb, q, ivf, k = 5, nprobe = 2))}%.3f")
    val pqm = Pq.train(emb, m = 8, k = 16)
    println(f"ivfpq_rescore64  recall@5=${recallOf(Pq.topKClustered(
      emb, q, ivf, pqm, k = 5, nprobe = 2, rescoreK = 64))}%.3f")
    val pqr = Pq.trainResidual(emb, ivf, m = 8, k = 16)
    println(f"respq_rescore64  recall@5=${recallOf(
      Pq.topKClusteredResidual(
        emb, q, ivf, pqr, k = 5, nprobe = 2, rescoreK = 64))}%.3f")
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_ann_clust"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val src = s"$root/src"; emb.write.parquet(src)
    val idx = s"$root/idx"
    Hnsw.ensureIndex(emb, src, idx, shards = 8, m = 16, efC = 100)
    println(f"hnsw_ef64        recall@5=${recallOf(
      Hnsw.searchIndex(spark, idx, q, k = 5, nprobe = 2, ef = 64))}%.3f")
    println(f"lsh_h7           recall@5=${recallOf(SimilaritySearch
      .lshTopK(emb, q, k = 5, dim = dim, nBits = 16, maxHamming = 7))}%.3f")
    println(f"bin_shortlist64  recall@5=${recallOf(SimilaritySearch
      .binTopK(emb, q, k = 5, shortlistK = 64))}%.3f")
    println(f"trunc16_short64  recall@5=${recallOf(SimilaritySearch
      .truncTopK(emb, q, k = 5, dims = 16, shortlistK = 64))}%.3f")
    spark.stop()
  }

  /** Measured grounding for [[graft.operators.Hnsw.needsRebuild]]'s
    * shard-skew threshold: plant even clusters, build shard-per-
    * cluster, then funnel appends into ONE shard and track (skew,
    * frozen-index recall at the production budget, retrained recall,
    * append wall) per step. The recall question: does a shard at S×
    * the even share still answer its queries at fixed ef, or does the
    * fixed exploration budget explore a shrinking fraction of a
    * growing graph? Results recorded in NOTES (`hnsw-imbalance`).
    */
  private def hnswImbalance(): Unit = {
    import org.apache.spark.sql.functions._
    import graft.operators.{Hnsw, Ivf, SimilaritySearch}
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Session.local(cpus, "spark.sql.extensions" -> "")
    import spark.implicits._
    val dim = 16
    val clusters = 8
    val perCluster = 500
    val rnd = new scala.util.Random(5)
    val anchors = Array.fill(clusters, dim)(rnd.nextGaussian())
    def mk(id: Long, c: Int): (Long, Seq[Float]) =
      (id, anchors(c).map(x => (x + rnd.nextGaussian() * 0.15).toFloat).toSeq)
    val base = (0 until clusters * perCluster)
      .map(i => mk(i.toLong, i % clusters)).toDF("vec_id", "embedding")
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_imb"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val src = s"$root/src"; base.write.parquet(src)
    val idx = s"$root/idx"
    Hnsw.ensureIndex(base, src, idx, shards = clusters, m = 8, efC = 32)
    def corpusOf(path: String) = spark.read.parquet(s"$path/graph")
      .select(col("vec_id"), col("vec").as("embedding"))
    // queries FROM the fattened cluster's region — the worst case for
    // a fixed-ef search of a growing shard
    def recallOf(path: String, nprobe: Int = 2): Double = {
      val corpus = corpusOf(idx) // ground truth over the LIVE row set
      val qs = corpus.filter(pmod(col("vec_id"), lit(perCluster)) === 0)
        .limit(48)
      val exact = SimilaritySearch.bruteForceTopK(corpus, qs, k = 5)
      val approx = Hnsw.searchIndex(spark, path, qs, k = 5,
        nprobe = nprobe, ef = 64)
      val r = SimilaritySearch.recallAtK(exact, approx)
        .agg(sum("n_hit").as("h"), sum("n_exact").as("e")).head()
      r.getLong(0).toDouble / r.getLong(1)
    }
    println(f"base: skew=${Hnsw.shardImbalance(spark, idx)}%.2f " +
      f"recall@5=${recallOf(idx)}%.3f")
    var nextId = (clusters * perCluster).toLong
    Seq(1, 2, 4, 8).foreach { mult =>
      // grow shard 0 to ~mult× extra even shares (cumulative)
      val target = perCluster * mult
      val have = Hnsw.footerShardSizes(spark, idx).values.max - perCluster
      val need = (target - have).toInt
      if (need > 0) {
        val app = (0 until need)
          .map(i => mk(nextId + i, 0)).toDF("vec_id", "embedding")
        nextId += need
        val t0 = System.nanoTime()
        Hnsw.appendToIndex(app, idx)
        val wall = (System.nanoTime() - t0) / 1e9
        val skew = Hnsw.shardImbalance(spark, idx)
        val frozen = recallOf(idx)
        // the rebuild the trigger points at: retrained router over the
        // live rows, same params
        val all = corpusOf(idx)
        val src2 = s"$root/src_$mult"; all.write.parquet(src2)
        val idx2 = s"$root/idx_$mult"
        Hnsw.ensureIndex(all, src2, idx2, shards = clusters, m = 8,
          efC = 32)
        // remedy (a), round-13: split the hot shard IN PLACE on a
        // copy of the live index (the study keeps appending to idx) —
        // the skew-axis remedy rebuildRemedy selects
        val idxS = s"$root/idx_split_$mult"
        org.apache.hadoop.fs.FileUtil.copy(fs,
          new org.apache.hadoop.fs.Path(idx), fs,
          new org.apache.hadoop.fs.Path(idxS), false,
          spark.sparkContext.hadoopConfiguration)
        val nSplits = Hnsw.rebalance(spark, idxS, maxShardSkew = 2.0)
        // emergency mode on a second copy: target reached regardless,
        // recall owed an nprobe bump (measured at 2 and 3)
        val idxD = s"$root/idx_deep_$mult"
        org.apache.hadoop.fs.FileUtil.copy(fs,
          new org.apache.hadoop.fs.Path(idx), fs,
          new org.apache.hadoop.fs.Path(idxD), false,
          spark.sparkContext.hadoopConfiguration)
        val nDeep = Hnsw.rebalance(spark, idxD, maxShardSkew = 2.0,
          recallSafe = false)
        println(f"skew=$skew%.2f frozen_recall=$frozen%.3f " +
          f"retrained_recall=${recallOf(idx2)}%.3f " +
          f"retrained_skew=${Hnsw.shardImbalance(spark, idx2)}%.2f " +
          // the Retrain(1) compensation: same retrained router, one
          // more probe — must recover the scattered cluster's mass
          f"retrained_comp_recall=${recallOf(idx2, nprobe = 3)}%.3f " +
          f"split_recall=${recallOf(idxS)}%.3f " +
          f"split_skew=${Hnsw.shardImbalance(spark, idxS)}%.2f " +
          f"n_splits=$nSplits " +
          f"deep_skew=${Hnsw.shardImbalance(spark, idxD)}%.2f " +
          f"deep_recall=${recallOf(idxD)}%.3f " +
          f"deep_comp_recall=${recallOf(idxD, nprobe = 3)}%.3f " +
          f"n_deep=$nDeep " +
          f"append_wall=$wall%.1fs " +
          f"needsRebuild=${Hnsw.needsRebuild(spark, idx,
            maxAppendedFraction = 1e9)}")
      }
    }
    spark.stop()
  }

  /** Pure-JVM micro-benchmark: heap TopKBuf vs the former sorted-List
    * reduce, 1M rows, k=100 (no Spark).
    */
  private def topkMicro(): Unit = {
    val rnd = new scala.util.Random(3)
    val rows = Array.fill(1000000)((rnd.nextDouble(), rnd.nextLong()))
    val k = 100
    def lt(a: (Double, Long), b: (Double, Long)): Boolean =
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
    for (_ <- 1 to 3) {
      var t0 = System.nanoTime()
      val buf = graft.operators.TopK.TopKBuf(
        new Array[Double](k), new Array[Long](k), 0)
      rows.foreach { case (s, id) => buf.insert(s, id) }
      val heapS = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      var list = List.empty[(Double, Long)]
      rows.foreach { p =>
        if (!(list.length >= k && lt(list.last, p)))
          list = ((p :: list).sortWith(lt)).take(k)
      }
      val listS = (System.nanoTime() - t0) / 1e9
      assert(buf.sortedPairs == list)
      println(f"k=$k 1M rows: heap $heapS%.3f s, sorted-list $listS%.3f s")
    }
  }
}
