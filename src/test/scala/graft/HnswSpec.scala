package graft

import org.apache.spark.sql.functions._
import graft.operators.{Hnsw, Ivf, Pq, SimilaritySearch}

/** Sharded-HNSW coverage: exhaustive-mode exactness vs brute force
  * (the gate's premise), production-ef recall vs the IVF-PQ ladder,
  * build determinism, and the connectivity-repair guarantee.
  */
class HnswSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def emb = spark.read.parquet(s"$dir/embeddings.parquet")

  private def freshIndex(tag: String, shards: Int = 4): String = {
    val p = tmpDir(tag) + "/idx"
    Hnsw.ensureIndex(emb, s"$dir/embeddings.parquet", p, shards = shards,
      m = 8, efC = 32)
    p
  }

  test("exhaustive mode (ef<=0, full probe) equals brute-force top-k " +
    "exactly — the gate's oracle premise") {
    val idx = freshIndex("hnsw-ex")
    val q = emb.filter(col("vec_id") < 16)
    val got = Hnsw.searchIndex(spark, idx, q, k = 5, nprobe = 4, ef = 0)
      .as[(Long, Int, Long, Double)].collect().toSet
    val want = SimilaritySearch.bruteForceTopK(emb, q, k = 5)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(got == want,
      s"exhaustive HNSW != brute force:\n missing=${want -- got}\n extra=${got -- want}")
  }

  test("production ef: recall@5 at a bounded candidate budget beats " +
    "the residual-PQ point at the same k") {
    val idx = freshIndex("hnsw-rec")
    val q = emb.filter(col("vec_id") < 64)
    val exact = SimilaritySearch.bruteForceTopK(emb, q, k = 5)
    // PqSpec's 0.740/0.750 point is FULL probe (nprobe=4) with a
    // 64-candidate total shortlist; the matching HNSW budget is
    // nprobe=4 × ef=16 = 64 nominated candidates per query
    val approx = Hnsw.searchIndex(spark, idx, q, k = 5, nprobe = 4, ef = 16)
    val r = SimilaritySearch.recallAtK(exact, approx)
      .agg(sum(col("n_hit")), sum(col("n_exact"))).head
    val recall = r.getLong(0).toDouble / r.getLong(1)
    info(f"hnsw recall@5 (nprobe=4, ef=16, 64-candidate budget): " +
      f"$recall%.3f (residual IVF-PQ at 64-of-500: 0.750)")
    assert(recall >= 0.75,
      s"graph ANN must reach the PQ ladder's recall point: $recall")
  }

  test("build is deterministic: two builds of the same corpus produce " +
    "identical adjacency") {
    val a = freshIndex("hnsw-det-a")
    val b = freshIndex("hnsw-det-b")
    def rows(p: String) = spark.read.parquet(s"$p/graph")
      .select(col("cluster"), col("vec_id"), col("adj"))
      .collect().map(_.toString).sorted.toSeq
    assert(rows(a) == rows(b), "non-deterministic build artifact")
  }

  test("connectivity repair: unbounded search reaches every node even " +
    "when the corpus has far-apart clumps in one shard") {
    // two tight clumps with orthogonal directions — a graph built
    // greedily could strand one; repair must reconnect
    val vecs = (0 until 40).map { i =>
      val v = new Array[Float](8)
      if (i < 20) v(0) = 1.0f + (i % 5) * 0.01f
      else v(7) = 1.0f + (i % 5) * 0.01f
      (i.toLong, v.toSeq)
    }
    val sorted = vecs.sortBy(_._1)
    val g = new Hnsw.ShardGraph(sorted.map(_._1).toArray,
      sorted.map(_._2.toArray).toArray, m = 4)
    sorted.indices.foreach(i => g.insert(i, efC = 16))
    g.repair()
    val probe = { val v = new Array[Float](8); v(0) = 1.0f; v }
    val reached = g.search(probe, ef = 0)
    assert(reached.length == 40,
      s"unbounded search reached ${reached.length}/40 nodes")
  }

  test("appendToIndex is canonically equal to a fresh build over the " +
    "union — append never degrades the graph") {
    val half0 = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val half1 = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    // full build over everything
    val full = tmpDir("hnsw-inc-full") + "/idx"
    Hnsw.ensureIndex(emb, s"$dir/embeddings.parquet", full, shards = 4,
      m = 8, efC = 32)
    // half build + append: centroids must MATCH the full build's for
    // row-level equality, so build the index artifact on the full
    // corpus's centroids by training on the same df — instead, build
    // on half0 and compare SEARCH RESULTS (exhaustive mode), which
    // are centroid-independent, plus row-level equality against a
    // fresh build that shares the half-trained centroids
    val inc = tmpDir("hnsw-inc") + "/idx"
    Hnsw.ensureIndex(half0, s"$dir/embeddings.parquet", inc, shards = 4,
      m = 8, efC = 32)
    Hnsw.appendToIndex(half1, inc)
    val q = emb.filter(col("vec_id") < 16)
    val got = Hnsw.searchIndex(spark, inc, q, k = 5, nprobe = 4, ef = 0)
      .as[(Long, Int, Long, Double)].collect().toSet
    val want = SimilaritySearch.bruteForceTopK(emb, q, k = 5)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(got == want, "appended index exhaustive search != brute force")
    // canonical equality: the appended artifact must equal a direct
    // rebuild over the union with the SAME (half-trained) centroids —
    // append is a pure function of the row set, not of the history
    val after = spark.read.parquet(s"$inc/graph")
      .select(col("cluster"), col("vec_id"), col("adj"))
      .collect().map(_.toString).sorted.toSeq
    val model = Ivf.loadModelCached(spark, s"$inc/centroids")
    val fresh = Ivf.assign(emb, model)
      .select(col("cluster"), col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<float>").as("vec"))
      .as[(Int, Long, Seq[Float])]
      .groupByKey(_._1)
      .flatMapGroups((cl, it) =>
        Hnsw.buildShard(cl, it.map(r => (r._2, r._3)), 8, 32))
      .toDF()
      .select(col("cluster"), col("vec_id"), col("adj"))
      .collect().map(_.toString).sorted.toSeq
    assert(after == fresh,
      "append-then-read differs from a fresh build over the union")
  }

  test("recall ladder context: HNSW vs plain IVF-PQ on the same " +
    "corpus (evidence for NOTES)") {
    val q = emb.filter(col("vec_id") < 64)
    val exact = SimilaritySearch.bruteForceTopK(emb, q, k = 5)
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val r = SimilaritySearch.recallAtK(exact, df)
        .agg(sum(col("n_hit")), sum(col("n_exact"))).head
      r.getLong(0).toDouble / r.getLong(1)
    }
    val idx = freshIndex("hnsw-lad")
    val hnsw = recallOf(
      Hnsw.searchIndex(spark, idx, q, k = 5, nprobe = 2, ef = 64))
    val ivf = Ivf.train(emb, k = 4, iters = 2)
    val pqm = Pq.train(emb, m = 8, k = 16)
    val pq = recallOf(Pq.topKClustered(emb, q, ivf, pqm, k = 5,
      nprobe = 2, rescoreK = 64))
    info(f"recall@5 same budget: hnsw=$hnsw%.3f ivf-pq=$pq%.3f")
    assert(hnsw >= pq - 0.02,
      s"graph index should not lose to the PQ shortlist: $hnsw vs $pq")
  }

  test("drift policy (Ivf.needsRebuild's twin): meters read footers " +
    "only, appended fraction and shard skew each fire the trigger, " +
    "and a rebuild resets both") {
    // 3 planted clusters, 100 rows each → even shards at build
    val rnd = new scala.util.Random(7)
    val anchors = Array.fill(3, 16)(rnd.nextGaussian())
    val rows = (0 until 300).map { i =>
      val a = anchors(i % 3)
      (i.toLong, a.map(x => (x + rnd.nextGaussian() * 0.05).toFloat).toSeq)
    }
    val base = rows.toDF("vec_id", "embedding")
    val src = tmpDir("hnsw-drift-src") + "/src"
    base.write.parquet(src)
    val idx = tmpDir("hnsw-drift") + "/idx"
    Hnsw.ensureIndex(base, src, idx, shards = 3, m = 8, efC = 32)
    val sizes0 = Hnsw.footerShardSizes(spark, idx)
    assert(sizes0.values.sum == 300L, s"footer counts off: $sizes0")
    assert(Hnsw.appendedFraction(spark, idx) == 0.0)
    assert(Hnsw.shardImbalance(spark, idx) < 2.0,
      s"planted even clusters built skewed: $sizes0")
    assert(!Hnsw.needsRebuild(spark, idx))
    // targeted append: 180 rows AT anchor 0 — all route to one shard,
    // moving both meters at once
    val drift = (1000 until 1180).map { i =>
      (i.toLong,
        anchors(0).map(x => (x + rnd.nextGaussian() * 0.05).toFloat).toSeq)
    }
    Hnsw.appendToIndex(drift.toDF("vec_id", "embedding"), idx)
    val frac = Hnsw.appendedFraction(spark, idx)
    assert(math.abs(frac - 0.6) < 0.01, s"appended meter off: $frac")
    val skew = Hnsw.shardImbalance(spark, idx)
    // the fattened shard holds ~280 of 480 rows → skew ~1.75×
    assert(skew > 1.5 && skew < 2.2, s"skew meter off: $skew")
    assert(Hnsw.needsRebuild(spark, idx),
      "0.6 appended must trip the 0.5 default")
    // each axis fires independently of the other
    assert(Hnsw.needsRebuild(spark, idx,
      maxAppendedFraction = 10.0, maxShardSkew = 1.5),
      "skew axis alone must fire below the measured skew")
    assert(!Hnsw.needsRebuild(spark, idx,
      maxAppendedFraction = 10.0, maxShardSkew = 2.5),
      "neither axis past threshold must not fire")
    // the rebuild the trigger points at: fresh build over the union —
    // retrained router re-splits the mass and restamps the base
    val all = spark.read.parquet(s"$idx/graph")
      .select(col("vec_id"), col("vec").as("embedding"))
    val src2 = tmpDir("hnsw-drift-src2") + "/src"
    all.write.parquet(src2)
    val idx2 = tmpDir("hnsw-drift2") + "/idx"
    Hnsw.ensureIndex(all, src2, idx2, shards = 4, m = 8, efC = 32)
    assert(Hnsw.appendedFraction(spark, idx2) == 0.0,
      "rebuild must reset the appended meter")
    assert(Hnsw.shardImbalance(spark, idx2) < 2.0,
      "retrained router must re-balance the shards")
    assert(!Hnsw.needsRebuild(spark, idx2))
  }

  test("splitShard preserves the row set and exhaustive search over " +
    "the split index equals brute force — the q_v_hnsw_split premise") {
    val idx = tmpDir("hnsw-split-ex") + "/idx"
    Hnsw.ensureIndex(emb, s"$dir/embeddings.parquet", idx,
      shards = 4, m = 8, efC = 32)
    val before = Hnsw.footerShardSizes(spark, idx)
    val hot = Hnsw.hottestShard(spark, idx).get
    val newId = Hnsw.splitShard(spark, idx, hot)
    assert(newId == 4, "router must gain exactly one centroid")
    val after = Hnsw.footerShardSizes(spark, idx)
    assert(after.values.sum == before.values.sum,
      s"split must not add or drop rows: $before -> $after")
    assert((after.getOrElse(hot, 0L) + after.getOrElse(newId, 0L))
      == before(hot),
      "the two sub-shards must partition exactly the hot shard's rows")
    val q = emb.filter(col("vec_id") < 16)
    val got = Hnsw.searchIndex(spark, idx, q, k = 5, nprobe = 5, ef = 0)
      .as[(Long, Int, Long, Double)].collect().toSet
    val want = SimilaritySearch.bruteForceTopK(emb, q, k = 5)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(got == want, "exhaustive search over split index != brute force")
  }

  test("skew remedy acts on the measured recall trade (round-12 " +
    "VERDICT #4/#7): rebuildRemedy routes skew-only to SplitHot and " +
    "append(+skew) to Retrain with an nprobe bump; the in-place split " +
    "restores the hot-shard contract with recall at the FIXED budget " +
    "within 0.02, while the compensated retrain budget recovers >= the " +
    "pre-rebuild recall") {
    // the NOTES hnsw-imbalance geometry, scaled to spec speed: 8
    // planted clusters, shard-per-cluster build, then a hot mass of
    // +4x the even share appended AT anchor 0 so one shard goes fat —
    // the regime where the round-12 table measured retrain-at-fixed-
    // nprobe LOSING recall (the scattered fat cluster outgrows the
    // probe budget)
    val rnd = new scala.util.Random(7)
    val anchors = Array.fill(8, 16)(rnd.nextGaussian())
    val base = (0 until 480).map { i =>
      val a = anchors(i % 8)
      (i.toLong, a.map(x => (x + rnd.nextGaussian() * 0.15).toFloat).toSeq)
    }
    val drift = (1000 until 1240).map { i =>
      (i.toLong,
        anchors(0).map(x => (x + rnd.nextGaussian() * 0.15).toFloat).toSeq)
    }
    val union = (base ++ drift).toDF("vec_id", "embedding")
    val src = tmpDir("hnsw-remedy-src") + "/src"
    base.toDF("vec_id", "embedding").write.parquet(src)
    val idx = tmpDir("hnsw-remedy") + "/idx"
    Hnsw.ensureIndex(base.toDF("vec_id", "embedding"), src, idx,
      shards = 8, m = 8, efC = 32)
    Hnsw.appendToIndex(drift.toDF("vec_id", "embedding"), idx)
    // axis routing: append fired (0.5 = 240/480 at the boundary is
    // not > 0.5 — use 0.4) and skew fired -> Retrain with the +1
    // probe compensation
    assert(Hnsw.rebuildRemedy(spark, idx, maxAppendedFraction = 0.4,
      maxShardSkew = 2.0) == Hnsw.Retrain(1))
    // append fired alone -> plain retrain
    assert(Hnsw.rebuildRemedy(spark, idx, maxAppendedFraction = 0.4,
      maxShardSkew = 100.0) == Hnsw.Retrain(0))
    // skew fired alone -> split the hot shard in place
    val hot = Hnsw.hottestShard(spark, idx).get
    assert(Hnsw.rebuildRemedy(spark, idx, maxAppendedFraction = 10.0,
      maxShardSkew = 2.0) == Hnsw.SplitHot(hot))
    assert(Hnsw.rebuildRemedy(spark, idx, maxAppendedFraction = 10.0,
      maxShardSkew = 100.0) == Hnsw.NoRebuild)
    // ground truth + recall meter at the FIXED production budget;
    // queries from the HOT region (the NOTES protocol — that's where
    // the retrain redistribution bites)
    val queries = union.filter(col("vec_id") >= 1000 &&
      col("vec_id") % 5 === 0)
    val truth = SimilaritySearch.bruteForceTopK(union, queries, k = 5)
      .select(col("q_id"), col("n_id"))
      .as[(Long, Long)].collect().toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select(col("q_id"), col("n_id"))
        .as[(Long, Long)].collect().toSet
      (truth & got).size.toDouble / truth.size
    }
    val skewBefore = Hnsw.shardImbalance(spark, idx)
    val recallBefore = recallOf(
      Hnsw.searchIndex(spark, idx, queries, k = 5, nprobe = 2, ef = 64))
    // remedy (a): in-place split of the hot shard
    val newId = Hnsw.splitShard(spark, idx, hot)
    val sizesSplit = Hnsw.footerShardSizes(spark, idx)
    val skewSplit = Hnsw.shardImbalance(spark, idx)
    assert(math.max(sizesSplit(hot), sizesSplit(newId))
      <= sizesSplit.values.max,
      s"split must break up the hot shard: $sizesSplit")
    assert(skewSplit < skewBefore,
      s"split must reduce imbalance: $skewBefore -> $skewSplit")
    val recallSplit = recallOf(
      Hnsw.searchIndex(spark, idx, queries, k = 5, nprobe = 2, ef = 64))
    assert(recallSplit >= recallBefore - 0.02,
      s"in-place split must hold recall at the fixed budget: " +
        s"$recallBefore -> $recallSplit")
    // iterated remedy, emergency mode: recallSafe=false drives the
    // meter under the target unconditionally (the caller owes an
    // nprobe bump — the Retrain(1) compensation contract; the
    // default recallSafe mode stops at 2-way per natural cluster,
    // the measured recall boundary)
    Hnsw.rebalance(spark, idx, maxShardSkew = 2.0, recallSafe = false)
    assert(Hnsw.shardImbalance(spark, idx) <= 2.0,
      s"aggressive rebalance must reach the target on Gaussian " +
        s"shards: ${Hnsw.footerShardSizes(spark, idx)}")
    // remedy (b): full retrain (the append-axis remedy) — scatters
    // the fat cluster; the Retrain(1) compensation must recover it
    val src2 = tmpDir("hnsw-remedy-src2") + "/src"
    union.write.parquet(src2)
    val idx2 = tmpDir("hnsw-remedy2") + "/idx"
    Hnsw.ensureIndex(union, src2, idx2, shards = 8, m = 8, efC = 32)
    val recallRetrainFixed = recallOf(
      Hnsw.searchIndex(spark, idx2, queries, k = 5, nprobe = 2, ef = 64))
    val recallRetrainComp = recallOf(
      Hnsw.searchIndex(spark, idx2, queries, k = 5, nprobe = 3, ef = 64))
    assert(recallRetrainComp >= recallBefore,
      s"compensated budget (nprobe+1) must recover the pre-rebuild " +
        s"recall: before=$recallBefore fixed=$recallRetrainFixed " +
        s"comp=$recallRetrainComp")
    info(f"skew $skewBefore%.2f -> split $skewSplit%.2f; recall@5 " +
      f"before=$recallBefore%.3f split=$recallSplit%.3f " +
      f"retrain-fixed=$recallRetrainFixed%.3f " +
      f"retrain-comp=$recallRetrainComp%.3f")
  }

  test("appendToIndex against a pre-meter index (no _ROWS_BASE) stamps " +
    "the base from the pre-append footer sum, so the drift meter " +
    "starts from that append instead of reading 0.0 forever") {
    val half0 = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val half1 = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    val idx = tmpDir("hnsw-legacy-base") + "/idx"
    Hnsw.ensureIndex(half0, s"$dir/embeddings.parquet", idx,
      shards = 4, m = 8, efC = 32)
    val n0 = Hnsw.footerShardSizes(spark, idx).values.sum
    // simulate an index built before the meters existed
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/_ROWS_BASE"), true)
    assert(Hnsw.baseRowCount(spark, idx).isEmpty)
    assert(Hnsw.appendedFraction(spark, idx) == 0.0,
      "no base -> meter reads 0.0 (the legacy blind spot)")
    Hnsw.appendToIndex(half1, idx)
    assert(Hnsw.baseRowCount(spark, idx).contains(n0),
      "append must stamp _ROWS_BASE from the PRE-append footer sum")
    val frac = Hnsw.appendedFraction(spark, idx)
    assert(frac > 0.9 && frac < 1.1,
      s"meter must see the appended half against the stamped base: $frac")
    assert(Hnsw.needsRebuild(spark, idx, maxShardSkew = Double.MaxValue),
      "the append axis must be able to fire on a legacy index")
  }

  private def freshAttrIndex(tag: String): String = {
    val p = tmpDir(tag) + "/idx"
    Hnsw.ensureIndex(emb, s"$dir/embeddings.parquet", p, shards = 4,
      m = 8, efC = 32, attrCols = Seq("label"))
    p
  }

  test("filtered search, exhaustive mode: equals brute force over the " +
    "filtered slice (failing nodes stay routable)") {
    val idx = freshAttrIndex("hnsw-flt-ex")
    val q = emb.filter(col("vec_id") < 16)
    val got = Hnsw.searchIndex(spark, idx, q, k = 5, nprobe = 4, ef = 0,
      predicate = Some(col("label") < 5))
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    val want = SimilaritySearch.bruteForceTopK(
        emb.filter(col("label") < 5), q, k = 5)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    assert(got == want, "exhaustive filtered graph search diverged")
    // a HIGHLY selective predicate: only ~10% of nodes pass — every
    // route to them goes through failing nodes, and exhaustive
    // traversal still finds them all (pre-filtering the graph would
    // strand them)
    val rare = Hnsw.searchIndex(spark, idx, q, k = 5, nprobe = 4, ef = 0,
      predicate = Some(col("label") === 3))
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    val rareWant = SimilaritySearch.bruteForceTopK(
        emb.filter(col("label") === 3), q, k = 5)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    assert(rare == rareWant, "selective filtered search diverged")
  }

  test("filtered search, finite ef: the ef budget counts PASSING " +
    "candidates — in-traversal filtering beats post-filtering the " +
    "same budget") {
    val idx = freshAttrIndex("hnsw-flt-ef")
    val q = emb.filter(col("vec_id") < 32)
    val exact = SimilaritySearch.bruteForceTopK(
      emb.filter(col("label") < 3), q, k = 5)
    val filtered = Hnsw.searchIndex(spark, idx, q, k = 5, nprobe = 4, ef = 16,
      predicate = Some(col("label") < 3))
    val rF = SimilaritySearch.recallAtK(exact, filtered)
      .agg(sum(col("n_hit")), sum(col("n_exact"))).head
    val recallF = rF.getLong(0).toDouble / rF.getLong(1)
    // post-filter arm: UNFILTERED ef=16 nomination, predicate applied
    // after — with ~30% selectivity most nominations are wasted
    val labels = emb.select(col("vec_id"), col("label"))
      .as[(Long, Int)].collect().toMap
    val post = Hnsw.searchIndex(spark, idx, q, k = 64, nprobe = 4, ef = 16)
      .filter(col("rank") <= 16) // the same 16-candidate budget
      .collect().map(r => (r.getLong(0), r.getLong(2)))
      .filter { case (_, n) => labels(n) < 3 }
      .groupBy(_._1).view.mapValues(_.map(_._2).take(5).toSet).toMap
    val exactSet = exact.select("q_id", "n_id").as[(Long, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val postHits = exactSet.map { case (qid, want) =>
      want.intersect(post.getOrElse(qid, Set.empty)).size
    }.sum
    val recallP = postHits.toDouble / exactSet.values.map(_.size).sum
    info(f"filtered-ef recall: $recallF%.3f vs post-filter $recallP%.3f")
    assert(recallF > recallP,
      s"in-traversal filtering must beat post-filtering: $recallF vs $recallP")
    assert(recallF >= 0.8, s"filtered recall collapsed: $recallF")
  }

  test("attrs survive appendToIndex and splitShard; a delta without " +
    "the attr column is refused loudly") {
    val idx = tmpDir("hnsw-flt-inc") + "/idx"
    val half0 = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val half1 = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    Hnsw.ensureIndex(half0, s"$dir/embeddings.parquet", idx, shards = 4,
      m = 8, efC = 32, attrCols = Seq("label"))
    Hnsw.appendToIndex(half1, idx)
    val q = emb.filter(col("vec_id") < 16)
    val got = Hnsw.searchIndex(spark, idx, q, k = 5, nprobe = 4, ef = 0,
      predicate = Some(col("label") < 5))
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    val want = SimilaritySearch.bruteForceTopK(
        emb.filter(col("label") < 5), q, k = 5)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    assert(got == want, "filtered search over an appended index diverged")
    // split the hottest shard: attrs must carry into both halves
    val sizes = Hnsw.footerShardSizes(spark, idx)
    val hot = sizes.maxBy(_._2)._1
    Hnsw.splitShard(spark, idx, hot)
    val got2 = Hnsw.searchIndex(spark, idx, q, k = 5, nprobe = 5, ef = 0,
      predicate = Some(col("label") < 5))
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    assert(got2 == want, "filtered search over a split index diverged")
    // loud refusal: appending rows with no label column would make
    // them invisible to every predicate
    val err = intercept[IllegalArgumentException] {
      Hnsw.appendToIndex(half1.select(col("vec_id") + 1000000L
        as "vec_id", col("embedding")), idx)
    }
    assert(err.getMessage.contains("label"))
  }

  test("deleteFromIndex: touched shards rebuild from survivors (no " +
    "dangling-edge unlink), untouched shards keep their files, attrs " +
    "survive, and exhaustive search equals the survivors' brute force") {
    import org.apache.spark.sql.functions._
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = tmpDir("hnsw-del") + "/idx"
    Hnsw.ensureIndex(emb, "/root/testdata/sf0.001/embeddings.parquet",
      idx, shards = 4, m = 8, efC = 32, attrCols = Seq("label"))
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(): Map[String, Long] = {
      val it = fs.listFiles(
        new org.apache.hadoop.fs.Path(s"$idx/graph"), true)
      val b = scala.collection.mutable.Map.empty[String, Long]
      while (it.hasNext) { val f = it.next()
        b += f.getPath.toString -> f.getModificationTime }
      b.toMap
    }
    val before = files()
    val graph0 = spark.read.parquet(s"$idx/graph")
    val touched = graph0.filter(col("label") >= 8)
      .select("cluster").distinct().as[Int].collect().toSet
    val expectDel = graph0.filter(col("label") >= 8).count()
    val nDel = Hnsw.deleteFromIndex(spark, idx, col("label") >= 8)
    assert(nDel == expectDel)
    val after = files()
    before.keys.filterNot(k =>
        touched.exists(c => k.contains(s"cluster=$c/")))
      .foreach { k =>
        assert(after.contains(k) && after(k) == before(k),
          s"untouched shard file rewritten: $k")
      }
    val q = emb.filter(col("vec_id") < 8)
    val got = Hnsw.searchIndex(spark, idx, q, k = 5, nprobe = 4, ef = 0)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    val want = SimilaritySearch.bruteForceTopK(
        emb.filter(col("label") < 8), q, k = 5)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    assert(got == want,
      "post-delete search diverged from survivors' brute force")
    // attrs rode the rebuild: filtered search still sees them
    val flt = Hnsw.searchIndex(spark, idx, q, k = 5, nprobe = 4, ef = 0,
      predicate = Some(col("label") < 3))
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    val fltWant = SimilaritySearch.bruteForceTopK(
        emb.filter(col("label") < 3), q, k = 5)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    assert(flt == fltWant, "attrs lost through the delete rebuild")
  }

  test("markerAttrs: a source path containing ',attrs=' can never " +
    "inject attribute columns — the parse stops at the structured " +
    "prefix") {
    def withMarker(text: String): Seq[String] = {
      val dir = tmpDir("hnsw-marker")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "_INDEX_READY"),
        text.getBytes("UTF-8"))
      Hnsw.buildParams(spark, dir).attrs
    }
    // plain index (no attrs field) whose PATH embeds ',attrs=foo,'
    assert(withMarker("hnsw,shards=4,m=8,efC=32,iters=3,seed=42," +
      "idCol=vec_id,vecCol=embedding,src=/data/x,attrs=foo,/y").isEmpty,
      "path-embedded attrs must not be parsed as real columns")
    // genuine attrs survive even with the same pathological path
    assert(withMarker("hnsw,shards=4,m=8,efC=32,iters=3,seed=42," +
      "attrs=label+flag,idCol=vec_id,vecCol=embedding," +
      "src=/data/x,attrs=foo,/y") == Seq("label", "flag"))
  }

  /** Run `body` under the AT-SCALE shuffle layout: no broadcast
    * joins (a 100 TB attr side sort-merge-joins, scattering a
    * rebuilt shard's rows across tasks) and no AQE partition
    * coalescing (which at spec scale folds every tiny shuffle into
    * one partition). Together they surface the real fragmentation
    * regime — one file per task per touched shard — that
    * compactShards exists for.
    */
  private def withoutAqeCoalesce[T](body: => T): T = {
    val keys = Seq(
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def shardFiles(idx: String): Map[String, Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$idx/graph")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = scala.collection.mutable.Map.empty[String, Long]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet"))
        out(f.getPath.toString) = f.getModificationTime
    }
    out.toMap
  }

  test("compactShards: the fragmentation meter trips after an " +
    "attr-carrying append, compaction is content-invisible and " +
    "leaves one file per shard, shards already at one file keep " +
    "their files byte-stable, and an unfragmented index is a no-op") {
    val base = tmpDir("hnsw-cpt")
    val src = s"$base/src"
    emb.write.parquet(src)
    val idx = s"$base/idx"
    val half0 = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val half1 = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    Hnsw.ensureIndex(half0, src, idx, shards = 4, m = 8, efC = 32,
      attrCols = Seq("label"))
    withoutAqeCoalesce { Hnsw.appendToIndex(half1, idx) }
    // round-16 pin: the rebuild CARRIES attrs through its own shuffle,
    // so an attr-carrying append leaves ONE file per touched shard
    // even with AQE coalescing off — the old attr-re-join scatter
    // (which this test used as its fragmentation construction) is
    // gone by design
    assert(Hnsw.filesPerShard(spark, idx).values.forall(_ == 1),
      s"an append must leave one file per shard: " +
        s"${Hnsw.filesPerShard(spark, idx)}")
    // fragment at the FILE level (the layout an external multi-writer
    // ingest or object-store copy leaves): same rows, many files —
    // what compactShards exists to mop up
    fragmentShards(idx, copies = 3)
    val frag = Hnsw.filesPerShard(spark, idx)
    assert(frag.values.exists(_ > 1),
      s"construction: the file-level fixture must fragment: $frag")
    assert(Hnsw.needsCompaction(spark, idx, maxFilesPerShard = 1))
    val before = spark.read.parquet(s"$idx/graph")
      .collect().map(_.toSeq).toSet
    val n1 = Hnsw.compactShards(spark, idx)
    assert(n1 == frag.count(_._2 > 1), s"compacted $n1 of $frag")
    assert(Hnsw.filesPerShard(spark, idx).values.forall(_ == 1),
      "one file per shard after compaction")
    assert(spark.read.parquet(s"$idx/graph")
      .collect().map(_.toSeq).toSet == before,
      "compaction must be content-invisible")
    assert(Hnsw.compactShards(spark, idx) == 0,
      "no-op when unfragmented")
    // refragment a SUBSET of shards, then pin that compaction leaves
    // single-file shards untouched
    fragmentShards(idx, copies = 2,
      only = Hnsw.filesPerShard(spark, idx).keySet.take(2))
    val fragNow = Hnsw.filesPerShard(spark, idx)
    val singles = fragNow.filter(_._2 == 1).keySet
    assert(singles.nonEmpty,
      s"construction: a 3-row delta must leave some shard at 1 file: $fragNow")
    val filesBefore = shardFiles(idx)
    Hnsw.compactShards(spark, idx)
    val filesAfter = shardFiles(idx)
    singles.foreach { c =>
      val pre = filesBefore.filter(_._1.contains(s"cluster=$c/"))
      val post = filesAfter.filter(_._1.contains(s"cluster=$c/"))
      assert(pre == post,
        s"untouched shard $c must keep its files byte-stable:\n" +
          s" pre=$pre\n post=$post")
    }
    // the search path cannot tell (the q_v_hnsw_cpt oracle premise)
    val q = emb.filter(col("vec_id") < 16)
    val got = Hnsw.searchIndex(spark, idx, q, k = 5, nprobe = 4, ef = 0)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)]
      .collect().toSet
    val want = SimilaritySearch.bruteForceTopK(emb, q, k = 5)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)]
      .collect().toSet
    assert(got == want, "post-compaction search != brute force")
  }

  /** File-level fragmentation fixture: rewrite each (selected) shard's
    * rows across `copies` part files — content-identical, many-file
    * layout, the state an external multi-writer ingest leaves and the
    * one compactShards exists to mop up. (The engine's own rebuilds
    * stopped producing fragmentation in round 16: attrs carry through
    * the rebuild shuffle, so a touched shard lands as one file.)
    */
  private def fragmentShards(idx: String, copies: Int,
                             only: Set[Int] = Set.empty): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val clusters = Hnsw.filesPerShard(spark, idx).keySet
      .filter(c => only.isEmpty || only(c))
    clusters.foreach { c =>
      val dirStr = s"$idx/graph/cluster=$c"
      val dir = new org.apache.hadoop.fs.Path(dirStr)
      val fs = dir.getFileSystem(conf)
      val rows = spark.read.parquet(dirStr)
      val tmp = new org.apache.hadoop.fs.Path(
        tmpDir(s"frag-$c"), "out")
      rows.repartition(copies).write.mode("overwrite")
        .parquet(tmp.toString)
      fs.listStatus(dir).foreach { f =>
        if (f.isFile && f.getPath.getName.endsWith(".parquet"))
          fs.delete(f.getPath, false)
      }
      fs.listStatus(tmp).foreach { f =>
        if (f.isFile && f.getPath.getName.endsWith(".parquet"))
          fs.rename(f.getPath,
            new org.apache.hadoop.fs.Path(dir, f.getPath.getName))
      }
      fs.delete(tmp, true)
    }
    spark.catalog.refreshByPath(s"$idx/graph")
  }

  test("maintain: healthy index is a no-op (files untouched), " +
    "fragmentation compacts, drift is REPORTED with the retrain " +
    "left to the fingerprint owner, and skew-only acts via " +
    "recall-safe splits") {
    // part 1: healthy + fragmented + drift, on the real corpus
    val base = tmpDir("hnsw-maint")
    val src = s"$base/src"
    emb.write.parquet(src)
    val idx = s"$base/idx"
    val half0 = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val half1 = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    Hnsw.ensureIndex(half0, src, idx, shards = 4, m = 8, efC = 32,
      attrCols = Seq("label"))
    val files0 = shardFiles(idx)
    // (AQE coalescing hidden at spec scale — see the compactShards
    // test; the fragmenting append below disables it)
    val r0 = Hnsw.maintain(spark, idx, maxFilesPerShard = 16,
      maxAppendedFraction = 0.5, maxShardSkew = 100.0)
    assert(r0.compactedShards == 0 && r0.splits == 0 &&
      !r0.needsRetrain && r0.nprobeDelta == 0,
      s"fresh build must be a maintenance no-op: $r0")
    assert(shardFiles(idx) == files0,
      "a healthy no-op must not touch any graph file")
    withoutAqeCoalesce { Hnsw.appendToIndex(half1, idx) }
    // round-16: the rebuild leaves one file per shard, so trip the
    // compaction axis with the file-level fixture (see fragmentShards)
    fragmentShards(idx, copies = 2)
    val r1 = Hnsw.maintain(spark, idx, maxFilesPerShard = 1,
      maxAppendedFraction = 0.5, maxShardSkew = 100.0)
    assert(r1.compactedShards > 0, s"fragmented index must compact: $r1")
    assert(r1.needsRetrain && r1.appendedFraction > 0.9,
      s"a doubled corpus is ~1.0 appended and needs the owner's " +
        s"retrain: $r1")
    assert(r1.splits == 0,
      s"drift must be reported, never 'fixed' by splitting: $r1")
    // content-invisible: post-maintenance exhaustive search ≡ brute
    val q = emb.filter(col("vec_id") < 16)
    val got = Hnsw.searchIndex(spark, idx, q, k = 5, nprobe = 4, ef = 0)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)]
      .collect().toSet
    val want = SimilaritySearch.bruteForceTopK(emb, q, k = 5)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)]
      .collect().toSet
    assert(got == want, "post-maintenance search != brute force")
    // part 2: skew-only fires -> the autopilot ACTS (recall-safe
    // rebalance), planted-cluster geometry so the hot shard is real
    val rnd = new scala.util.Random(11)
    val anchors = Array.fill(4, 16)(rnd.nextGaussian())
    val pts = (0 until 240).map { i =>
      val a = anchors(i % 4)
      (i.toLong, a.map(x => (x + rnd.nextGaussian() * 0.15).toFloat).toSeq)
    }
    val hotMass = (1000 until 1160).map { i =>
      (i.toLong,
        anchors(0).map(x => (x + rnd.nextGaussian() * 0.15).toFloat).toSeq)
    }
    val src2 = s"$base/src2"
    pts.toDF("vec_id", "embedding").write.parquet(src2)
    val idx2 = s"$base/idx2"
    Hnsw.ensureIndex(pts.toDF("vec_id", "embedding"), src2, idx2,
      shards = 4, m = 8, efC = 32)
    Hnsw.appendToIndex(hotMass.toDF("vec_id", "embedding"), idx2)
    val skewBefore = Hnsw.shardImbalance(spark, idx2)
    assert(skewBefore > 2.0,
      s"construction: hot mass must skew the shards: $skewBefore")
    val r2 = Hnsw.maintain(spark, idx2, maxFilesPerShard = 16,
      maxAppendedFraction = 10.0, maxShardSkew = 2.0)
    assert(r2.splits > 0 && !r2.needsRetrain,
      s"skew-only must act by splitting, not report a retrain: $r2")
    assert(r2.shardImbalance < skewBefore,
      s"post-maintenance meter must show the improvement: " +
        s"$skewBefore -> ${r2.shardImbalance}")
    // the splits only refine routing: exhaustive search stays exact
    val union = (pts ++ hotMass).toDF("vec_id", "embedding")
    val q2 = union.filter(col("vec_id") % 40 === 0)
    val nShards = Hnsw.footerShardSizes(spark, idx2).size
    val got2 = Hnsw.searchIndex(spark, idx2, q2, k = 5,
        nprobe = nShards, ef = 0)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)]
      .collect().toSet
    val want2 = SimilaritySearch.bruteForceTopK(union, q2, k = 5)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)]
      .collect().toSet
    assert(got2 == want2, "post-split exhaustive search != brute force")
  }

  test("appendToIndex attr re-join keys on (cluster, vec_id) with " +
    "delta-wins precedence: a re-appended id neither fans out graph " +
    "rows nor resurrects its stale attr value (round-15 ADVICE)") {
    val idx = tmpDir("hnsw-reapp") + "/idx"
    Hnsw.ensureIndex(emb, s"$dir/embeddings.parquet", idx, shards = 4,
      m = 8, efC = 32, attrCols = Seq("label"))
    val n0 = spark.read.parquet(s"$idx/graph").count()
    // re-append 8 ids ALREADY in the index with a CHANGED label: the
    // unchanged vector routes to the same shard, so the bare union
    // legitimately holds each id twice (existing node + delta node);
    // the attr re-join must not square that (the vec_id-only fan-out
    // would write 4 rows per id), and every kept row must carry the
    // DELTA's label (the newest write), not the stale stored one
    Hnsw.appendToIndex(
      emb.filter(col("vec_id") < 8).withColumn("label", lit(99)), idx)
    val graph = spark.read.parquet(s"$idx/graph")
    assert(graph.count() == n0 + 8,
      s"attr fan-out duplicated graph rows: ${graph.count()} != ${n0 + 8}")
    val reapp = graph.filter(col("vec_id") < 8)
    val perId = reapp.groupBy(col("vec_id")).count()
      .as[(Long, Long)].collect().toMap
    assert((0L until 8L).forall(perId.get(_).contains(2L)),
      s"each re-appended id must hold exactly its two bare rows: $perId")
    assert(reapp.filter(col("label") =!= 99).count() == 0,
      "stale attr value survived a delta re-append (delta must win)")
  }
}
