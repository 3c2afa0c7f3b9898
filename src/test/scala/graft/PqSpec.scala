package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ivf, Pq, SimilaritySearch}

class PqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("train: deterministic, right shapes, codes cover the range") {
    val m1 = Pq.train(emb, m = 8, k = 16, iters = 4)
    val m2 = Pq.train(emb, m = 8, k = 16, iters = 4)
    assert(m1.m == 8 && m1.k == 16 && m1.subDim == 8 && m1.dim == 64)
    assert(m1.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      m2.codebooks.map(_.map(_.toSeq).toSeq).toSeq, "training must be deterministic")
  }

  test("withCodes: m codes in [0,k), exact norm, null-vector -> null") {
    val model = Pq.train(emb, m = 8, k = 16, iters = 4)
    val withNull = emb.select(col("vec_id"), col("embedding"))
      .union(Seq((99999L, null: Seq[Float])).toDF("vec_id", "embedding"))
    val coded = Pq.withCodes(withNull, model)
      .select(col("vec_id"), col("pq_code"), col("pq_norm"),
        sqrt(aggregate(col("embedding"), lit(0.0d),
          (a, x) => a + x.cast("double") * x.cast("double"))).as("expect_norm"))
      .collect()
    coded.foreach { r =>
      if (r.getLong(0) == 99999L) {
        assert(r.isNullAt(1) && r.isNullAt(2), "null vector must null the codes")
      } else {
        val codes = r.getSeq[Int](1)
        assert(codes.length == 8)
        assert(codes.forall(c => c >= 0 && c < 16))
        assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-9,
          s"stored norm ${r.getDouble(2)} != exact ${r.getDouble(3)}")
      }
    }
  }

  test("ADC score == dot(query, reconstructed-from-codes) exactly") {
    val model = Pq.train(emb, m = 8, k = 16, iters = 4)
    val rows = Pq.withCodes(emb.limit(32), model)
      .select(col("embedding"), col("pq_code")).collect()
    val q = rows.head.getSeq[Float](0).toArray
    val scored = Pq.withCodes(emb.limit(32), model)
      .select(col("vec_id"), col("pq_code"),
        Pq.adcScore(Pq.adcTable(typedlit(q.toSeq), model), col("pq_code"),
          model.k).as("adc"))
      .select(col("pq_code"), col("adc")).collect()
    scored.foreach { r =>
      val codes = r.getSeq[Int](0)
      // reconstruct = concat of the chosen codebook centroids
      val recon = codes.zipWithIndex.flatMap { case (c, j) =>
        model.codebooks(j)(c)
      }.toArray
      val expect = q.indices.map(i => q(i).toDouble * recon(i)).sum
      assert(math.abs(r.getDouble(1) - expect) < 1e-6,
        s"adc ${r.getDouble(1)} != reconstruction dot $expect")
    }
  }

  test("topK with an exhaustive shortlist equals brute force exactly") {
    val model = Pq.train(emb, m = 8, k = 16, iters = 4)
    val q = emb.filter(col("vec_id") < 8)
    val n = emb.count().toInt
    val exact = SimilaritySearch.bruteForceTopK(emb, q, k = 5)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    val pq = Pq.topK(emb, q, model, k = 5, rescoreK = n)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    assert(pq == exact)
  }

  test("topK default shortlist keeps high recall vs brute force") {
    val model = Pq.train(emb, m = 8, k = 16, iters = 4)
    val q = emb.filter(col("vec_id") < 20)
    val exact = SimilaritySearch.bruteForceTopK(emb, q, k = 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    // isotropic gaussians are PQ's WORST case (no cluster structure to
    // exploit, codebooks learned from noise): a 64-of-500 shortlist
    // recovers 0.74 of the true top-5 here — deterministic (fixed
    // corpus, seeded deterministic training), so the bound pins the
    // implementation, not luck; the exhaustive test above is the
    // correctness anchor
    val pq = Pq.topK(emb, q, model, k = 5, rescoreK = 64)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(pq).size.toDouble / exact.size
    assert(recall >= 0.7, s"ADC shortlist recall $recall")
  }

  test("topKClustered full-probe + exhaustive shortlist equals brute force") {
    val ivf = Ivf.train(emb, k = 4, iters = 2)
    val model = Pq.train(emb, m = 8, k = 16, iters = 4)
    val q = emb.filter(col("vec_id") < 8)
    val n = emb.count().toInt
    val exact = SimilaritySearch.bruteForceTopK(emb, q, k = 5)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    val got = Pq.topKClustered(emb, q, ivf, model, k = 5, nprobe = 4,
      rescoreK = n)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    assert(got == exact)
  }

  test("residual IVF-PQ: full-probe + exhaustive shortlist equals " +
    "brute force (correctness anchor)") {
    val ivf = Ivf.train(emb, k = 4, iters = 2)
    val model = Pq.trainResidual(emb, ivf, m = 8, k = 16, iters = 4)
    val q = emb.filter(col("vec_id") < 8)
    val n = emb.count().toInt
    val exact = SimilaritySearch.bruteForceTopK(emb, q, k = 5)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    val got = Pq.topKClusteredResidual(emb, q, ivf, model, k = 5,
      nprobe = 4, rescoreK = n)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    assert(got == exact)
  }

  test("residual IVF-PQ recall at the same code size >= plain IVF-PQ " +
    "(the reason residual encoding exists)") {
    val ivf = Ivf.train(emb, k = 4, iters = 2)
    val plain = Pq.train(emb, m = 8, k = 16, iters = 4)
    val resid = Pq.trainResidual(emb, ivf, m = 8, k = 16, iters = 4)
    val q = emb.filter(col("vec_id") < 20)
    val exact = SimilaritySearch.bruteForceTopK(emb, q, k = 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("q_id", "n_id").as[(Long, Long)].collect().toSet
      exact.intersect(got).size.toDouble / exact.size
    }
    // identical probe sets (nprobe = all 4 clusters), identical
    // 64-candidate shortlist budget — the ONLY difference is whether
    // the m·k code budget quantizes vectors or centroid residuals
    val rPlain = recall(Pq.topKClustered(emb, q, ivf, plain, k = 5,
      nprobe = 4, rescoreK = 64))
    val rResid = recall(Pq.topKClusteredResidual(emb, q, ivf, resid, k = 5,
      nprobe = 4, rescoreK = 64))
    info(f"recall@5, 64-of-500 shortlist: plain=$rPlain%.3f residual=$rResid%.3f")
    // deterministic corpus + seeded training → these are fixed values,
    // not luck; the margin tolerates nothing (residual must not LOSE)
    assert(rResid >= rPlain,
      s"residual encoding must not reduce recall: $rResid vs $rPlain")
    assert(rResid >= 0.7, s"residual recall floor: $rResid")
  }

  test("persisted index: cold reload equals the in-session models exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-idx").toString
    val src = "/root/testdata/sf0.001/embeddings.parquet"
    Ivf.ensureIndexPq(emb, src, s"$dir/idx", k = 4, iters = 2,
      pqM = 8, pqK = 16, pqIters = 4, pqSampleN = 1024)
    val q = emb.filter(col("vec_id") < 8)
    val n = Ivf.indexRowCount(spark, s"$dir/idx")
    assert(n.contains(emb.count()), s"_ROWS metadata $n != corpus count")
    // cold reload: the models come off disk (fresh cache keys), the
    // codes come from the stored corpus — must equal the in-session
    // composition over the same models
    val reloadedPq = Pq.loadModel(spark, s"$dir/idx/pq")
    val reloadedIvf = Ivf.loadModel(spark, s"$dir/idx/centroids")
    val inSession = Pq.topKClustered(emb, q, reloadedIvf, reloadedPq, k = 5,
      nprobe = 4, rescoreK = n.get.toInt)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    val fromIndex = Ivf.searchIndex(spark, s"$dir/idx", q, k = 5,
      nprobe = 4, shortlist = Ivf.Shortlist.Pq(n.get.toInt))
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    assert(fromIndex == inSession)
    // and with the exhaustive shortlist both equal brute force
    val exact = SimilaritySearch.bruteForceTopK(emb, q, k = 5)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)].collect().toSet
    assert(fromIndex == exact)
  }

  test("persisted-index search: shortlist scans codes, rescore scans floats") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-plan").toString
    val src = "/root/testdata/sf0.001/embeddings.parquet"
    Ivf.ensureIndexPq(emb, src, s"$dir/idx", k = 4, iters = 2,
      pqM = 8, pqK = 16, pqIters = 4, pqSampleN = 1024)
    val q = emb.filter(col("vec_id") < 4)
    val df = Ivf.searchIndex(spark, s"$dir/idx", q, k = 5, nprobe = 2,
      shortlist = Ivf.Shortlist.Pq())
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val schemas = p.linesIterator.filter(_.contains("ReadSchema:")).toList
    // the shortlist phase reads the m-int code column, NOT the floats
    assert(schemas.exists(s => s.contains("pq_code") && !s.contains("embedding")),
      s"no codes-only corpus scan in:\n$p")
    // the rescore phase reads float vectors (shortlisted rows only)
    assert(schemas.exists(s => s.contains("embedding")),
      s"no full-precision rescore scan in:\n$p")
  }

  test("persisted index rebuilds on parameter change, not on re-ensure") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-stale").toString
    val src = "/root/testdata/sf0.001/embeddings.parquet"
    val idx = s"$dir/idx"
    Ivf.ensureIndexPq(emb, src, idx, k = 4, iters = 2,
      pqM = 8, pqK = 16, pqIters = 4, pqSampleN = 1024)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mtime1 = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(s"$idx/_INDEX_READY")).getModificationTime
    // same parameters: no rebuild (marker untouched)
    Ivf.ensureIndexPq(emb, src, idx, k = 4, iters = 2,
      pqM = 8, pqK = 16, pqIters = 4, pqSampleN = 1024)
    val mtime2 = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(s"$idx/_INDEX_READY")).getModificationTime
    assert(mtime2 == mtime1, "unchanged parameters must not rebuild")
    // changed PQ parameters at the same path: must rebuild (an m=8
    // index must never serve an m=4 caller)
    Ivf.ensureIndexPq(emb, src, idx, k = 4, iters = 2,
      pqM = 4, pqK = 16, pqIters = 4, pqSampleN = 1024)
    val codes = spark.read.parquet(s"$idx/corpus")
      .select(size(col("pq_code"))).as[Int].head()
    assert(codes == 4, s"rebuilt index must carry m=4 codes, got $codes")
  }

  test("the candidate plan scores codes, not float vectors") {
    val model = Pq.train(emb, m = 8, k = 16, iters = 4)
    val q = emb.filter(col("vec_id") < 4)
    val df = Pq.topK(emb, q, model, k = 5)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the ADC table is built on the (small) query side, once per query
    assert(p.contains("pqadctable") || p.contains("PqAdcTable")
      || p.contains("__t"), s"no staged ADC table in:\n$p")
    // and the per-pair score is the lookup kernel over pq_code
    assert(p.contains("pq_code"), s"no code column in the score plan:\n$p")
  }
}
