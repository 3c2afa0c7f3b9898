package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.{Upsert, VersionedTable}
import graft.functions.TextFunctions
import graft.operators.{AcAutomaton, Blocklist, Dedup, DatasetSplit, Ivf, LogReg, NaiveBayes, Pca, Pq, SimilaritySearch, TopK}
import graft.streaming.StreamingCdc

/** Degenerate-input behavior: at 100 TB every operator eventually sees
  * an empty batch, an empty group, or an all-null slice — none of them
  * may crash or invent rows. Plus the concurrency race the claim
  * ledger exists for: two writers committing the SAME batch id must
  * resolve to exactly one commit.
  */
class RobustnessSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emptyDocs = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType))))

  private lazy val emptyVecs = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)))))

  test("text/dedup operators accept an empty corpus") {
    assert(Dedup.exactRows(emptyDocs, "text", "doc_id").count() == 0)
    assert(Dedup.duplicateSpans(emptyDocs, "text", "doc_id").count() == 0)
    assert(Dedup.dropRepeatedLines(emptyDocs, "text", "doc_id").count() == 0)
    assert(Dedup.connectedComponents(
      emptyDocs.select(col("doc_id").as("id_a"),
        col("doc_id").as("id_b"))).count() == 0)
    assert(DatasetSplit.rebalanceToTarget(emptyDocs, "text", "text",
      Map("en" -> 1)).count() == 0)
  }

  test("vector operators accept an empty corpus and empty query sets") {
    val vecs = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    // empty QUERY side against a real corpus
    val m = Ivf.train(vecs, k = 2, iters = 1)
    assert(Ivf.searchTopK(vecs, emptyVecs, m, k = 3).count() == 0)
    assert(SimilaritySearch.bruteForceTopK(vecs, emptyVecs, 3).count() == 0)
    val pq = Pq.train(vecs, m = 8, k = 4, iters = 1)
    assert(Pq.topK(vecs, emptyVecs, pq, k = 3).count() == 0)
    // empty CORPUS against real queries
    val q = vecs.limit(2)
    assert(Ivf.searchTopK(emptyVecs, q, m, k = 3).count() == 0)
    assert(Pq.topK(emptyVecs, q, pq, k = 3).count() == 0)
    // all-null embedding slice: encode nulls out, searches stay sane
    val nulls = Seq((1L, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding")
    assert(Pq.withCodes(nulls, pq).filter(col("pq_code").isNotNull)
      .count() == 0)
    assert(Ivf.searchTopK(nulls, q, m, k = 3).count() == 0)
  }

  test("round-12 operators accept degenerate inputs: empty sides, " +
    "short vectors, unknown mix groups, empty KN training") {
    val vecs = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = vecs.limit(2)
    // binary / truncated / positive rungs: empty either side → empty
    assert(SimilaritySearch.binTopK(vecs, emptyVecs, k = 3).count() == 0)
    assert(SimilaritySearch.binTopK(emptyVecs, q, k = 3).count() == 0)
    assert(SimilaritySearch.truncTopK(vecs, emptyVecs, k = 3, dims = 16)
      .count() == 0)
    assert(SimilaritySearch.positives(emptyVecs
      .withColumn("label", lit(0L)), q.withColumn("label", lit(0L)),
      k = 3).count() == 0)
    // dims beyond the vector length: slice returns the whole vector —
    // truncTopK degenerates to the exact path, never crashes
    val full = SimilaritySearch
      .truncTopK(vecs, q, k = 3, dims = 4096, shortlistK = 8192)
      .count()
    assert(full > 0)
    // signPack of a short vector packs into one partial word
    import graft.functions.NativeExpressions.signPack
    val one = Seq((1L, Seq(0.5f))).toDF("vec_id", "embedding")
      .select(signPack(col("embedding"))).as[Array[Long]].head()
    assert(one.toSeq == Seq(1L))
    // temperatureMix: a group absent from the rates table drops; an
    // empty rates request fails loudly
    val df = Seq(("a", "x"), ("b", "y")).toDF("g", "text")
    val kept = DatasetSplit.temperatureMix(df, "g", col("text"),
      Seq("a" -> 65536))
    assert(kept.select(col("g")).as[String].collect().toSet == Set("a"))
    intercept[IllegalArgumentException](
      DatasetSplit.temperatureMixRates(
        df.filter(lit(false)), "g", 2.0))
    // KN: an empty training corpus fails loudly, never divides by zero
    intercept[IllegalArgumentException](
      graft.operators.LangModel.knBigramScores(
        emptyDocs.select(col("doc_id"), lit("").as("text")),
        "text", "doc_id"))
  }

  test("topKPerKey on empty input and k larger than the data") {
    val empty = emptyDocs.select(col("doc_id").as("q_id"),
      col("doc_id").as("n_id"), col("doc_id").cast("double").as("cosine"))
    assert(TopK.topKPerKey(empty, 5)(spark).count() == 0)
    val two = Seq((1L, 10L, 0.5), (1L, 11L, 0.4))
      .toDF("q_id", "n_id", "cosine")
    assert(TopK.topKPerKey(two, 100)(spark).count() == 2)
  }

  test("CDC paths accept empty changefeeds and empty snapshots") {
    val t = new VersionedTable(spark, tmpDir("graft-rb") + "/t")
    val empty = emptyDocs.select(col("doc_id").as("k"),
      col("text").as("v")).withColumn("op", lit("I"))
    // an empty batch commits an empty (or unchanged) snapshot, not a crash
    assert(StreamingCdc.applyCdcBatch(t, 0L,
      Seq((1, "a", "I")).toDF("k", "v", "op"), Seq("k")))
    assert(StreamingCdc.applyCdcBatch(t, 1L, empty, Seq("k")))
    assert(t.read().as[(Long, String)].collect().toSet == Set((1L, "a")))
    // diffing identical snapshots emits nothing; empty-vs-empty too
    val snap = Seq((1L, "a")).toDF("k", "v")
    assert(Upsert.changeFeed(snap, snap, Seq("k")).count() == 0)
    val emptySnap = emptyDocs.select(col("doc_id").as("k"),
      col("text").as("v"))
    assert(Upsert.changeFeed(emptySnap, emptySnap, Seq("k")).count() == 0)
    assert(Upsert.changeFeed(emptySnap, snap, Seq("k"))
      .select("op").as[String].collect().toSeq == Seq("I"))
  }

  test("round-10 operators accept degenerate inputs: no conversions, " +
    "empty seeds/edges/pairs, empty claims' tables") {
    import graft.operators._
    val noEv = Seq.empty[(Long, Long, Long, String)]
      .toDF("event_id", "user_id", "us", "event_type")
      .select(col("event_id"), col("user_id"),
        timestamp_micros(col("us")).as("ts"), col("event_type"))
    // attribution: empty feed and a feed with ZERO conversions both
    // yield empty credit, not an error
    assert(Attribution.positionBased(noEv, "user_id", "ts", "event_id",
      col("event_type") === "purchase").count() == 0)
    val touchesOnly = Seq((1L, 1L, 10L, "view"), (2L, 1L, 20L, "click"))
      .toDF("event_id", "user_id", "us", "event_type")
      .select(col("event_id"), col("user_id"),
        timestamp_micros(col("us")).as("ts"), col("event_type"))
    assert(Attribution.positionBased(touchesOnly, "user_id", "ts",
      "event_id", col("event_type") === "purchase").count() == 0)
    // BFS: empty seed set and empty edge list
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val noSeeds = Seq.empty[Long].toDF("id")
    assert(LinkGraph.hopDistance(edges, noSeeds, 2).count() == 0)
    assert(LinkGraph.hopDistance(Seq.empty[(Long, Long)].toDF("src", "dst"),
      Seq(1L).toDF("id"), 2).as[(Long, Long)].collect().toSeq ==
      Seq((1L, 0L)), "seeds survive with hops 0 even on an empty graph")
    // personalized PR: empty seeds -> all-zero scores, not a crash
    val ppr = LinkGraph.personalizedPageRankMicros(edges, noSeeds, 2)
      .as[(Long, Long)].collect().toMap
    assert(ppr.values.forall(_ == 0L))
    // bipartite projection: empty edges, and a corpus of only hubs
    assert(LinkGraph.bipartiteProject(
      Seq.empty[(Long, Long)].toDF("ctx", "it"), "ctx", "it").count() == 0)
    assert(LinkGraph.bipartiteProject(
      Seq((1L, 1L), (1L, 2L), (1L, 3L)).toDF("ctx", "it"),
      "ctx", "it", maxDegree = 2).count() == 0,
      "a corpus whose every context is a hub projects to nothing")
    // leakage-safe split with NO pairs = everyone their own family
    val docs = spark.range(0, 10).select(col("id").as("doc_id"))
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val split = DatasetSplit.leakageSafeSplit(docs, "doc_id", noPairs)
    assert(split.count() == 10)
    assert(split.filter(col("component") =!= col("doc_id")).count() == 0)
    // jaccard PPJoin on an empty corpus
    assert(EntityResolution.trigramPairsJaccard(
      Seq.empty[(Long, String)].toDF("id", "name"), "id", "name",
      700000L).count() == 0)
    // fdCheck on an empty table: zero-violation report rows, not empty
    val got = DataQuality.fdCheck(
      Seq.empty[(Long, String)].toDF("k", "v"), Seq(("k", "v")))
      .as[(String, Long, Long, Long)].head()
    assert(got == (("k->v", 0L, 0L, 0L)))
  }

  test("round-11 operators accept degenerate inputs: oversized " +
    "patterns, null text, single-label and empty training sets, " +
    "constant embedding corpora") {
    // blocklist: pattern longer than every text; absent patterns
    val aut = AcAutomaton(Seq("averyverylongpatternnotpresent"))
    assert(aut.scan("short") == (0L, 0L))
    val twoDocs = Seq((1L, "a b"), (2L, "")).toDF("doc_id", "text")
    assert(Blocklist.tag(twoDocs, "text", Seq("zzz"))
      .filter(col("n_hits") =!= 0).count() == 0)
    // null text propagates null counts (callers coalesce if they want 0)
    val withNull = Seq((1L, "x"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val r = Blocklist.tag(withNull, "text", Seq("x"))
      .select(col("doc_id"), col("n_hits"))
      .as[(Long, Option[Long])].collect().toMap
    assert(r(1L).contains(1L) && r(2L).isEmpty)

    // NB: single-label corpus predicts that label everywhere; an
    // empty training set yields an empty model and empty scores
    val one = Seq((1L, "a b", "X"), (2L, "b c", "X"))
      .toDF("doc_id", "text", "lab")
      .select(col("doc_id"), col("lab"),
        TextFunctions.tokens(col("text")).as("ta"))
    val (w1, ls1) = NaiveBayes.train(one, col("ta"), col("lab"))
    val p = NaiveBayes.score(one, "doc_id", col("ta"), w1, ls1)
      .as[(Long, String, Long)].collect()
    assert(p.length == 2 && p.forall(_._2 == "X"))
    val noDocs = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "lab", "text")
      .select(col("doc_id"), col("lab"),
        TextFunctions.tokens(col("text")).as("ta"))
    val (w0, ls0) = NaiveBayes.train(noDocs, col("ta"), col("lab"))
    assert(w0.count() == 0 && ls0.count() == 0)
    assert(NaiveBayes.score(one, "doc_id", col("ta"), w0, ls0)
      .count() == 0)

    // LR: all-positive labels drive every weight up (gradient
    // (p − 1e6)·x < 0 on positive features); empty set → friendly require
    val feats = Seq((1000000L, Seq(1000000L, 500000L)),
      (1000000L, Seq(1000000L, 700000L))).toDF("y", "x")
    val hist = LogReg.train(feats, col("y"), col("x"), 2, 3, 300000L)
    assert(hist.last.forall(_ > 0L))
    val noFeats = Seq.empty[(Long, Seq[Long])].toDF("y", "x")
    intercept[IllegalArgumentException](
      LogReg.train(noFeats, col("y"), col("x"), 2, 1, 1L))
    // gradient-overflow guard: huge feature magnitudes shrink the
    // n·1e6·max|x| < 2⁶³ envelope to a handful of rows — training on
    // more must fail LOUDLY, never silently wrap the int64 gradient
    val big = Seq.tabulate(8)(i =>
      ((i % 2).toLong * 1000000L, Seq(1000000L, 4000000000000L)))
      .toDF("y", "x")
    val e = intercept[IllegalArgumentException](
      LogReg.train(big, col("y"), col("x"), 2, 1, 300000L))
    assert(e.getMessage.contains("overflow"), e.getMessage)

    // PCA: < 2 rows → friendly require; a constant corpus has zero
    // covariance → all eigenvalues 0 and whitening maps to exact 0
    val oneVec = Seq((1L, Seq(0.1f, 0.2f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException](
      Pca.fit(oneVec, col("embedding"), 2, 1))
    val const = Seq.tabulate(3)(i => (i.toLong, Seq(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val m = Pca.fit(const, col("embedding"), 2, 2)
    assert(m.eigenvalues.forall(v => math.abs(v) < 1e-12))
    val wpr = Pca.whiten(const, col("embedding"), m)
      .select(col("white")).as[Seq[Double]].collect()
    assert(wpr.forall(_.forall(_ == 0.0)))
  }

  test("two writers racing the SAME batch id: exactly one commit wins") {
    val t = new VersionedTable(spark, tmpDir("graft-race") + "/t")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val attempts = (1 to 4).map { round =>
        val fs = (0 until 2).map { w =>
          scala.concurrent.Future {
            t.commitBatch(round.toLong,
              Seq((round, w)).toDF("r", "writer"))
          }
        }
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(fs),
          scala.concurrent.duration.Duration(120, "s"))
      }
      attempts.foreach { results =>
        assert(results.count(identity) == 1,
          s"exactly one racer must win, got $results")
      }
      // every batch holds exactly ONE writer's row
      assert(t.readAll().groupBy(col("r")).count()
        .as[(Int, Long)].collect().forall(_._2 == 1))
    } finally pool.shutdown()
  }

  test("every staged-build artifact survives its publish rename " +
    "(no build-location paths persisted inside)") {
    // The bug class behind the round-7 q_s9_skipping break: an
    // artifact built in a Scratch staging sibling and renamed into
    // place must not have frozen its BUILD path into any persisted
    // file. Each artifact family builds through the real
    // staging+rename protocol here, then reads from the PUBLISHED
    // path only.
    val src = "/root/testdata/sf0.001/embeddings.parquet"
    val emb = spark.read.parquet(src)
    val queries = emb.filter(col("vec_id") < 4)

    // IVF float index: centroids/corpus/_ROWS all under the dir
    val ivfDir = tmpDir("stage-ivf") + "/idx"
    Ivf.ensureIndex(emb, src, ivfDir, k = 4, iters = 1)
    assert(Ivf.searchIndex(spark, ivfDir, queries, k = 3, nprobe = 4)
      .count() == 12)

    // IVF-PQ index: codebooks + coded corpus
    val pqDir = tmpDir("stage-pq") + "/idx"
    Ivf.ensureIndexPq(emb, src, pqDir, k = 4, iters = 1, pqM = 4)
    assert(Ivf.searchIndex(spark, pqDir, queries, k = 3, nprobe = 4,
      shortlist = Ivf.Shortlist.Pq())
      .count() == 12)

    // Layout + skipping manifest built INSIDE an ensureAt staging dir
    // (the exact r7 repro: the manifest must store names, not the
    // staging paths input_file_name() saw during the build)
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
    val layoutRoot = tmpDir("stage-layout") + "/t"
    graft.engine.Scratch.ensureAt(spark, layoutRoot,
      "/root/testdata/sf0.001/lineitem.parquet") { out =>
      val p = s"$out/li"
      graft.engine.Layout.writeRangeSorted(li, p, 8, col("l_orderkey"))
      graft.engine.Layout.writeFileStats(spark, p, Seq("l_orderkey"))
    }
    val pruned = graft.engine.Layout.prunedRead(spark, s"$layoutRoot/li",
      "l_orderkey", 100L, 400L).collect().map(_.toSeq).toSet
    val full = li.filter(col("l_orderkey").between(100L, 400L))
      .collect().map(_.toSeq).toSet
    assert(pruned == full,
      "manifest built under staging must resolve at the published path")
  }

  test("batch-commit TOCTOU, pinned: both racers past the exists check, " +
    "both rename, exactly one owns the commit") {
    // The natural race window (exists(genPath) → rename) is
    // sub-microsecond, so a free-running race passes even under the
    // round-7 double-commit bug. The beforeRename seam parks BOTH
    // writers at the window's edge: both provably pass the exists
    // check, both call rename (local-FS semantics move the loser's
    // staging INSIDE the winner's dir and return true), and the
    // ownership token must still certify exactly one. 20 rounds —
    // the pre-fix code fails this every round, not probabilistically.
    val t = new VersionedTable(spark, tmpDir("graft-race-pin") + "/t")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      (1 to 20).foreach { round =>
        val barrier = new java.util.concurrent.CyclicBarrier(2)
        val fs = (0 until 2).map { w =>
          scala.concurrent.Future {
            t.commitBatchAs("append", round.toLong,
              Seq((round, w)).toDF("r", "writer"),
              beforeRename = () => { barrier.await(60,
                java.util.concurrent.TimeUnit.SECONDS); () })
          }
        }
        val results = scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(fs),
          scala.concurrent.duration.Duration(120, "s"))
        assert(results.count(identity) == 1,
          s"round $round: exactly one racer must win, got $results")
      }
      // every committed batch holds exactly ONE writer's row — no
      // leftover nested staging dir, no unioned double data
      val perBatch = t.readAll().groupBy(col("r")).count()
        .as[(Int, Long)].collect()
      assert(perBatch.length == 20)
      assert(perBatch.forall(_._2 == 1),
        s"batches with extra rows: ${perBatch.filter(_._2 != 1).toSeq}")
    } finally pool.shutdown()
  }

  test("round-14 operators accept empty/degenerate inputs") {
    import graft.operators.{Anonymize, Conversations, Preference}
    val emptyAnn = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("p", LongType),
        StructField("a", LongType), StructField("b", LongType),
        StructField("pa", BooleanType), StructField("r", LongType))))
    // BT over zero votes: no items, no rounds to diverge
    assert(Preference.bradleyTerry(
      Preference.resolveAnnotations(emptyAnn, "p", "a", "b", "pa", "r"),
      "p").count() == 0)
    assert(Preference.dpoPairs(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("p", LongType),
          StructField("resp", LongType),
          StructField("strength_micros", LongType),
          StructField("n_wins", LongType),
          StructField("n_comparisons", LongType)))), "p").count() == 0)
    // t-closeness over an empty table and an all-null sensitive slice
    val emptyZip = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("zip", StringType),
        StructField("sev", LongType))))
    assert(Anonymize.tClosenessGroups(emptyZip, Seq("zip"), col("sev"),
      0L).count() == 0)
    val allNull = Seq(("A", null.asInstanceOf[java.lang.Long]),
      ("B", null.asInstanceOf[java.lang.Long])).toDF("zip", "sev")
    assert(Anonymize.tClosenessGroups(allNull, Seq("zip"), col("sev"),
      0L).count() == 0,
      "NULL sensitive is missing data — groups with no values drop " +
        "from the audit (the entropy-form rule), never crash")
    // truncation over an empty thread table
    val emptyMsgs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("c", LongType),
        StructField("t", LongType), StructField("role", StringType),
        StructField("x", StringType))))
    assert(Conversations.truncateToBudget(emptyMsgs, "c", "t", "role",
      "x", 10L).count() == 0)
    // quantile bands over empty and single-value inputs
    assert(DatasetSplit.quantileBands(
      emptyDocs.select(col("doc_id").as("v")), col("v"), 4).count() == 0)
    val one = Seq(1L, 1L, 1L).toDF("v")
    val bands = DatasetSplit.quantileBands(one, col("v"), 4)
      .select("band").as[Int].collect()
    assert(bands.forall(_ >= 1) && bands.distinct.length == 1,
      s"constant column must land in one band: ${bands.toSeq}")
  }
}
