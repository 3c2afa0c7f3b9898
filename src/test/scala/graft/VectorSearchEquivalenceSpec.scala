package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{Hnsw, Ivf, Pq, VectorSearchReference => Ref}
import graft.operators.Ivf.Shortlist

/** `Ivf.searchIndex` and `Hnsw.searchIndex` run one pipeline for every
  * encoding and filter. Each case here pins it equal, in rows, schema
  * and Spark job count, to the per-encoding body it replaced
  * ([[graft.operators.VectorSearchReference]]).
  */
class VectorSearchEquivalenceSpec extends SparkSpec {

  // 500 seeded 64-d gaussian vectors labelled 0..9, NULL on every 7th
  // id: a NULL predicate row must fail, and a NULL match value is a
  // query value
  private lazy val src: String = {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val p = tmpDir("vse-src")
    (0L until 500L)
      .map(id => (id, Seq.fill(64)(rnd.nextGaussian().toFloat),
        if (id % 7 == 0) None else Some((id * 31 % 10).toInt)))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(p)
    p
  }
  private def corpus: DataFrame = spark.read.parquet(src)
  private def queries: DataFrame = corpus.filter(col("vec_id") < 16)
  private lazy val n: Int = corpus.count().toInt

  // every caller-side model load goes through the stat-validated
  // caches both forms share; warm them so each side counts only its
  // own search jobs
  private def warm(path: String, pq: Boolean): String = {
    Ivf.loadModelCached(spark, s"$path/centroids")
    if (pq) Pq.loadModelCached(spark, s"$path/pq")
    path
  }

  // one index storing every build-time encoding beside the floats
  private lazy val ivfIdx: String = {
    val p = tmpDir("vse-ivf")
    Ivf.writeIndex(corpus, Ivf.train(corpus, k = 4, iters = 2), p,
      quantize = true, binarize = true, mrlDims = 4,
      pq = Some(Pq.train(corpus, m = 8, k = 16, iters = 4, sampleN = 1024)))
    warm(p, pq = true)
  }

  private lazy val resIdx: String = {
    val p = tmpDir("vse-res") + "/idx"
    Ivf.ensureIndexPqResidual(corpus, src, p, k = 4, iters = 2,
      pqM = 8, pqK = 16, pqIters = 4, pqSampleN = 1024)
    warm(p, pq = true)
  }

  private lazy val hnswIdx: String = {
    val p = tmpDir("vse-hnsw") + "/idx"
    Hnsw.ensureIndex(corpus, src, p, shards = 4, m = 8, efC = 32,
      attrCols = Seq("label"))
    warm(p, pq = false)
  }

  private val predicates: Seq[Option[Column]] =
    Seq(None, Some(col("label") < 5))

  /** `got` and `want` agree in schema and rows, and `got` runs
    * `jobDelta` more Spark jobs than `want` (none by default).
    */
  private def assertSame(tag: String, jobDelta: Int = 0)(
      got: => DataFrame, want: => DataFrame): Unit = {
    def run(df: => DataFrame) = jobsOf {
      val d = df
      (d.schema, d.collect().map(_.toSeq).toSeq.sortBy(_.toString))
    }
    val ((gSchema, gRows), gJobs) = run(got)
    val ((wSchema, wRows), wJobs) = run(want)
    assert(wRows.nonEmpty, s"$tag: construction — the reference is empty")
    assert(gSchema == wSchema, s"$tag: schema $gSchema vs $wSchema")
    assert(gRows == wRows, s"$tag: rows diverged")
    assert(gJobs == wJobs + jobDelta,
      s"$tag: $gJobs Spark jobs vs $wJobs, expected a difference of $jobDelta")
  }

  private def reference(idx: String, shortlist: Shortlist,
                        predicate: Option[Column],
                        nprobe: Int): DataFrame = shortlist match {
    case Shortlist.Exact => predicate.fold(
        Ref.searchIndex(spark, idx, queries, k = 5, nprobe = nprobe))(p =>
        Ref.searchIndexWhere(spark, idx, queries, p, k = 5, nprobe = nprobe))
    case Shortlist.Sq8(r) =>
      Ref.searchIndexCompressed(spark, idx, queries, predicate, 5, nprobe, r)
    case Shortlist.Binary(s) =>
      Ref.searchIndexBin(spark, idx, queries, predicate, 5, nprobe, s)
    case Shortlist.Pq(r) =>
      Ref.searchIndexPq(spark, idx, queries, predicate, 5, nprobe, r)
    case Shortlist.PqResidual(r) =>
      Ref.searchIndexPqResidual(spark, idx, queries, predicate, 5, nprobe, r)
    case Shortlist.Mrl(r) =>
      Ref.searchIndexMrl(spark, idx, queries, predicate, 5, nprobe, r)
  }

  test("IVF: every shortlist × predicate (None, label < 5 over NULL " +
    "labels) × nprobe (2, full) × shortlist length (default, " +
    "exhaustive) equals its per-encoding reference") {
    val cases =
      Seq(Shortlist.Exact, Shortlist.Sq8(), Shortlist.Sq8(n),
        Shortlist.Binary(), Shortlist.Binary(n), Shortlist.Pq(),
        Shortlist.Pq(n), Shortlist.Mrl(), Shortlist.Mrl(n))
        .map(_ -> ivfIdx) ++
      Seq(Shortlist.PqResidual(), Shortlist.PqResidual(n)).map(_ -> resIdx)
    for ((shortlist, idx) <- cases; p <- predicates; nprobe <- Seq(2, 4))
      assertSame(s"$shortlist predicate=${p.isDefined} nprobe=$nprobe")(
        Ivf.searchIndex(spark, idx, queries, k = 5, nprobe = nprobe,
          predicate = p, shortlist = shortlist),
        reference(idx, shortlist, p, nprobe))
  }

  test("IVF: searchIndexMatch with NULL query match values equals its " +
    "reference") {
    assert(queries.filter(col("label").isNull).count() > 0,
      "construction: some query carries a NULL label")
    val idx = ivfIdx // built outside the counted bodies
    // the match values ride the probe collect: the reference's own
    // distinct collect of them (a shuffle-stage job and a result job)
    // is gone
    for (nprobe <- Seq(2, 4))
      assertSame(s"match nprobe=$nprobe", jobDelta = -2)(
        Ivf.searchIndexMatch(spark, idx, queries, "label", k = 5,
          nprobe = nprobe),
        Ref.searchIndexMatch(spark, idx, queries, "label", k = 5,
          nprobe = nprobe))
  }

  test("HNSW: ef (0, 16) × predicate (None, label < 5) × nprobe " +
    "(2, full) equals the unfiltered and filtered references") {
    val idx = hnswIdx // built outside the counted bodies
    for (ef <- Seq(0, 16); p <- predicates; nprobe <- Seq(2, 4))
      assertSame(s"hnsw ef=$ef predicate=${p.isDefined} nprobe=$nprobe")(
        Hnsw.searchIndex(spark, idx, queries, k = 5, nprobe = nprobe,
          ef = ef, predicate = p),
        p.fold(Ref.hnswSearchIndex(spark, idx, queries, k = 5,
            nprobe = nprobe, ef = ef))(pred =>
          Ref.hnswSearchIndexWhere(spark, idx, queries, pred, k = 5,
            nprobe = nprobe, ef = ef)))
  }

  test("ShardGraph: the one level-0 traversal equals the unfiltered " +
    "and the filtered traversals it replaced") {
    val rnd = new scala.util.Random(5)
    val vecs = Array.fill(300)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val g = new Hnsw.ShardGraph((0L until 300L).toArray, vecs, m = 6)
    vecs.indices.foreach(i => g.insert(i, efC = 24))
    g.repair()
    val old = new Ref.Traversal(g)
    for (trial <- 0 until 20; ef <- Seq(0, 1, 4, 16)) {
      val q = Array.fill(16)(rnd.nextGaussian().toFloat)
      val keep = Array.fill(300)(rnd.nextDouble() < 0.2 + trial * 0.04)
      assert(g.search(q, ef).toSeq == old.search(q, ef).toSeq,
        s"unfiltered trial=$trial ef=$ef")
      assert(g.search(q, ef, keep(_)).toSeq ==
        old.searchWhere(q, ef, keep(_)).toSeq,
        s"filtered trial=$trial ef=$ef")
    }
  }
}
