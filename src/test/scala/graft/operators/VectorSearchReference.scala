package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.NativeExpressions.{cosine, nearestCentroids}

/** The stored-index searches as one body per encoding and per filter:
  * the IVF float, match, int8, binary, PQ, residual-PQ and MRL bodies,
  * and the HNSW unfiltered and filtered bodies with their own level-0
  * traversals. `Ivf.searchIndex` and `Hnsw.searchIndex` fold them into
  * one pipeline each; these forms are the reference they are pinned
  * equal to, in rows, schema and Spark job count.
  */
object VectorSearchReference {

  // ── IVF ────────────────────────────────────────────────────────────

  private def scoreAndRank(c: DataFrame, queries: DataFrame,
                           model: Ivf.IvfModel,
                           k: Int, nprobe: Int, idCol: String,
                           vecCol: String,
                           matchCol: Option[String] = None): DataFrame = {
    val qCols = Seq(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      explode(nearestCentroids(col(vecCol), model.centroids, nprobe))
        .as("cluster")) ++ matchCol.map(m => col(m).as("q_match"))
    val q = queries.select(qCols: _*)
    val joined = c.join(broadcast(q), Seq("cluster"))
      .filter(col("n_id") =!= col("q_id"))
    val matched = matchCol.fold(joined)(_ =>
      joined.filter(col("n_match") <=> col("q_match")))
    val scored = matched.select(col("q_id"), col("n_id"),
      cosine(col("q_vec"), col("n_vec")).as("cosine"))
    TopK.topKPerKey(scored, k)(c.sparkSession)
  }

  def searchIndex(spark: SparkSession, indexPath: String,
                  queries: DataFrame, k: Int, nprobe: Int = 2,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val model = Ivf.loadModelCached(spark, s"$indexPath/centroids")
    val probed = queries
      .select(explode(
        nearestCentroids(col(vecCol), model.centroids, nprobe)).as("cluster"))
      .distinct().collect().map(_.getInt(0))
    val c = spark.read.parquet(s"$indexPath/corpus")
      .filter(col("cluster").isin(probed.toIndexedSeq: _*))
      .select(col(idCol).as("n_id"), col(vecCol).as("n_vec"), col("cluster"))
    scoreAndRank(c, queries, model, k, nprobe, idCol, vecCol)
  }

  def searchIndexWhere(spark: SparkSession, indexPath: String,
                       queries: DataFrame, predicate: Column,
                       k: Int, nprobe: Int = 2,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val model = Ivf.loadModelCached(spark, s"$indexPath/centroids")
    val probed = queries
      .select(explode(
        nearestCentroids(col(vecCol), model.centroids, nprobe)).as("cluster"))
      .distinct().collect().map(_.getInt(0))
    val c = spark.read.parquet(s"$indexPath/corpus")
      .filter(col("cluster").isin(probed.toIndexedSeq: _*))
      .filter(predicate)
      .select(col(idCol).as("n_id"), col(vecCol).as("n_vec"), col("cluster"))
    scoreAndRank(c, queries, model, k, nprobe, idCol, vecCol)
  }

  def searchIndexMatch(spark: SparkSession, indexPath: String,
                       queries: DataFrame, matchCol: String,
                       k: Int, nprobe: Int = 2,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val model = Ivf.loadModelCached(spark, s"$indexPath/centroids")
    val probed = queries
      .select(explode(
        nearestCentroids(col(vecCol), model.centroids, nprobe)).as("cluster"))
      .distinct().collect().map(_.getInt(0))
    val qVals = queries.select(col(matchCol)).distinct().collect()
      .map(_.get(0)).toIndexedSeq
    val (nonNull, hasNull) = (qVals.filter(_ != null), qVals.contains(null))
    val attrFilter =
      if (hasNull) col(matchCol).isin(nonNull: _*) || col(matchCol).isNull
      else col(matchCol).isin(nonNull: _*)
    val c = spark.read.parquet(s"$indexPath/corpus")
      .filter(col("cluster").isin(probed.toIndexedSeq: _*))
      .filter(attrFilter)
      .select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
        col(matchCol).as("n_match"), col("cluster"))
    scoreAndRank(c, queries, model, k, nprobe, idCol, vecCol,
      matchCol = Some(matchCol))
  }

  def searchIndexPq(spark: SparkSession, indexPath: String,
                    queries: DataFrame, predicate: Option[Column],
                    k: Int, nprobe: Int, rescoreK: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val shortK = if (rescoreK > 0) math.max(rescoreK, k) else 4 * k
    val model = Ivf.loadModelCached(spark, s"$indexPath/centroids")
    val pq = Pq.loadModelCached(spark, s"$indexPath/pq")
    val probed = queries
      .select(explode(
        nearestCentroids(col(vecCol), model.centroids, nprobe)).as("cluster"))
      .distinct().collect().map(_.getInt(0))
    val corpusAll = spark.read.parquet(s"$indexPath/corpus")
      .filter(col("cluster").isin(probed.toIndexedSeq: _*))
    val corpus = predicate.fold(corpusAll)(p => corpusAll.filter(p))
    val cq = corpus.select(col(idCol).as("n_id"), col("pq_code"),
      col("pq_norm"), col("cluster"))
    val q = queries.select(col(idCol).as("q_id"),
      Pq.adcTable(col(vecCol), pq).as("__t"),
      explode(nearestCentroids(col(vecCol), model.centroids, nprobe))
        .as("cluster"))
    val cands = cq.join(broadcast(q), Seq("cluster"))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), Pq.approxScore(pq).as("cosine"))
    Pq.rescoreExact(cands, corpus, queries, k, shortK, idCol, vecCol)
  }

  def searchIndexPqResidual(spark: SparkSession, indexPath: String,
                            queries: DataFrame, predicate: Option[Column],
                            k: Int, nprobe: Int, rescoreK: Int,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val shortK = if (rescoreK > 0) math.max(rescoreK, k) else 4 * k
    val model = Ivf.loadModelCached(spark, s"$indexPath/centroids")
    val pq = Pq.loadModelCached(spark, s"$indexPath/pq")
    val probed = queries
      .select(explode(
        nearestCentroids(col(vecCol), model.centroids, nprobe)).as("cluster"))
      .distinct().collect().map(_.getInt(0))
    val corpusAll = spark.read.parquet(s"$indexPath/corpus")
      .filter(col("cluster").isin(probed.toIndexedSeq: _*))
    val corpus = predicate.fold(corpusAll)(p => corpusAll.filter(p))
    val cq = corpus.select(col(idCol).as("n_id"), col("pq_code"),
      col("pq_norm"), col("cluster"))
    val cands = Pq.residualCandidates(cq, queries, model, pq, nprobe,
      idCol, vecCol)
    Pq.rescoreExact(cands, corpus, queries, k, shortK, idCol, vecCol)
  }

  def searchIndexMrl(spark: SparkSession, indexPath: String,
                     queries: DataFrame, predicate: Option[Column],
                     k: Int, nprobe: Int, rescoreK: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val shortK = if (rescoreK > 0) math.max(rescoreK, k) else 4 * k
    val model = Ivf.loadModelCached(spark, s"$indexPath/centroids")
    val dims = ClusterStore.readCountFile(spark, s"$indexPath/_MRL_DIMS").getOrElse(
      sys.error(s"no _MRL_DIMS at $indexPath — not an ensureIndexMrl " +
        "artifact")).toInt
    val probed = queries
      .select(explode(
        nearestCentroids(col(vecCol), model.centroids, nprobe)).as("cluster"))
      .distinct().collect().map(_.getInt(0))
    val corpusAll = spark.read.parquet(s"$indexPath/corpus")
      .filter(col("cluster").isin(probed.toIndexedSeq: _*))
    val corpus = predicate.fold(corpusAll)(p => corpusAll.filter(p))
    val cm = corpus.select(col(idCol).as("n_id"), col("mrl"),
      col("cluster"))
    val q = queries
      .select(col(idCol).as("q_id"),
        slice(col(vecCol), 1, dims).as("q_pre"),
        explode(nearestCentroids(col(vecCol), model.centroids, nprobe))
          .as("cluster"))
    val approx = cm.join(broadcast(q), Seq("cluster"))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        cosine(col("q_pre"), col("mrl")).as("cosine"))
    val shortlist = TopK.topKPerKey(approx, shortK)(spark)
      .select(col("q_id"), col("n_id"))
    val exactVecs = corpus
      .select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
      .join(broadcast(shortlist), Seq("n_id"))
    val rescored = exactVecs
      .join(broadcast(queries.select(col(idCol).as("q_id"),
        col(vecCol).as("q_vec"))), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        cosine(col("q_vec"), col("n_vec")).as("cosine"))
    TopK.topKPerKey(rescored, k)(spark)
  }

  def searchIndexCompressed(spark: SparkSession, indexPath: String,
                            queries: DataFrame, predicate: Option[Column],
                            k: Int, nprobe: Int, rescoreK: Int,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val shortK = if (rescoreK > 0) math.max(rescoreK, k) else 4 * k
    val model = Ivf.loadModelCached(spark, s"$indexPath/centroids")
    val probed = queries
      .select(explode(
        nearestCentroids(col(vecCol), model.centroids, nprobe)).as("cluster"))
      .distinct().collect().map(_.getInt(0))
    val corpusAll = spark.read.parquet(s"$indexPath/corpus")
      .filter(col("cluster").isin(probed.toIndexedSeq: _*))
    val corpus = predicate.fold(corpusAll)(p => corpusAll.filter(p))
    val cq = corpus.select(col(idCol).as("n_id"),
      col("q8").cast("array<float>").as("n_q8"), col("cluster"))
    val q = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
        explode(nearestCentroids(col(vecCol), model.centroids, nprobe))
          .as("cluster"))
    val approx = cq.join(broadcast(q), Seq("cluster"))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        cosine(col("q_vec"), col("n_q8")).as("cosine"))
    val shortlist = TopK.topKPerKey(approx, shortK)(spark)
      .select(col("q_id"), col("n_id"))
    val exactVecs = corpus
      .select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
      .join(broadcast(shortlist), Seq("n_id"))
    val rescored = exactVecs
      .join(broadcast(queries.select(col(idCol).as("q_id"),
        col(vecCol).as("q_vec"))), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        cosine(col("q_vec"), col("n_vec")).as("cosine"))
    TopK.topKPerKey(rescored, k)(spark)
  }

  def searchIndexBin(spark: SparkSession, indexPath: String,
                     queries: DataFrame, predicate: Option[Column],
                     k: Int, nprobe: Int, shortlistK: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    import graft.functions.NativeExpressions.{signPack, hammingPacked}
    val model = Ivf.loadModelCached(spark, s"$indexPath/centroids")
    val probed = queries
      .select(explode(
        nearestCentroids(col(vecCol), model.centroids, nprobe)).as("cluster"))
      .distinct().collect().map(_.getInt(0))
    val corpusAll = spark.read.parquet(s"$indexPath/corpus")
      .filter(col("cluster").isin(probed.toIndexedSeq: _*))
    val corpus = predicate.fold(corpusAll)(p => corpusAll.filter(p))
    val cb = corpus.select(col(idCol).as("n_id"), col("b").as("nb"),
      col("cluster"))
    val q = queries
      .select(col(idCol).as("q_id"), signPack(col(vecCol)).as("qb"),
        explode(nearestCentroids(col(vecCol), model.centroids, nprobe))
          .as("cluster"))
    val approx = cb.join(broadcast(q), Seq("cluster"))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        (-hammingPacked(col("nb"), col("qb"))).cast("double").as("cosine"))
    val shortlist = TopK.topKPerKey(approx, math.max(shortlistK, k))(spark)
      .select(col("q_id"), col("n_id"))
    val exactVecs = corpus
      .select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
      .join(broadcast(shortlist), Seq("n_id"))
    val rescored = exactVecs
      .join(broadcast(queries.select(col(idCol).as("q_id"),
        col(vecCol).as("q_vec"))), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        cosine(col("q_vec"), col("n_vec")).as("cosine"))
    TopK.topKPerKey(rescored, k)(spark)
  }

  // ── HNSW ───────────────────────────────────────────────────────────

  /** The two level-0 traversals over a restored shard graph: `search`
    * (the classic layer search) and `searchWhere` (its ACORN-style
    * filtered copy), computed from the graph's public state.
    */
  final class Traversal(g: Hnsw.ShardGraph) {
    import g.{adj, entry, ids, levels, n, vecs}
    private val norms: Array[Double] = vecs.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
      math.sqrt(s)
    }

    private def simTo(i: Int, q: Array[Float], qNorm: Double): Double = {
      val v = vecs(i)
      val den = norms(i) * qNorm
      if (den == 0.0) return -2.0
      var s = 0.0; var j = 0
      while (j < v.length) { s += v(j).toDouble * q(j).toDouble; j += 1 }
      s / den
    }

    private def better(s1: Double, i1: Int, s2: Double, i2: Int): Boolean =
      s1 > s2 || (s1 == s2 && ids(i1) < ids(i2))

    private def searchLayer(q: Array[Float], qNorm: Double,
                            eps: Seq[Int], ef: Int, level: Int)
        : Array[(Double, Int)] = {
      val visited = new java.util.BitSet(n)
      val cand = new scala.collection.mutable.PriorityQueue[(Double, Int)]()(
        Ordering.by[(Double, Int), (Double, Long)](t => (t._1, -ids(t._2))))
      val res = new scala.collection.mutable.PriorityQueue[(Double, Int)]()(
        Ordering.by[(Double, Int), (Double, Long)](t => (-t._1, ids(t._2))))
      eps.foreach { e =>
        if (!visited.get(e)) {
          visited.set(e)
          val s = simTo(e, q, qNorm)
          cand.enqueue((s, e)); res.enqueue((s, e))
          if (res.size > ef) res.dequeue(): Unit
        }
      }
      while (cand.nonEmpty) {
        val (cs, c) = cand.dequeue()
        val worst = if (res.isEmpty) Double.NegativeInfinity else res.head._1
        if (res.size >= ef && !better(cs, c, worst, res.head._2)) {
          cand.clear()
        } else {
          adj(c)(level).foreach { nb =>
            if (!visited.get(nb)) {
              visited.set(nb)
              val s = simTo(nb, q, qNorm)
              if (res.size < ef ||
                  better(s, nb, res.head._1, res.head._2)) {
                cand.enqueue((s, nb)); res.enqueue((s, nb))
                if (res.size > ef) res.dequeue(): Unit
              }
            }
          }
        }
      }
      res.dequeueAll.reverse.toArray
    }

    private def greedyStep(q: Array[Float], qNorm: Double,
                           ep0: Int, level: Int): Int = {
      var ep = ep0
      var epSim = simTo(ep, q, qNorm)
      var improved = true
      while (improved) {
        improved = false
        adj(ep)(level).foreach { nb =>
          val s = simTo(nb, q, qNorm)
          if (better(s, nb, epSim, ep)) { ep = nb; epSim = s; improved = true }
        }
      }
      ep
    }

    private def descend(q: Array[Float]): (Double, Int) = {
      var qsq = 0.0
      var j = 0
      while (j < q.length) { qsq += q(j).toDouble * q(j).toDouble; j += 1 }
      val qn = math.sqrt(qsq)
      var ep = entry
      var lev = levels(entry)
      while (lev > 0) { ep = greedyStep(q, qn, ep, lev); lev -= 1 }
      (qn, ep)
    }

    def search(q: Array[Float], ef: Int): Array[Long] = {
      if (n == 0 || entry < 0) return Array.empty
      val (qn, ep) = descend(q)
      val effEf = if (ef <= 0) n else ef
      searchLayer(q, qn, Seq(ep, entry), effEf, 0).map(t => ids(t._2))
    }

    def searchWhere(q: Array[Float], ef: Int,
                    pass: Int => Boolean): Array[Long] = {
      if (n == 0 || entry < 0) return Array.empty
      val (qn, ep) = descend(q)
      val effEf = if (ef <= 0) n else ef
      val visited = new java.util.BitSet(n)
      val cand = new scala.collection.mutable.PriorityQueue[(Double, Int)]()(
        Ordering.by[(Double, Int), (Double, Long)](t => (t._1, -ids(t._2))))
      val res = new scala.collection.mutable.PriorityQueue[(Double, Int)]()(
        Ordering.by[(Double, Int), (Double, Long)](t => (-t._1, ids(t._2))))
      Seq(ep, entry).foreach { e =>
        if (!visited.get(e)) {
          visited.set(e)
          val s = simTo(e, q, qn)
          cand.enqueue((s, e))
          if (pass(e)) {
            res.enqueue((s, e))
            if (res.size > effEf) res.dequeue(): Unit
          }
        }
      }
      while (cand.nonEmpty) {
        val (cs, c) = cand.dequeue()
        val worst = if (res.isEmpty) Double.NegativeInfinity else res.head._1
        if (res.size >= effEf && !better(cs, c, worst, res.head._2)) {
          cand.clear()
        } else {
          adj(c)(0).foreach { nb =>
            if (!visited.get(nb)) {
              visited.set(nb)
              val s = simTo(nb, q, qn)
              if (res.size < effEf ||
                  better(s, nb, res.head._1, res.head._2)) {
                cand.enqueue((s, nb))
                if (pass(nb)) {
                  res.enqueue((s, nb))
                  if (res.size > effEf) res.dequeue(): Unit
                }
              }
            }
          }
        }
      }
      res.dequeueAll.reverse.toArray.map(t => ids(t._2))
    }
  }

  def hnswSearchIndex(spark: SparkSession, indexPath: String,
                      queries: DataFrame, k: Int, nprobe: Int = 2,
                      ef: Int = 64,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    import spark.implicits._
    val model = Ivf.loadModelCached(spark, s"$indexPath/centroids")
    val qRows = queries
      .select(col(idCol).cast("long").as("q_id"),
        col(vecCol).cast("array<float>").as("q_vec"),
        nearestCentroids(col(vecCol), model.centroids, nprobe).as("probe"))
      .as[(Long, Seq[Float], Seq[Int])]
      .collect()
    val byShard: Map[Int, Array[(Long, Array[Float])]] = qRows
      .flatMap { case (qid, v, probe) =>
        probe.map(c => (c, (qid, v.toArray)))
      }
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2) }
    val bq = spark.sparkContext.broadcast(byShard)
    val probed = byShard.keys.toSeq.sorted
    val graph = spark.read.parquet(s"$indexPath/graph")
      .filter(col("cluster").isin(probed: _*))
    val cands = graph
      .select(col("cluster"), col("vec_id"), col("vec"), col("adj"))
      .as[(Int, Long, Seq[Float], Seq[Seq[Long]])]
      .groupByKey(_._1)
      .flatMapGroups { (cl, it) =>
        val rows = it.toArray.sortBy(_._2)
        val ids = rows.map(_._2)
        val idToIdx = ids.zipWithIndex.toMap
        val g = new Hnsw.ShardGraph(ids, rows.map(_._3.toArray), m = 16,
          levelsIn = rows.map(_._4.length - 1))
        var i = 0
        while (i < g.n) {
          val stored = rows(i)._4
          var l = 0
          while (l < stored.length) {
            g.adj(i)(l).clear()
            g.adj(i)(l) ++= stored(l).iterator.flatMap(idToIdx.get(_))
            l += 1
          }
          i += 1
        }
        if (g.n > 0) {
          var best = 0
          i = 1
          while (i < g.n) {
            if (g.levels(i) > g.levels(best)) best = i
            i += 1
          }
          g.entry = best
        }
        val tr = new Traversal(g)
        bq.value.getOrElse(cl, Array.empty[(Long, Array[Float])])
          .iterator.flatMap { case (qid, qv) =>
            tr.search(qv, ef).iterator
              .filter(_ != qid)
              .map(nid => (qid, nid))
          }
      }
      .toDF("q_id", "n_id")
    val corpus = spark.read.parquet(s"$indexPath/graph")
      .filter(col("cluster").isin(probed: _*))
      .select(col("vec_id").as("n_id"), col("vec").as("n_vec"))
    val q = queries.select(col(idCol).cast("long").as("q_id"),
      col(vecCol).cast("array<float>").as("q_vec"))
    val scored = cands
      .join(corpus, Seq("n_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        cosine(col("q_vec"), col("n_vec")).as("cosine"))
    TopK.topKPerKey(scored, k)(spark)
  }

  def hnswSearchIndexWhere(spark: SparkSession, indexPath: String,
                           queries: DataFrame, predicate: Column,
                           k: Int, nprobe: Int = 2, ef: Int = 64,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame = {
    import spark.implicits._
    val model = Ivf.loadModelCached(spark, s"$indexPath/centroids")
    val qRows = queries
      .select(col(idCol).cast("long").as("q_id"),
        col(vecCol).cast("array<float>").as("q_vec"),
        nearestCentroids(col(vecCol), model.centroids, nprobe).as("probe"))
      .as[(Long, Seq[Float], Seq[Int])]
      .collect()
    val byShard: Map[Int, Array[(Long, Array[Float])]] = qRows
      .flatMap { case (qid, v, probe) =>
        probe.map(c => (c, (qid, v.toArray)))
      }
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2) }
    val bq = spark.sparkContext.broadcast(byShard)
    val probed = byShard.keys.toSeq.sorted
    val graph = spark.read.parquet(s"$indexPath/graph")
      .filter(col("cluster").isin(probed: _*))
    val cands = graph
      .select(col("cluster"), col("vec_id"), col("vec"), col("adj"),
        coalesce(predicate.cast("boolean"), lit(false)).as("__pass"))
      .as[(Int, Long, Seq[Float], Seq[Seq[Long]], Boolean)]
      .groupByKey(_._1)
      .flatMapGroups { (cl, it) =>
        val rows = it.toArray.sortBy(_._2)
        val ids = rows.map(_._2)
        val idToIdx = ids.zipWithIndex.toMap
        val pass = rows.map(_._5)
        val g = new Hnsw.ShardGraph(ids, rows.map(_._3.toArray), m = 16,
          levelsIn = rows.map(_._4.length - 1))
        var i = 0
        while (i < g.n) {
          val stored = rows(i)._4
          var l = 0
          while (l < stored.length) {
            g.adj(i)(l).clear()
            g.adj(i)(l) ++= stored(l).iterator.flatMap(idToIdx.get(_))
            l += 1
          }
          i += 1
        }
        if (g.n > 0) {
          var best = 0
          var i2 = 1
          while (i2 < g.n) {
            if (g.levels(i2) > g.levels(best)) best = i2
            i2 += 1
          }
          g.entry = best
        }
        val tr = new Traversal(g)
        bq.value.getOrElse(cl, Array.empty[(Long, Array[Float])])
          .iterator.flatMap { case (qid, qv) =>
            tr.searchWhere(qv, ef, i => pass(i)).iterator
              .filter(_ != qid)
              .map(nid => (qid, nid))
          }
      }
      .toDF("q_id", "n_id")
    val corpus = spark.read.parquet(s"$indexPath/graph")
      .filter(col("cluster").isin(probed: _*))
      .filter(coalesce(predicate.cast("boolean"), lit(false)))
      .select(col("vec_id").as("n_id"), col("vec").as("n_vec"))
    val q = queries.select(col(idCol).cast("long").as("q_id"),
      col(vecCol).cast("array<float>").as("q_vec"))
    val scored = cands
      .join(corpus, Seq("n_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        cosine(col("q_vec"), col("n_vec")).as("cosine"))
    TopK.topKPerKey(scored, k)(spark)
  }
}
