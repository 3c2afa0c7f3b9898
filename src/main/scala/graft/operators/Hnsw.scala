package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Commit
import graft.functions.NativeExpressions.{cosine, nearestCentroids}

/** Graph ANN: a sharded HNSW (Hierarchical Navigable Small World,
  * Malkov & Yashunin 2016) index — the standard recall/latency point
  * past the IVF-PQ ladder (round-10 VERDICT #6: residual-PQ's measured
  * recall@5 is 0.75 at a 64-of-500 shortlist; a navigable graph buys
  * recall back without widening the shortlist).
  *
  * DISTRIBUTION SHAPE — a navigable graph is an in-memory structure,
  * so the scale design is shard-per-IVF-cluster (the SPANN/partitioned-
  * HNSW hybrid): coarse k-means centroids route a query to its
  * `nprobe` nearest shards (hive partition pruning on the stored
  * graph, exactly [[Ivf.searchIndex]]'s pruning), and an independent
  * HNSW graph navigates WITHIN each shard. Per-shard build is genuine
  * per-partition imperative work — `flatMapGroups` is the correct
  * primitive (same category as the Multimodal codecs), and the ONLY
  * memory contract is that one shard's vectors fit one executor
  * (pick `shards` so a shard is a few GB; the coarse assignment
  * itself is one distributed pass, never a driver collect).
  *
  * DETERMINISM — the artifact is byte-stable so the index can be
  * oracle-gated: node levels derive from a splitmix64 hash of the
  * vector id (not a build-time RNG), insertion order is sorted-by-id
  * within a shard, and every heap ordering breaks ties by id. Two
  * builds of the same corpus produce identical adjacency.
  *
  * EXACTNESS ESCAPE HATCH — graph search with `ef <= 0` runs
  * unbounded: it visits every node REACHABLE from the entry point,
  * and the build finishes with a connectivity repair pass (BFS from
  * the entry; stragglers are linked to it), so unbounded search is
  * provably exhaustive within a shard. Full probe + unbounded ef +
  * exact rescore therefore shares the brute-force oracle at any
  * scale factor — the same trick every IVF gate uses — while finite
  * `ef` is the production path whose recall HnswSpec measures.
  *
  * Search scores are NOT the graph's float dots: traversal only
  * nominates candidates; the emitted cosine comes from the shared
  * [[graft.functions.NativeExpressions.cosine]] column over the
  * stored vectors, so ranking semantics are identical to
  * [[SimilaritySearch.bruteForceTopK]].
  */
object Hnsw {

  /** One stored graph node: its shard, id, vector, and per-level
    * neighbor ids (`adj(l)` = neighbors at level l; node's top level
    * = `adj.length - 1`). Neighbors are vector IDS, not positions —
    * rows reload in any order.
    */
  final case class GraphNode(cluster: Int, vec_id: Long,
                             vec: Seq[Float], adj: Seq[Seq[Long]])

  // ── deterministic level assignment ─────────────────────────────────

  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Geometric level from the id hash: floor(−ln(u)·mL), mL = 1/ln(m)
    * — the paper's distribution, but replayable from the id alone so
    * levels don't depend on build order or partitioning.
    */
  private[graft] def levelOf(id: Long, m: Int): Int = {
    val u = ((splitmix64(id) >>> 11).toDouble + 0.5) / (1L << 53).toDouble
    val mL = 1.0 / math.log(m.toDouble)
    math.floor(-math.log(u) * mL).toInt.min(30)
  }

  // ── the in-memory shard graph ──────────────────────────────────────

  /** Build/search state for ONE shard. `ids` must be sorted ascending
    * (the deterministic insertion order). All similarity math is
    * double over the float vectors in index order — replayed
    * identically at build and search. `levelsIn` restores a stored
    * graph's levels (a reloaded index must NOT re-derive them from
    * `m`, which may differ from the build's).
    */
  private[graft] final class ShardGraph(
      val ids: Array[Long], val vecs: Array[Array[Float]], m: Int,
      levelsIn: Array[Int] = null) {
    val n: Int = ids.length
    private val norms: Array[Double] = vecs.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
      math.sqrt(s)
    }
    val levels: Array[Int] =
      if (levelsIn != null) levelsIn else ids.map(levelOf(_, m))
    // adj(i)(l) for l in 0..levels(i)
    val adj: Array[Array[scala.collection.mutable.ArrayBuffer[Int]]] =
      Array.tabulate(n)(i => Array.fill(levels(i) + 1)(
        scala.collection.mutable.ArrayBuffer.empty[Int]))
    var entry: Int = -1

    private def simTo(i: Int, q: Array[Float], qNorm: Double): Double = {
      val v = vecs(i)
      val den = norms(i) * qNorm
      if (den == 0.0) return -2.0 // zero vectors rank last, consistently
      var s = 0.0; var j = 0
      while (j < v.length) { s += v(j).toDouble * q(j).toDouble; j += 1 }
      s / den
    }

    /** Higher sim first; ties → lower id first (total order). */
    private def better(s1: Double, i1: Int, s2: Double, i2: Int): Boolean =
      s1 > s2 || (s1 == s2 && ids(i1) < ids(i2))

    /** Classic layer search from `eps`: bounded best-first expansion,
      * result = up to `ef` best visited nodes passing `pass` (every
      * passing visited node when `ef >= n` — the exhaustive mode's
      * guarantee).
      *
      * FILTERED search routes through EVERY node: a failing node stays
      * a stepping stone (pre-filtering the graph would disconnect it
      * exactly when the predicate is selective, the failure mode
      * ACORN-style filtered ANN exists to avoid), but only passing
      * nodes are admitted to the result set, so `ef` budgets PASSING
      * results.
      */
    private def searchLayer(q: Array[Float], qNorm: Double,
                            eps: Seq[Int], ef: Int, level: Int,
                            pass: Int => Boolean = _ => true)
        : Array[(Double, Int)] = {
      val visited = new java.util.BitSet(n)
      // candidates: best first. results: worst first (for eviction).
      val cand = new scala.collection.mutable.PriorityQueue[(Double, Int)]()(
        Ordering.by[(Double, Int), (Double, Long)](t => (t._1, -ids(t._2))))
      val res = new scala.collection.mutable.PriorityQueue[(Double, Int)]()(
        Ordering.by[(Double, Int), (Double, Long)](t => (-t._1, ids(t._2))))
      eps.foreach { e =>
        if (!visited.get(e)) {
          visited.set(e)
          val s = simTo(e, q, qNorm)
          cand.enqueue((s, e))
          if (pass(e)) {
            res.enqueue((s, e))
            if (res.size > ef) res.dequeue(): Unit
          }
        }
      }
      while (cand.nonEmpty) {
        val (cs, c) = cand.dequeue()
        val worst = if (res.isEmpty) Double.NegativeInfinity else res.head._1
        // the frontier cutoff only applies once the PASSING budget is
        // met: with fewer than ef passing results every reachable
        // node is still a potential route to one
        if (res.size >= ef && !better(cs, c, worst, res.head._2)) {
          cand.clear() // every remaining candidate is no better
        } else {
          adj(c)(level).foreach { nb =>
            if (!visited.get(nb)) {
              visited.set(nb)
              val s = simTo(nb, q, qNorm)
              // expansion admits every unvisited node (routability);
              // the result heap admits only passing ones
              if (res.size < ef ||
                  better(s, nb, res.head._1, res.head._2)) {
                cand.enqueue((s, nb))
                if (pass(nb)) {
                  res.enqueue((s, nb))
                  if (res.size > ef) res.dequeue(): Unit
                }
              }
            }
          }
        }
      }
      res.dequeueAll.reverse.toArray // best first
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

    private def cap(level: Int): Int = if (level == 0) 2 * m else m

    /** The paper's SELECT-NEIGHBORS-HEURISTIC (Alg. 4), determinized:
      * walk candidates best-first and keep `e` only if it is strictly
      * closer to the anchor than to every already-kept neighbor — so
      * links spread across directions instead of piling into one
      * clump (the difference between a navigable graph and a near-
      * clique that greedy search can't escape). Discards back-fill
      * remaining capacity in order (keepPrunedConnections), so degree
      * — and with it reachability — never drops below the simple
      * top-cap rule's.
      */
    private def selectDiverse(cands: Seq[(Double, Int)],
                              limit: Int): Seq[Int] = {
      val sorted = cands.sortWith((a, b) => better(a._1, a._2, b._1, b._2))
      val kept = scala.collection.mutable.ArrayBuffer.empty[Int]
      val spill = scala.collection.mutable.ArrayBuffer.empty[Int]
      sorted.foreach { case (s, e) =>
        if (kept.length < limit) {
          val diverse = kept.forall { r =>
            s > simTo(r, vecs(e), norms(e))
          }
          if (diverse) kept += e else spill += e
        }
      }
      kept ++= spill.take(limit - kept.length)
      kept.toSeq
    }

    /** Keep a neighbor list within its degree cap via the diversity
      * heuristic (similarities measured to the list's owner).
      */
    private def prune(node: Int, level: Int): Unit = {
      val lst = adj(node)(level)
      if (lst.length > cap(level)) {
        val q = vecs(node); val qn = norms(node)
        val kept = selectDiverse(
          lst.toSeq.map(nb => (simTo(nb, q, qn), nb)), cap(level))
        lst.clear(); lst ++= kept
      }
    }

    def insert(i: Int, efC: Int): Unit = {
      if (entry < 0) { entry = i; return }
      val q = vecs(i); val qn = norms(i)
      val l = levels(i)
      var ep = entry
      var lev = levels(entry)
      while (lev > l) { ep = greedyStep(q, qn, ep, math.min(lev, levels(ep))); lev -= 1 }
      var eps: Seq[Int] = Seq(ep)
      var cur = math.min(l, levels(entry))
      while (cur >= 0) {
        val w = searchLayer(q, qn, eps, efC, cur)
        val neigh = selectDiverse(w.toSeq, m)
        neigh.foreach { nb =>
          adj(i)(cur) += nb
          adj(nb)(cur) += i
          prune(nb, cur)
        }
        eps = w.map(_._2).toSeq
        cur -= 1
      }
      if (l > levels(entry)) entry = i
    }

    /** Level-0 connectivity repair: BFS from the entry; any node the
      * graph cannot reach gets a direct bidirectional link to the
      * entry (uncapped — a repair link must never be pruned away).
      * After this pass, unbounded search from the entry visits every
      * node: the exhaustive-mode guarantee.
      */
    def repair(): Unit = {
      if (n == 0 || entry < 0) return
      val seen = new java.util.BitSet(n)
      val stack = new java.util.ArrayDeque[Integer]()
      seen.set(entry); stack.push(entry)
      while (!stack.isEmpty) {
        val c = stack.pop().intValue()
        adj(c)(0).foreach { nb =>
          if (!seen.get(nb)) { seen.set(nb); stack.push(nb) }
        }
      }
      var i = 0
      while (i < n) {
        if (!seen.get(i)) { adj(i)(0) += entry; adj(entry)(0) += i }
        i += 1
      }
    }

    /** Candidate ids for `q`: descend levels greedily, then layer-0
      * search with `ef` (`ef <= 0` → unbounded = exhaustive), admitting
      * only nodes passing `pass` to the result. Unbounded search visits
      * every node reachable from the entry — by repair's guarantee,
      * every node — so exhaustive filtered search is provably exact and
      * shares a brute-force oracle over the filtered slice.
      */
    def search(q: Array[Float], ef: Int,
               pass: Int => Boolean = _ => true): Array[Long] = {
      if (n == 0 || entry < 0) return Array.empty
      var qsq = 0.0
      var j = 0
      while (j < q.length) { qsq += q(j).toDouble * q(j).toDouble; j += 1 }
      val qn = math.sqrt(qsq)
      var ep = entry
      var lev = levels(entry)
      while (lev > 0) { ep = greedyStep(q, qn, ep, lev); lev -= 1 }
      val effEf = if (ef <= 0) n else ef
      // the ENTRY seeds level 0 alongside the descended ep: pruning
      // makes the level-0 graph a digraph, and the repair pass hangs
      // its rescue links off the entry — a descent that walks into a
      // pruned sink could otherwise never reach them (observed: a
      // tie-heavy clump pruned itself into a 9-node sink). With the
      // entry seeded, unbounded search visits everything reachable
      // from the entry = everything, by repair's guarantee.
      searchLayer(q, qn, Seq(ep, entry), effEf, 0, pass).map(t => ids(t._2))
    }
  }

  /** Build one shard's graph from its (id, vec) rows and emit the
    * stored form. Sorted insertion + hash levels + tie-broken heaps
    * make the output a pure function of the row SET.
    */
  private[graft] def buildShard(cluster: Int, rows: Iterator[(Long, Seq[Float])],
                         m: Int, efC: Int): Iterator[GraphNode] = {
    val sorted = rows.toArray.sortBy(_._1)
    val g = new ShardGraph(sorted.map(_._1),
      sorted.map(_._2.toArray), m)
    var i = 0
    while (i < g.n) { g.insert(i, efC); i += 1 }
    g.repair()
    (0 until g.n).iterator.map { i =>
      GraphNode(cluster, g.ids(i), sorted(i)._2,
        g.adj(i).toSeq.map(_.toSeq.map(g.ids(_)).sorted))
    }
  }

  /** Build every shard of `input` and CARRY the attribute columns
    * through the per-shard group (round-16 optimization): the attrs
    * ride the one shuffle the rebuild already pays instead of
    * re-joining onto the built graph afterwards — the join was the
    * measured majority of every attr-carrying rebuild (SMJ of the
    * heavy graph rows under the at-scale layout). Precedence is the
    * pinned delta-wins rule, resolved inside the group: every emitted
    * row of an id takes the attrs of the id's `__delta = true` row
    * when one exists (the newest write), else its stored row's — so
    * the tolerated re-appended-id state keeps exactly the semantics
    * the round-15 ADVICE fix gave the join form (HnswSpec pins it).
    *
    * `input` columns, in order: cluster (int), vec_id (long),
    * vec (array<float>), `__delta` (boolean), then `attrs`. With no
    * attrs the typed fast path is unchanged.
    */
  private[operators] def buildShardsCarryingAttrs(input: DataFrame,
      attrs: Seq[String], m: Int, efC: Int): DataFrame = {
    val spark = input.sparkSession
    import spark.implicits._
    if (attrs.isEmpty) {
      input.select(col("cluster"), col("vec_id"), col("vec"))
        .as[(Int, Long, Seq[Float])]
        .groupByKey(_._1)
        .flatMapGroups((cl, it) =>
          buildShard(cl, it.map(r => (r._2, r._3)), m, efC))
        .toDF()
    } else {
      import org.apache.spark.sql.types._
      val attrFields = attrs.map(a => input.schema(a))
      val outSchema = StructType(Seq(
        StructField("cluster", IntegerType, nullable = false),
        StructField("vec_id", LongType, nullable = false),
        StructField("vec", ArrayType(FloatType)),
        StructField("adj", ArrayType(ArrayType(LongType)))) ++ attrFields)
      val enc = org.apache.spark.sql.Encoders.row(outSchema)
      val nAttrs = attrs.length
      input.groupByKey(_.getInt(0))(org.apache.spark.sql.Encoders.scalaInt)
        .flatMapGroups { (cl: Int, it: Iterator[org.apache.spark.sql.Row]) =>
          val rows = it.toArray
          // id → attr values; a delta row overwrites (newest write
          // wins), a stored row only fills a gap. The epoch contract
          // is one delta row per id — conflicting duplicate delta
          // attrs for one id are malformed input here exactly as they
          // were for the join form.
          val attrOf = new java.util.HashMap[Long, Array[Any]](rows.length)
          rows.foreach { r =>
            val id = r.getLong(1)
            if (r.getBoolean(3)) {
              val av = new Array[Any](nAttrs)
              var k = 0
              while (k < nAttrs) { av(k) = r.get(4 + k); k += 1 }
              attrOf.put(id, av): Unit
            }
          }
          rows.foreach { r =>
            val id = r.getLong(1)
            if (!attrOf.containsKey(id)) {
              val av = new Array[Any](nAttrs)
              var k = 0
              while (k < nAttrs) { av(k) = r.get(4 + k); k += 1 }
              attrOf.put(id, av): Unit
            }
          }
          buildShard(cl,
            rows.iterator.map(r => (r.getLong(1), r.getSeq[Float](2))),
            m, efC).map { node =>
            org.apache.spark.sql.Row.fromSeq(
              Seq(node.cluster, node.vec_id, node.vec, node.adj) ++
                attrOf.get(node.vec_id))
          }
        }(enc)
    }
  }

  /** Shape `df`'s (cluster, id, vec, attrs) into
    * [[buildShardsCarryingAttrs]]'s input layout. */
  private[operators] def shardInput(df: DataFrame, clusterCol: Column,
      idCol: Column, vecCol: Column, delta: Boolean,
      attrs: Seq[String]): DataFrame =
    df.select(clusterCol.cast("int").as("cluster") +:
      idCol.cast("long").as("vec_id") +:
      vecCol.cast("array<float>").as("vec") +:
      lit(delta).as("__delta") +: attrs.map(col): _*)

  /** Build-if-stale the sharded HNSW artifact at `indexPath`:
    * `centroids` (the coarse router, [[Ivf]]'s format) +
    * `graph/cluster=N` (nodes with vectors and adjacency, one hive
    * partition per shard). Same freshness protocol as
    * [[Ivf.ensureIndex]] — rebuilt only when the source or a build
    * parameter changes.
    */
  def ensureIndex(df: DataFrame, sourcePath: String, indexPath: String,
                  shards: Int, m: Int = 16, efC: Int = 100,
                  iters: Int = 2, seed: Long = 42L,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding",
                  attrCols: Seq[String] = Nil): Unit =
    graft.engine.Scratch.ensureAt(df.sparkSession, indexPath, sourcePath,
      // structured numeric params FIRST, free-form values (paths,
      // column names) LAST: appendToIndex re-parses m/efC from this
      // marker with comma-anchored first-match regexes, so a path
      // like `/dim=64/` — or even a pathological `,m=9,` inside it —
      // can never shadow the genuine fields. `attrs` (the filtered-ANN
      // attribute columns stored on the graph rows) serializes before
      // the path for the same reason; empty attrs keeps the legacy
      // string so existing indexes stay fresh.
      fingerprint = s"hnsw,shards=$shards,m=$m,efC=$efC,iters=$iters," +
        s"seed=$seed," +
        (if (attrCols.isEmpty) "" else s"attrs=${attrCols.mkString("+")},") +
        s"idCol=$idCol,vecCol=$vecCol,src=$sourcePath",
      markerName = "_INDEX_READY") { dir =>
      val spark = df.sparkSession
      val model = Ivf.train(df, shards, iters, seed, idCol, vecCol)
      // the centroid write (a driver-local few-KB matrix) runs on a
      // side thread CONCURRENTLY with the graph build+write below —
      // independent jobs, one job latency instead of two (guide §2.6)
      val modelWrite = scala.concurrent.Future {
        Ivf.saveModel(spark, model, s"$dir/centroids")
      }(scala.concurrent.ExecutionContext.global)
      // attribute columns ride the graph rows themselves, CARRIED
      // through the build shuffle (round-16; the old post-build join
      // re-shuffled every heavy graph row), so a filtered search
      // evaluates its predicate scan-side on the shard it reads — no
      // side table, no second lookup at query time
      val out = buildShardsCarryingAttrs(
        shardInput(Ivf.assign(df, model, vecCol),
          col("cluster"), col(idCol), col(vecCol),
          delta = false, attrCols),
        attrCols, m, efC)
      out.write.partitionBy("cluster").mode("overwrite")
        .parquet(s"$dir/graph")
      scala.concurrent.Await.result(modelWrite,
        scala.concurrent.duration.Duration.Inf)
      // drift-meter base: build-time row count, the denominator of
      // appendedFraction. Footer-only — the graph was just written, no
      // data scan
      ClusterStore.stampBuild(spark, dir, "graph")
    }

  /** Build params (m, efC) and the attribute columns stored on the
    * graph rows, recovered from the index's own `_INDEX_READY`
    * fingerprint in one read, so maintenance ops can never silently
    * mix graph-shape regimes or drop attrs. Numeric fields are
    * anchored to a field delimiter on BOTH sides and first-match: an
    * unanchored "m=(\d+)" would bind inside the marker's embedded
    * source path (e.g. `/dim=64/` matches `m=64`) and silently rebuild
    * touched shards with the wrong m/efC, breaking the
    * append-equals-fresh-build bit-identity the gate pins. The attrs
    * parse is confined to the STRUCTURED PREFIX of the fingerprint
    * (everything before the genuine `,idCol=` field): a PLAIN index
    * has no attrs field at all, so a source path containing
    * `,attrs=foo` would otherwise be read as a real attribute column.
    */
  private[graft] final case class BuildParams(m: Int, efC: Int,
                                              attrs: Seq[String])

  private[graft] def buildParams(spark: SparkSession,
                                 indexPath: String): BuildParams = {
    val text = ClusterStore.readMarker(spark, indexPath).getOrElse(
      throw new IllegalArgumentException(s"no HNSW index at $indexPath"))
    def param(k: String): Int =
      s"(?:^|,)${java.util.regex.Pattern.quote(k)}=(\\d+)(?=,|$$)".r
        .findFirstMatchIn(text)
        .map(_.group(1).toInt)
        .getOrElse(sys.error(s"index marker lacks $k: $text"))
    val structured = text.indexOf(",idCol=") match {
      case -1 => text // legacy marker shape: no free-form tail
      case i  => text.substring(0, i)
    }
    BuildParams(param("m"), param("efC"),
      "(?:^|,)attrs=([^,]*)(?=,|$)".r.findFirstMatchIn(structured)
        .map(_.group(1).split('+').filter(_.nonEmpty).toSeq)
        .getOrElse(Nil))
  }

  /** The graph side of a [[ClusterStore.mutate]]: a touched shard
    * rebuilds whole from its surviving rows and the delta rows routed
    * to it ([[buildShardsCarryingAttrs]], attrs carried with the
    * delta-wins precedence), so the delta's shards join the rebuild
    * set. They come from `clustersHint` when the caller already
    * assigned the delta on the driver (the streaming route probe —
    * the same static kernel as the distributed assign, bit-identical,
    * UpsertFusionSpec), else from one distinct-scan job.
    */
  private def graph(spark: SparkSession, indexPath: String,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    clustersHint: Option[Array[Int]] = None)
      : ClusterStore.Engine = new ClusterStore.Engine {
    private lazy val b = buildParams(spark, indexPath)
    val dataDir = "graph"
    override def survivors(stored: DataFrame): DataFrame =
      shardInput(stored, col("cluster"), col("vec_id"), col("vec"),
        delta = false, b.attrs)
    override def rebuild(rows: DataFrame): DataFrame =
      buildShardsCarryingAttrs(rows, b.attrs, b.m, b.efC)
    def stage(delta: DataFrame, stored: Option[DataFrame]) = {
      // an attribute-carrying index (filtered ANN) requires the delta
      // to carry its attrs: a silent null-fill would make the new rows
      // invisible to every predicate
      val missing = b.attrs.filterNot(delta.columns.contains)
      require(missing.isEmpty,
        s"index at $indexPath stores attribute column(s) " +
          s"${b.attrs.mkString(",")}; the delta lacks ${missing.mkString(",")}")
      val model = Ivf.loadModelCached(spark, s"$indexPath/centroids")
      val assigned = shardInput(
        Ivf.assign(delta.filter(col(vecCol).isNotNull), model, vecCol),
        col("cluster"), col(idCol), col(vecCol), delta = true, b.attrs)
      ClusterStore.Staged(assigned, Some(clustersHint.getOrElse(
        assigned.select(col("cluster")).distinct()
          .collect().map(_.getInt(0)))))
    }
  }

  /** Incremental index growth (the FAISS `add` shape, like
    * [[Ivf.appendToIndex]]): new vectors route through the EXISTING
    * centroids (no retrain), and only the TOUCHED shards rebuild —
    * an untouched shard's files are not rewritten. Because
    * [[buildShard]] is a pure function of the shard's row SET (sorted
    * insertion, hash levels, tie-broken heaps), append-then-search is
    * BIT-IDENTICAL to a fresh build over the union — HnswSpec pins
    * that equality — so appends never degrade the graph the way
    * in-place insertion into a pruned graph can. Cost is O(touched
    * shard), the price of canonical equality; build parameters (m,
    * efC) come from the index's own `_INDEX_READY` fingerprint, so an
    * append can never silently mix graph-shape regimes.
    */
  def appendToIndex(df: DataFrame, indexPath: String,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): Unit =
    ClusterStore.mutate(df.sparkSession, indexPath,
      graph(df.sparkSession, indexPath, idCol, vecCol),
      doomed = None, delta = Some(df)): Unit

  // ── drift / imbalance meters (round-11 VERDICT #6) ─────────────────

  /** Per-shard row counts read from parquet FOOTERS only
    * ([[ClusterStore.clusterRows]]) — a driver metadata walk, never a
    * data scan. HNSW needs per-shard resolution because its memory
    * contract is PER-SHARD ("one shard's vectors fit one executor"): a
    * global row count can look healthy while routing drift funnels
    * every append into one shard.
    */
  def footerShardSizes(spark: SparkSession,
                       indexPath: String): Map[Int, Long] =
    ClusterStore.clusterRows(spark, s"$indexPath/graph")

  /** The build-time row count (`_ROWS_BASE`) — the drift meter's
    * denominator, exposed for callers that want the raw integers
    * (e.g. a lifecycle gate computing an exact ppm).
    */
  def baseRowCount(spark: SparkSession, indexPath: String): Option[Long] =
    ClusterStore.readCountFile(spark, s"$indexPath/_ROWS_BASE")

  /** Appended-since-build fraction — the same meter as
    * [[Ivf.appendedFraction]] ([[ClusterStore.appendedFraction]]):
    * (live − base) / base, 0.0 for a fresh build.
    */
  def appendedFraction(spark: SparkSession, indexPath: String): Double =
    ClusterStore.appendedFraction(spark, indexPath, "graph")

  /** Largest-shard skew: max shard rows / mean shard rows (1.0 =
    * perfectly even, ∞-ish = one shard owns the corpus). Footer-only.
    * 0.0 for an empty/missing graph.
    */
  def shardImbalance(spark: SparkSession, indexPath: String): Double = {
    val sizes = footerShardSizes(spark, indexPath).values
    if (sizes.isEmpty || sizes.sum == 0L) 0.0
    else sizes.max.toDouble * sizes.size / sizes.sum
  }

  /** The operable rebuild trigger ([[Ivf.needsRebuild]]'s twin, with
    * the per-shard axis HNSW adds): fire when appended mass stops
    * being a minority of the index (same measured 0.5 default and
    * rationale as IVF — the router IS an IVF centroid set, so the
    * frozen-centroid drift table transfers verbatim), OR when one
    * shard has grown past `maxShardSkew`× the even share.
    *
    * What the skew axis protects is NOT recall — the measured table
    * (NOTES round-12, `hnsw-imbalance`: targeted appends funneled
    * into one shard of a planted-cluster corpus) shows frozen-index
    * recall@5 at the fixed nprobe=2/ef=64 budget holding 1.000 all
    * the way to 4.5× skew, because graph navigation within a shard
    * degrades only logarithmically with shard size. The operative
    * costs are the two LINEAR ones: (a) the per-shard memory
    * contract — one shard's vectors must fit one executor, and a
    * shard at S× the even share needs S× the planned headroom — and
    * (b) append latency — appendToIndex rebuilds the TOUCHED shard,
    * so a hot shard makes every append to it cost O(S·evenShare)
    * (measured: append wall 1.0 → 2.1 s as the hot shard grew 2× at
    * constant batch size). 4.0 marks a shard owning half a 8-shard
    * index's rows — past any sane headroom plan. The same run also
    * measured the rebalancing trade: a retrain splits the fat
    * natural cluster across shards, restoring skew to ~1.5 but
    * costing ~0.1 recall at the SAME nprobe=2 (its mass now spans
    * more shards than the probe budget) — so the trigger's rebuild
    * should bump nprobe or shard count along with the retrain when
    * the hot mass is one semantic cluster. Rebuild = re-run
    * [[ensureIndex]] after deleting the marker, or bump any
    * fingerprint parameter; both retrain the router and restamp the
    * base.
    */
  def needsRebuild(spark: SparkSession, indexPath: String,
                   maxAppendedFraction: Double = 0.5,
                   maxShardSkew: Double = 4.0): Boolean =
    appendedFraction(spark, indexPath) > maxAppendedFraction ||
      shardImbalance(spark, indexPath) > maxShardSkew

  /** The shard holding the most rows (footer-only). None on an
    * empty/missing graph.
    */
  def hottestShard(spark: SparkSession, indexPath: String): Option[Int] = {
    val sizes = footerShardSizes(spark, indexPath)
    if (sizes.isEmpty) None
    // total order on ties → deterministic maintenance decisions
    else Some(sizes.minBy { case (cl, n) => (-n, cl) }._1)
  }

  /** What the fired trigger should actually DO (round-12 VERDICT #4:
    * the measured recall trade was documented but the trigger didn't
    * act on it). The axes demand different remedies:
    *
    *  - APPEND axis → [[Retrain]]: appended mass is distributed
    *    drift, the router is stale everywhere; re-run [[ensureIndex]]
    *    over the union. When the skew axis fired TOO, the hot mass is
    *    (also) one semantic cluster that the retrained router will
    *    scatter across shards — the round-12 measured trade: skew
    *    restored to ~1.5 but recall@5 −~0.1 at FIXED nprobe=2,
    *    because the cluster's mass then spans more shards than the
    *    probe budget. `nprobeDelta = 1` carries the compensation: the
    *    caller bumps its search budget by one probe alongside the
    *    retrain (HnswSpec measures that the compensated budget
    *    restores ≥ the pre-rebuild recall).
    *  - SKEW axis alone → [[SplitHot]]: nothing is stale — one
    *    natural cluster is fat. Splitting ONLY that shard in place
    *    ([[splitShard]]) restores the per-shard memory/append-latency
    *    contracts without touching the rest of the index OR the
    *    recall budget: the hot mass stays together under two
    *    adjacent sub-centroids instead of being scattered.
    */
  sealed trait Remedy
  case object NoRebuild extends Remedy
  final case class Retrain(nprobeDelta: Int) extends Remedy
  final case class SplitHot(cluster: Int) extends Remedy

  def rebuildRemedy(spark: SparkSession, indexPath: String,
                    maxAppendedFraction: Double = 0.5,
                    maxShardSkew: Double = 4.0): Remedy = {
    val append = appendedFraction(spark, indexPath) > maxAppendedFraction
    val skew = shardImbalance(spark, indexPath) > maxShardSkew
    if (append) Retrain(if (skew) 1 else 0)
    else if (skew)
      hottestShard(spark, indexPath).map(SplitHot).getOrElse(NoRebuild)
    else NoRebuild
  }

  /** Delete vectors from an existing graph index — the maintenance
    * complement of [[appendToIndex]], [[Ivf.deleteFromIndex]]'s graph
    * twin: only shards that actually hold matching rows REBUILD
    * (from their remaining row set — [[buildShard]] being a pure
    * function of the set, the rebuilt shard is bit-identical to a
    * fresh build over the survivors, so deletion never leaves the
    * dangling-edge holes an in-place graph unlink does), untouched
    * shards keep their files. Attribute columns ride the rebuild
    * from the surviving rows. Rows whose predicate evaluates NULL
    * are KEPT (delete means provably matching); a shard deleted to
    * empty loses its directory. Cost O(touched shards). Returns rows
    * deleted.
    */
  def deleteFromIndex(spark: SparkSession, indexPath: String,
                      predicate: org.apache.spark.sql.Column): Long =
    ClusterStore.mutate(spark, indexPath, graph(spark, indexPath),
      Some(ClusterStore.Where(predicate)), delta = None)

  /** [[deleteFromIndex]] against a DISTRIBUTED id relation — the
    * graph twin of [[Ivf.deleteIdsFromIndex]] (round-15 VERDICT #4):
    * semi-join selects the doomed rows, anti-join the survivors, so a
    * bulk tombstone epoch never becomes a driver-side `isin` literal
    * list. Same touched-shard canonical rebuild, same emptied-shard
    * removal, same return contract.
    */
  def deleteIdsFromIndex(spark: SparkSession, indexPath: String,
                         ids: org.apache.spark.sql.DataFrame,
                         idCol: String = "vec_id"): Long =
    ClusterStore.mutate(spark, indexPath, graph(spark, indexPath),
      Some(storedIds(ids, idCol)), delta = None)

  /** `ids` as a selection over the graph's own `vec_id` column. */
  private def storedIds(ids: DataFrame, idCol: String): ClusterStore.Ids =
    ClusterStore.Ids(ids.select(col(idCol).as("vec_id")), "vec_id")

  /** Fused DELETE-THEN-APPEND — one CDC epoch against the graph index
    * in a SINGLE touched-shard rebuild. [[deleteFromIndex]] followed
    * by [[appendToIndex]] rebuilds every shard touched by both halves
    * TWICE ([[buildShard]] is the dominant per-epoch cost); because
    * buildShard's output is a pure function of the row SET,
    * rebuilding once from (survivors ∪ assigned delta) produces the
    * byte-identical final graph — same rows, same adjacency, same
    * meters (UpsertFusionSpec pins the equivalence; the
    * q_v_stream_hnsw* oracles check it end to end). Shards touched by
    * neither half keep their files byte-identical. `deltaRowsHint`
    * (the delta's non-null-vector row count) restamps `_ROWS` by
    * arithmetic; `deltaClustersHint` (the delta's driver-assigned
    * shards) saves the distinct-scan job. Returns the number of rows
    * deleted.
    */
  def upsertToIndex(spark: SparkSession, indexPath: String,
                    predicate: org.apache.spark.sql.Column,
                    delta: org.apache.spark.sql.DataFrame,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    deltaRowsHint: Option[Long] = None,
                    deltaClustersHint: Option[Array[Int]] = None): Long =
    ClusterStore.mutate(spark, indexPath,
      graph(spark, indexPath, idCol, vecCol, deltaClustersHint),
      Some(ClusterStore.Where(predicate)), Some(delta), deltaRowsHint)

  /** [[upsertToIndex]] with the touched ids as a DISTRIBUTED relation
    * — the bulk-epoch form; see [[deleteIdsFromIndex]].
    */
  def upsertIdsToIndex(spark: SparkSession, indexPath: String,
                       ids: org.apache.spark.sql.DataFrame,
                       delta: org.apache.spark.sql.DataFrame,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): Long =
    ClusterStore.mutate(spark, indexPath, graph(spark, indexPath, idCol, vecCol),
      Some(storedIds(ids, idCol)), Some(delta))

  /** Split ONE hot shard in place — the skew remedy (the append-side
    * dual of a compaction: cost is O(hot shard), no other shard is
    * read or written, and the row SET is untouched). 2-means inside
    * the shard; the router KEEPS centroid `cluster` (now sub-centroid
    * 0) and GAINS sub-centroid 1 at the next free id; the shard's
    * rows rebuild into the two sub-graphs via the same canonical
    * [[buildShard]] (build params from the index's own marker).
    *
    * Because the split only refines the routing partition, exhaustive
    * search (full probe + unbounded ef) over the split index is still
    * provably exact — q_v_hnsw_split shares the brute-force oracle on
    * exactly that premise. And because the fat natural cluster stays
    * TOGETHER under two adjacent sub-centroids, recall at a fixed
    * nprobe budget holds (HnswSpec: within 0.02 of pre-split) where a
    * full retrain measurably loses ~0.1 by scattering it.
    *
    * Single-writer maintenance op (same contract as appendToIndex):
    * both sub-shards and the widened router publish in one commit, graph
    * first, so a concurrent reader in that window sees the OLD router
    * and probes `cluster` for only its sub-0 rows — the transient
    * under-probe any nightly-maintenance deployment accepts.
    * `_ROWS`/`_ROWS_BASE` are untouched: the meters track appends,
    * and a split neither adds rows nor resets drift.
    *
    * Degenerate shard (all-identical vectors): 2-means leaves one
    * sub-cluster empty; the new partition is simply not written and
    * the extra centroid routes alongside its twin — harmless, and the
    * split is a no-op as it should be. Returns the new shard id.
    */
  def splitShard(spark: SparkSession, indexPath: String, cluster: Int,
                 iters: Int = 4, seed: Long = 42L): Int = {
    ClusterStore.recover(spark, s"$indexPath/graph")
    val b = buildParams(spark, indexPath)
    val model = Ivf.loadModelCached(spark, s"$indexPath/centroids")
    require(cluster >= 0 && cluster < model.centroids.length,
      s"no shard $cluster in a ${model.centroids.length}-shard index")
    val shardAll = spark.read.parquet(s"$indexPath/graph")
      .filter(col("cluster") === cluster)
    val shard = shardAll.select(col("vec_id").as("id"), col("vec"))
    val sub = Ivf.train(shard, k = 2, iters = iters, seed = seed,
      idCol = "id", vecCol = "vec")
    val newId = model.centroids.length
    // an attribute-carrying index keeps its attrs through the split,
    // CARRIED through the rebuild's own shuffle (round-16; the old
    // vec_id-only post-build join both re-shuffled every heavy row
    // and could fan out duplicated rows in the tolerated
    // re-appended-id state — the same shape the round-15 ADVICE fixed
    // on the delete path)
    val rebuilt = buildShardsCarryingAttrs(
      shardInput(
        shardAll.withColumn("__newcl",
          when(element_at(
            nearestCentroids(col("vec"), sub.centroids, 1), 1) === 0,
            lit(cluster)).otherwise(lit(newId))),
        col("__newcl"), col("vec_id"), col("vec"),
        delta = false, b.attrs),
      b.attrs, b.m, b.efC)
    // one commit publishes both halves AND the widened router, a fresh
    // centroid dir that loadModelCached serves immediately
    ClusterStore.rewriteSwapWith(spark, s"$indexPath/graph", rebuilt,
      Array(cluster, newId), appendExtras = false) { staging =>
      val router = new Path(staging, "centroids")
      Ivf.saveModel(spark, Ivf.IvfModel(model.centroids.updated(cluster,
        sub.centroids(0)) :+ sub.centroids(1)), router.toString)
      Seq(Commit.Swap(Some(router), new Path(s"$indexPath/centroids"),
        new Path(staging, "_old/centroids")))
    }
    newId
  }

  /** [[splitShard]] iterated until the imbalance meter reads
    * ≤ `maxShardSkew`, `maxSplits` splits are spent, or no eligible
    * shard remains. Returns the number of splits performed.
    *
    * `recallSafe = true` (default): a shard touched THIS call — as
    * split source or as the new sub-shard — is never split again, so
    * each natural cluster partitions AT MOST 2-way per maintenance
    * window. That is the measured recall boundary (NOTES
    * `hnsw-imbalance`, round 13): hot-region queries at nprobe=2
    * route to both sub-centroids of a 2-way split (recall held
    * 0.983–1.000), but a 3-or-more-way partition of one natural
    * cluster outgrows the probe budget exactly like the retrain
    * redistribution does (measured 0.813 at fixed nprobe=2 after
    * splitting the hot cluster to a skew-2.0 target). Successive
    * windows converge while appends keep arriving, each one
    * recall-safe.
    *
    * `recallSafe = false`: split to the target regardless — the
    * memory-emergency mode for when the per-shard executor contract
    * is ABOUT to break; the caller must bump nprobe alongside, the
    * same compensation contract as [[Retrain]]'s `nprobeDelta`. A
    * shard whose split makes no progress (near-identical vectors —
    * no split spreads a point mass) is excluded from re-selection
    * instead of spinning.
    */
  def rebalance(spark: SparkSession, indexPath: String,
                maxShardSkew: Double = 4.0, maxSplits: Int = 8,
                recallSafe: Boolean = true): Int = {
    val skip = scala.collection.mutable.Set.empty[Int]
    var n = 0
    while (n < maxSplits &&
        shardImbalance(spark, indexPath) > maxShardSkew) {
      // ONLY the current hottest shard is worth splitting: splitting
      // any other shard cannot lower the max and (by growing the
      // shard count) RAISES the max/mean ratio. So when the hottest
      // is off-limits — already 2-way split this window (recallSafe)
      // or a proven point mass — the loop is done, not redirected.
      val sizes = footerShardSizes(spark, indexPath)
      if (sizes.isEmpty) return n
      val h = sizes.minBy { case (cl, sz) => (-sz, cl) }._1
      if (skip(h)) return n
      val before = sizes(h)
      val newId = splitShard(spark, indexPath, h)
      n += 1
      if (recallSafe) { skip += h; skip += newId }
      else if (footerShardSizes(spark, indexPath).getOrElse(h, 0L)
          >= before)
        skip += h
    }
    n
  }

  /** Files per graph shard ([[ClusterStore.filesPerCluster]]) — the
    * fragmentation meter: every maintenance rewrite of a touched shard
    * can land more than one file, and at 100 TB a daily-ingest index
    * degrades into KB-scale files whose open/footer overhead dominates
    * the scan.
    */
  def filesPerShard(spark: SparkSession,
                    indexPath: String): Map[Int, Int] =
    ClusterStore.filesPerCluster(spark, s"$indexPath/graph")

  /** The operable compaction trigger: true once any shard holds more
    * than `maxFilesPerShard` files — layout health, not content
    * health; [[compactShards]] is the remedy.
    */
  def needsCompaction(spark: SparkSession, indexPath: String,
                      maxFilesPerShard: Int = 16): Boolean =
    ClusterStore.needsCompaction(spark, s"$indexPath/graph", maxFilesPerShard)

  /** Rewrite fragmented graph shards into one file each —
    * [[Ivf.compactIndex]]'s graph twin ([[ClusterStore.compact]]).
    * Content-invisible by construction: the graph adjacency is stored
    * PER ROW ([[GraphNode]] carries its neighbor lists), so compaction
    * moves rows between files without rebuilding anything. Returns the
    * number of compacted shards.
    */
  def compactShards(spark: SparkSession, indexPath: String): Int =
    ClusterStore.compact(spark, s"$indexPath/graph")
  /** What [[maintain]] did and what it could not do itself —
    * [[Ivf.MaintenanceReport]]'s graph sibling, with the extra axes
    * HNSW has: splits performed (the skew remedy the autopilot CAN
    * take) and the nprobe compensation a reported retrain carries.
    */
  final case class MaintenanceReport(compactedShards: Int,
                                     splits: Int,
                                     appendedFraction: Double,
                                     shardImbalance: Double,
                                     needsRetrain: Boolean,
                                     nprobeDelta: Int)

  /** The graph-side maintenance autopilot — [[Ivf.maintain]]'s HNSW
    * sibling, unifying the meters ([[filesPerShard]],
    * [[appendedFraction]], [[shardImbalance]]) with the remedies
    * ([[compactShards]], [[rebalance]]/[[splitShard]],
    * [[rebuildRemedy]]) under the act-vs-report split:
    *
    *  - COMPACT when fragmented — always safe, content-invisible.
    *  - SPLIT/REBALANCE when only the skew axis fired — safe within
    *    the measured recall boundary ([[rebalance]] with
    *    `recallSafe = true`: each natural cluster partitions at most
    *    2-way per maintenance window, the NOTES `hnsw-imbalance`
    *    measurement; successive windows converge).
    *  - REPORT a retrain when the append axis fired — a retrain
    *    re-fits the router, which only the owner of the build
    *    parameters can do ([[ensureIndex]] with a bumped
    *    fingerprint), so the autopilot never does it silently;
    *    `nprobeDelta` carries the measured probe-budget compensation
    *    exactly as [[rebuildRemedy]]'s [[Retrain]] does.
    *
    * Meters in the report are read AFTER acting, so a caller logging
    * the report sees the post-maintenance state (imbalance after the
    * splits, not before). One listing + count-file reads when
    * healthy; O(fragmented + hot shards) when acting.
    */
  def maintain(spark: SparkSession, indexPath: String,
               maxFilesPerShard: Int = 16,
               maxAppendedFraction: Double = 0.5,
               maxShardSkew: Double = 4.0,
               maxSplits: Int = 8): MaintenanceReport = {
    val compacted =
      if (needsCompaction(spark, indexPath, maxFilesPerShard))
        compactShards(spark, indexPath)
      else 0
    val (splits, retrain, delta) =
      rebuildRemedy(spark, indexPath, maxAppendedFraction,
        maxShardSkew) match {
        case Retrain(d) => (0, true, d)
        case SplitHot(_) =>
          (rebalance(spark, indexPath, maxShardSkew, maxSplits), false, 0)
        case NoRebuild => (0, false, 0)
      }
    MaintenanceReport(compacted, splits,
      appendedFraction(spark, indexPath),
      shardImbalance(spark, indexPath), retrain, delta)
  }

  /** ANN top-k against the reloaded index: queries route to their
    * `nprobe` nearest shards (partition-pruned graph scan), each
    * probed shard's graph nominates up to `ef` candidates per query,
    * and the EXACT cosine over the stored vectors ranks the union —
    * output schema (`q_id, rank, n_id, cosine`) and semantics
    * identical to [[Ivf.searchIndex]]. `ef <= 0` = exhaustive within
    * the probed shards (the full-probe oracle mode). Queries are
    * small by the same contract as every ANN entry point here: they
    * broadcast to the shards.
    *
    * `predicate` is FILTERED graph ANN over an attribute-carrying
    * index (built with `ensureIndex(attrCols = …)`): any Column over
    * the stored attribute columns, evaluated SCAN-SIDE on the shard
    * rows. The traversal routes through failing nodes while admitting
    * only passing ones to the result budget ([[ShardGraph.search]] —
    * the ACORN-style semantics: pre-filtering the graph would
    * disconnect it exactly when the predicate is selective; a
    * post-filter would starve the k budget). `ef` then counts PASSING
    * candidates, and `ef = 0` is exhaustive over the passing set, so
    * the full-probe gate shares a brute-force oracle over the filtered
    * slice. NULL predicate rows fail (SQL boolean semantics). The
    * rescore scan re-applies the predicate, so it reads only
    * qualifying vectors.
    */
  def searchIndex(spark: SparkSession, indexPath: String,
                  queries: DataFrame, k: Int, nprobe: Int = 2,
                  ef: Int = 64,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding",
                  predicate: Option[Column] = None): DataFrame = {
    import spark.implicits._
    val model = Ivf.loadModelCached(spark, s"$indexPath/centroids")
    // (q_id, vec, probe clusters) — bounded driver round-trip, then a
    // broadcast keyed by shard so flatMapGroups sees only its queries
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
    def shards = spark.read.parquet(s"$indexPath/graph")
      .filter(col("cluster").isin(probed: _*))
    val pass = predicate.map(p => coalesce(p.cast("boolean"), lit(false)))
    val cands = shards
      .select(col("cluster"), col("vec_id"), col("vec"), col("adj"),
        pass.getOrElse(lit(true)).as("__pass"))
      .as[(Int, Long, Seq[Float], Seq[Seq[Long]], Boolean)]
      .groupByKey(_._1)
      .flatMapGroups { (cl, it) =>
        val rows = it.toArray.sortBy(_._2)
        val g = restoreShard(rows.map(_._2), rows.map(_._3), rows.map(_._4))
        val passes = rows.map(_._5)
        bq.value.getOrElse(cl, Array.empty[(Long, Array[Float])])
          .iterator.flatMap { case (qid, qv) =>
            g.search(qv, ef, i => passes(i)).iterator
              .filter(_ != qid)
              .map(nid => (qid, nid))
          }
      }
      .toDF("q_id", "n_id")
    // exact rescore over the stored vectors — the graph only nominated
    val corpus = pass.fold(shards)(p => shards.filter(p))
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

  /** Restore one shard's STORED graph from its id-sorted rows: levels
    * from the stored adjacency shape, never rebuilt at search time.
    */
  private def restoreShard(ids: Array[Long], vecs: Array[Seq[Float]],
                           adj: Array[Seq[Seq[Long]]]): ShardGraph = {
    val idToIdx = ids.zipWithIndex.toMap
    val g = new ShardGraph(ids, vecs.map(_.toArray), m = 16,
      levelsIn = adj.map(_.length - 1))
    var i = 0
    while (i < g.n) {
      val stored = adj(i)
      var l = 0
      while (l < stored.length) {
        g.adj(i)(l).clear()
        g.adj(i)(l) ++= stored(l).iterator.flatMap(idToIdx.get(_))
        l += 1
      }
      i += 1
    }
    // entry = (max level, min id) — exactly the node the build's
    // insertion order left as entry (sorted inserts only replace
    // the entry on a STRICTLY higher level), so the repair pass's
    // reachability guarantee holds from here
    if (g.n > 0) {
      var best = 0
      i = 1
      while (i < g.n) {
        if (g.levels(i) > g.levels(best)) best = i
        i += 1
      }
      g.entry = best
    }
    g
  }
}
