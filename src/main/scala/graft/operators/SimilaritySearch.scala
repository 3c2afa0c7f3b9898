package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.NativeExpressions.{cosine, hyperplaneSignature}
import graft.functions.VectorFunctions.hammingDist

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column.
  *
  * Two execution paths:
  *  - `bruteForceTopK` — exact: broadcast the (small) query set against
  *    the corpus, cosine per pair, per-query top-k via the bounded
  *    [[TopK.topKPerKey]] aggregator. The corpus side streams through
  *    one codegen'd stage: cost O(|corpus|·|queries|·dim) FLOPs, zero
  *    corpus shuffle, and the ranking shuffle carries at most
  *    k·|queries| pairs per map partition (the partial top-k) instead
  *    of the full |corpus|·|queries| score matrix a
  *    `row_number().over(Window)` would sort. The baseline and the
  *    ground truth.
  *  - `lshTopK` — scale path: random-hyperplane signatures bucket the
  *    corpus; each query scores only candidates whose signature falls
  *    within `maxHamming` of its own, found by multi-probe expansion:
  *    the query side explodes its Hamming ball into probe signatures
  *    and the corpus joins by signature EQUALITY (a hash join — one
  *    probe per corpus row), never a nested-loop distance test. Recall
  *    tunes with nBits/maxHamming.
  *
  * Near-dup-by-embedding (`cosineNearDupPairs`) reuses the same
  * hyperplane bucketing to avoid O(n²) pairs.
  */
object SimilaritySearch {

  /** Exact top-k neighbors per query row. Output:
    * (q_id, rank, n_id, cosine) with deterministic tie-break on n_id.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        cosine(col("q_vec"), col("n_vec")).as("cosine"))
    TopK.topKPerKey(scored, k)(corpus.sparkSession)
  }

  /** Matryoshka (MRL) prefix-dimension search — the two-phase ladder
    * for embeddings trained with matryoshka representation learning
    * (Kusupati et al. 2022), where every PREFIX of the vector is
    * itself a valid lower-capacity embedding: shortlist by cosine
    * over the first `prefixDims` components (dim/prefixDims× fewer
    * FLOPs per candidate), then exact full-dimension rescore of the
    * shortlist only — [[graft.operators.Ivf.Shortlist.Sq8]]'s shape
    * with the prefix playing the int8 column's role.
    *
    * `shortlistK >= corpus` makes the rescore exhaustive and the
    * result EXACTLY [[bruteForceTopK]] (the gate's oracle premise);
    * the production arm trades shortlist size for recall, measured
    * in SimilaritySpec. This in-memory form slices at the scan,
    * saving FLOPs but reading full vectors; the at-rest form that
    * turns the saving into IO is [[graft.operators.Ivf.ensureIndexMrl]]
    * / [[graft.operators.Ivf.Shortlist.Mrl]] (round-16), which
    * persists the prefix as its own column and whose shortlist scan
    * never reads the float vector.
    */
  def topKMatryoshka(corpus: DataFrame, queries: DataFrame, k: Int,
                     prefixDims: Int, shortlistK: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    require(prefixDims > 0, s"prefixDims must be positive: $prefixDims")
    require(shortlistK >= k, s"shortlistK $shortlistK < k $k")
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val short = TopK.topKPerKey(
      c.crossJoin(broadcast(q))
        .filter(col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"),
          cosine(slice(col("q_vec"), 1, prefixDims),
            slice(col("n_vec"), 1, prefixDims)).as("cosine")),
      shortlistK)(corpus.sparkSession)
    val rescored = short.select(col("q_id"), col("n_id"))
      .join(c, Seq("n_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        cosine(col("q_vec"), col("n_vec")).as("cosine"))
    TopK.topKPerKey(rescored, k)(corpus.sparkSession)
  }

  /** Hard-negative mining for contrastive/embedding training: per
    * query, the top-k most-similar corpus vectors with a DIFFERENT
    * label — the negatives a uniform sampler almost never draws and
    * the ones that carry gradient. Same execution shape as
    * [[bruteForceTopK]]: broadcast query block, ONE corpus scan, the
    * label anti-filter applied before scoring (cheaper than scoring
    * then filtering), bounded per-key top-k aggregation, no global
    * sort. At billion-vector scale swap the exact scorer for an
    * [[lshTopK]]/IVF shortlist and keep the same anti-filter + top-k
    * tail — the output contract does not change.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      col(labelCol).as("n_label"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      col(labelCol).as("q_label"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("n_id") =!= col("q_id") &&
        col("n_label") =!= col("q_label"))
      .select(col("q_id"), col("n_id"),
        cosine(col("q_vec"), col("n_vec")).as("cosine"))
    TopK.topKPerKey(scored, k)(corpus.sparkSession)
  }

  /** Contrastive POSITIVE mining — [[hardNegatives]]' counterpart:
    * per query, the top-k most-similar corpus vectors with the SAME
    * label (excluding itself) — the anchor→positive side of a
    * training triplet. Identical execution shape (broadcast query
    * block, label filter below the scorer, bounded top-k tail).
    */
  def positives(corpus: DataFrame, queries: DataFrame, k: Int,
                idCol: String = "vec_id",
                vecCol: String = "embedding",
                labelCol: String = "label"): DataFrame = {
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      col(labelCol).as("n_label"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      col(labelCol).as("q_label"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("n_id") =!= col("q_id") &&
        col("n_label") === col("q_label"))
      .select(col("q_id"), col("n_id"),
        cosine(col("q_vec"), col("n_vec")).as("cosine"))
    TopK.topKPerKey(scored, k)(corpus.sparkSession)
  }

  /** Exact-integer centroid affinity: per row, the argmax cluster
    * under INNER PRODUCT in quantized micros — `(id, cluster,
    * ip_micros)` with ip = Σⱼ round(vecⱼ·1e6) · centroid_microsⱼ, a
    * pure int64 (dim · 1e6-scale products stay far under 2⁶³ for any
    * realistic dim), argmax tie-break = lowest cluster index. The
    * centroid matrix arrives ALREADY quantized (driver-fitted
    * constants — k-means output quantized once on the driver), so the
    * whole distributed computation is exact integer arithmetic and an
    * oracle replays it with the same literals (the PCA projectMicros
    * discipline applied to assignment).
    *
    * This is the semantic-ordering primitive behind in-context-
    * pretraining-style packing: cluster = which topic stream a
    * document joins, ip = how central it sits in that stream. IP
    * ordering (not cosine) is deliberate — it avoids irrational norms
    * and is the standard MIPS ranking; within a cluster it orders by
    * alignment-weighted magnitude.
    *
    * Execution: quantization staged ONCE as a column (HOF-CSE lesson),
    * k aggregate/zip_with dot products per row, argmax via
    * array_position on the staged score array — one scan-side
    * projection, ZERO shuffles.
    */
  def centroidAffinityMicros(df: DataFrame,
                             centroidMicros: Array[Array[Long]],
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): DataFrame = {
    require(centroidMicros.nonEmpty, "need at least one centroid")
    val staged = df.withColumn("__q",
      transform(col(vecCol), x =>
        round(x.cast("double") * 1000000).cast("long")))
    val ips = centroidMicros.map { c =>
      aggregate(zip_with(col("__q"), lit(c), (x, w) => x * w),
        lit(0L), (acc, x) => acc + x)
    }
    staged.withColumn("__ips", array(ips.toIndexedSeq: _*))
      .select(col(idCol),
        (array_position(col("__ips"), array_max(col("__ips"))) - 1)
          .cast("int").as("cluster"),
        array_max(col("__ips")).as("ip_micros"))
  }

  /** Matryoshka (MRL-style) two-stage search: shortlist by cosine
    * over the FIRST `dims` components only — the cheap low-dim prefix
    * an MRL-trained embedding packs its signal into — then exact
    * full-dim rescore of the `shortlistK` survivors through the
    * shared bounded-top-k tail. The scan reads `dims/d` of the vector
    * bytes (with a prefix-truncated column or PCA-rotated layout,
    * that is a real IO cut, not just FLOPs); recall tunes with
    * `dims`/`shortlistK` like every other rung. Both stages are
    * deterministic sequential-sum cosines with total tie-breaks, so
    * the WHOLE pipeline — shortlist selection included — replays in
    * the SQL oracle, like [[binTopK]].
    */
  def truncTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                dims: Int, shortlistK: Int = 64,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    require(dims >= 1, s"dims=$dims")
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val cands = c.crossJoin(broadcast(q))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        cosine(slice(col("q_vec"), 1, dims),
          slice(col("n_vec"), 1, dims)).as("cosine"))
    Pq.rescoreExact(cands, corpus, queries, k,
      math.max(shortlistK, k), idCol, vecCol)
  }

  /** Maximal-marginal-relevance diverse selection: greedily pick k
    * vectors maximizing relevance MINUS similarity to anything already
    * picked — the diversity sampler of a training-data pipeline
    * (augmentation-source picking, eval-set curation, prompt-seed
    * spread), where plain top-k returns k near-copies of the same
    * mode.
    *
    *   margin(v) = rel_micros(v) − max_{s ∈ selected} cos_micros(v, s)
    *
    * with relevance = cosine to `refVec`, every cosine rounded to
    * integer MICROS before any comparison — so the greedy argmax
    * (margin desc, id asc) is engine-exact and the `q_v_mmr` oracle
    * replays the k unrolled steps verbatim.
    *
    * Execution: the selection loop is DRIVER-side over k rounds (k is
    * a small constant — this is a "pick 8 of a billion" operator, not
    * a join); each round is ONE corpus scan scoring against the ≤ k
    * broadcast-literal selected vectors, with the argmax as a bounded
    * TakeOrdered(1), never a global sort. Cost k·|corpus|·dim FLOPs,
    * zero shuffles beyond the argmax's single-row reduction.
    */
  def mmrSelect(corpus: DataFrame, refVec: Seq[Float], k: Int,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && k <= 64, s"driver-side greedy loop: k=$k")
    val spark = corpus.sparkSession
    import spark.implicits._
    def mic(c: Column): Column = round(c * 1000000).cast("long")
    val (base, baseScratch) = Materialize.viaScratchWithPath(
      corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
        .withColumn("relmic", mic(cosine(col("vec"), typedlit(refVec)))),
      "graft-mmr-base")
    val picked = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Long, Seq[Float])]
    var step = 1
    while (step <= k) {
      val margin = picked.toSeq
        .map(p => mic(cosine(col("vec"), typedlit(p._4)))) match {
        case Nil      => col("relmic")
        case Seq(one) => col("relmic") - one
        case many     => col("relmic") - greatest(many: _*)
      }
      val pickedIds = picked.map(_._2)
      val row = base
        .filter(!col("id").isInCollection(
          if (pickedIds.isEmpty) Seq(-1L) else pickedIds.toSeq))
        .withColumn("margin", margin)
        .orderBy(col("margin").desc, col("id"))
        .select(col("id"), col("margin"), col("vec"))
        .limit(1).collect()
      require(row.nonEmpty, s"corpus exhausted at step $step")
      val r = row.head
      picked += ((step, r.getLong(0), r.getLong(1),
        r.getSeq[Float](2).toIndexedSeq))
      step += 1
    }
    baseScratch.drop() // result is driver-local; the scratch can go
    picked.toSeq.map(p => (p._1, p._2, p._3))
      .toDF("step", "vec_id", "margin_micros")
  }

  /** Approximate top-k: hyperplane-bucketed candidate generation, then
    * exact cosine only on signature-close candidates. Recall < 1 by
    * design; the output shape is identical to the exact path so
    * callers can swap them.
    *
    * Banded multi-probe execution: the signature is split into `b`
    * bands of `nBits / b` bits and each query probes every band's
    * bucket expanded to a small per-band Hamming sub-ball of radius
    * `t`, with `(b, t)` chosen by [[bandPlan]] as the cheapest pair
    * satisfying `b·(t+1) > maxHamming`. By pigeonhole, any pair within
    * total Hamming distance `maxHamming` has SOME band within `t`, so
    * the candidate set is a SUPERSET of the full radius-`maxHamming`
    * ball — the recall guarantee of the naive ball at a fraction of
    * its probe count (defaults: 8 probes per query vs the 14,893-mask
    * ball Σᵢ C(16, i), i ≤ 6, that a whole-signature expansion
    * needs). Band collisions admit extra candidates beyond the ball;
    * they cost one exact cosine each (never a wrong answer) and shrink
    * as nBits grows. The probe side compiles to a broadcast HASH join
    * on (band, bucket) — one hash probe per corpus band row, never a
    * nested-loop distance test (PlanQualitySpec pins the shape). A
    * pair matching in several bands would duplicate candidates; the
    * first-matching-band filter keeps exactly one copy WITHOUT a
    * distinct shuffle.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
              nBits: Int = 16, maxHamming: Int = 6,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    // EXACTNESS ESCAPE HATCH (the Hnsw `ef <= 0` pattern): maxHamming
    // ≥ nBits means "admit any signature distance", so the hatch
    // probes EVERY bucket of ONE band — each corpus row lands in
    // exactly one band-0 bucket and the query probes all 2^rows of
    // them, so every (query, corpus) pair is admitted exactly once
    // and the exact-cosine rescore + shared TopK tail make the result
    // ≡ [[bruteForceTopK]] at any sf. Same physical shape as the
    // budgeted path (hash join on (band, bucket), never a nested
    // loop), which is what lets the q_v_topk_lsh gate share the
    // brute-force oracle while SimilaritySpec keeps measuring the
    // default budget's recall.
    val exhaustive = maxHamming >= nBits
    val (bands, subRadius) =
      if (exhaustive) {
        val b = math.max(1, nBits / 4) // 4-bit band-0 buckets → 16 probes
        (b, nBits / b)                 // subRadius = rows → every slice passes
      } else bandPlan(nBits, maxHamming)
    val rows = nBits / bands
    val mask = (1L << rows) - 1
    // exhaustive mode keys the corpus by band 0 only (probing all of
    // band 0's buckets already covers every row; exploding the other
    // bands would just multiply the scan)
    val corpusBands = if (exhaustive) 1 else bands
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
      .withColumn("n_sig", hyperplaneSignature(col("n_vec"), dim, nBits))
      .select(col("n_id"), col("n_vec"), col("n_sig"),
        explode(sequence(lit(0), lit(corpusBands - 1))).as("band"))
      .withColumn("bucket", expr(s"(n_sig >> (band * $rows)) & $mask"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("q_sig", hyperplaneSignature(col("q_vec"), dim, nBits))
    // probes carry (q_id, q_sig, band, bucket) ONLY — exploding the
    // query VECTOR probe-count times would multiply the broadcast by
    // dim·probes; the vector re-joins by q_id after the bucket match
    val probes =
      if (exhaustive)
        q.select(col("q_id"), col("q_sig"), lit(0).as("band"),
          explode(sequence(lit(0L), lit(mask))).as("bucket"))
      else {
        val subMasks = hammingBallMasks(rows, subRadius)
        q.select(col("q_id"), col("q_sig"),
            explode(sequence(lit(0), lit(bands - 1))).as("band"))
          .select(col("q_id"), col("q_sig"), col("band"),
            explode(typedlit(subMasks)).as("m"))
          .select(col("q_id"), col("q_sig"), col("band"),
            expr(s"(q_sig >> (band * $rows)) & $mask")
              .bitwiseXOR(col("m")).as("bucket"))
      }
    // dedup without a shuffle: keep a matched pair only in its FIRST
    // band whose sub-distance is ≤ subRadius (bands are disjoint bit
    // ranges, so band j's sub-distance is bit_count of the XOR slice)
    val firstBand = (bands - 1 to 0 by -1).foldLeft(lit(-1)) { (acc, j) =>
      when(expr(s"bit_count(((n_sig ^ q_sig) >> ${j * rows}) & $mask)")
        <= subRadius, lit(j)).otherwise(acc)
    }
    val scored = c.join(broadcast(probes), Seq("band", "bucket"))
      .filter(col("band") === firstBand && col("n_id") =!= col("q_id"))
      .join(broadcast(q.select(col("q_id"), col("q_vec"))), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        cosine(col("q_vec"), col("n_vec")).as("cosine"))
    TopK.topKPerKey(scored, k)(corpus.sparkSession)
  }

  /** The cheapest (bands, subRadius) pair covering `maxHamming`:
    * among divisors `b` of `nBits`, the per-band radius needed is
    * `t = ⌈(maxHamming+1)/b⌉ - 1` (pigeonhole: d ≤ maxHamming errors
    * over b bands leave some band with ≤ ⌊d/b⌋ ≤ t), and the probe
    * cost is `b · Σᵢ C(nBits/b, i), i ≤ t` — minimized over b.
    */
  def bandPlan(nBits: Int, maxHamming: Int): (Int, Int) = {
    require(maxHamming >= 0 && maxHamming < nBits,
      s"maxHamming ($maxHamming) must be in [0, nBits=$nBits)")
    val plans = (1 to nBits).filter(nBits % _ == 0).map { b =>
      val r = nBits / b
      val t = math.min((maxHamming + b) / b - 1, r)
      val probes = BigInt(b) * (0 to t).map(binomial(r, _)).sum
      (probes, b, t)
    }
    val (_, b, t) = plans.minBy(_._1)
    (b, t)
  }

  /** Every XOR mask over `nBits` bits with popcount ≤ `maxHamming` —
    * the Hamming-ball offsets for multi-probe signature expansion.
    */
  private[operators] def hammingBallMasks(nBits: Int,
                                          maxHamming: Int): Seq[Long] = {
    val ballSize = (0 to math.min(maxHamming, nBits))
      .map(binomial(nBits, _)).sum
    require(ballSize <= (1 << 20),
      s"multi-probe ball size $ballSize exceeds 2^20 — lower maxHamming " +
        s"($maxHamming) or nBits ($nBits), or partition the signature " +
        "into bands instead")
    val out = Seq.newBuilder[Long]
    def rec(start: Int, left: Int, acc: Long): Unit = {
      out += acc
      if (left > 0) {
        var b = start
        while (b < nBits) { rec(b + 1, left - 1, acc | (1L << b)); b += 1 }
      }
    }
    rec(0, maxHamming, 0L)
    out.result()
  }

  private def binomial(n: Int, k: Int): BigInt =
    (1 to k).foldLeft(BigInt(1))((acc, i) => acc * (n - i + 1) / i)

  /** Corpus-size-adaptive banding plan `(nBits, bands)` for
    * [[cosineNearDupPairs]] — the knob the sf1 scale run proved must
    * NOT be constant: with fixed bits per band, bucket occupancy grows
    * linearly with the corpus and within-bucket pair enumeration grows
    * QUADRATICALLY (measured 45× time for 10× rows at the old fixed
    * 32/4 plan).
    *
    * The plan holds expected bucket occupancy at `targetBucket` by
    * growing bits-per-band with log₂(n), then chooses the band count
    * so that a pair at EXACTLY the threshold is still caught with
    * probability ≥ `targetRecall` (collision prob per hyperplane is
    * `1 − θ/π`, Charikar's SimHash bound; the S-curve climbs steeply
    * above the threshold, so 0.9-cosine pairs at a 0.8 threshold are
    * found with much higher probability than `targetRecall`).
    * Candidate volume is then ≈ `bands × n × targetBucket / 2` —
    * LINEAR in n at fixed recall, which is the whole point.
    */
  def autoBandPlan(n: Long, threshold: Double, targetBucket: Int = 32,
                   targetRecall: Double = 0.5, maxBands: Int = 16,
                   minRowsPerBand: Int = 4,
                   maxRowsPerBand: Int = 20): (Int, Int) = {
    require(threshold > 0 && threshold < 1, s"threshold in (0,1): $threshold")
    require(targetRecall > 0 && targetRecall < 1, "targetRecall in (0,1)")
    val rows = math.min(maxRowsPerBand, math.max(minRowsPerBand,
      math.ceil(math.log(math.max(n, 2).toDouble / targetBucket) /
        math.log(2.0)).toInt))
    val p = 1.0 - math.acos(math.min(threshold, 0.9999)) / math.Pi
    val pb = math.pow(p, rows)
    val bands = math.min(maxBands, math.max(2,
      math.ceil(math.log(1.0 - targetRecall) / math.log(1.0 - pb)).toInt))
    (rows * bands, bands)
  }

  /** [[cosineNearDupPairs]] under [[autoBandPlan]]: one count job
    * sizes the corpus (metadata-cheap on a parquet scan), then the
    * banding adapts so candidate volume stays linear in n. Use the
    * explicit-parameter form when n is already known.
    */
  def cosineNearDupPairsAuto(df: DataFrame, threshold: Double, dim: Int,
                             targetBucket: Int = 32,
                             targetRecall: Double = 0.5,
                             maxBucketSize: Int = 1000,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): DataFrame = {
    val (nBits, bands) =
      autoBandPlan(df.count(), threshold, targetBucket, targetRecall)
    cosineNearDupPairs(df, threshold, dim, nBits, bands, maxBucketSize,
      idCol, vecCol)
  }

  /** Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥
    * threshold) via signature blocking: only pairs sharing a signature
    * prefix band are scored, never all n².
    *
    * Execution shape (the minhash-dedup pattern): the band shuffle
    * carries ONLY (band, bucket, id) — never the vectors, which would
    * multiply the shuffle payload by bands × vector width. Candidate
    * pairs are deduped across bands BEFORE any scoring, then the
    * vectors of candidate members only (semi-join) are joined back for
    * one cosine evaluation per unique pair.
    */
  def cosineNearDupPairs(df: DataFrame, threshold: Double, dim: Int,
                         nBits: Int = 16, bands: Int = 4,
                         maxBucketSize: Int = 1000,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame =
    withCosineNearDupPairs(df, threshold, dim, nBits, bands, maxBucketSize,
      idCol, vecCol)(Materialize.viaScratch(_, "graft-vecdup"))

  /** Bracket form of [[cosineNearDupPairs]]: the candidate pair list
    * and the candidate vectors each feed two consumers, so both stay
    * persisted while `f` runs its actions and are unpersisted in
    * try/finally — the operator leaves no CacheManager entries behind
    * in a long-lived session (CacheHygieneSpec pins
    * `getPersistentRDDs.isEmpty`; the materializing default wrapper is
    * what the driver gate calls).
    */
  def withCosineNearDupPairs[T](df: DataFrame, threshold: Double, dim: Int,
                                nBits: Int = 16, bands: Int = 4,
                                maxBucketSize: Int = 1000,
                                idCol: String = "vec_id",
                                vecCol: String = "embedding")
                               (f: DataFrame => T): T = {
    // one id-only shuffle: bucket members collected, pairs generated
    // in-place (no self-join → the signature pipeline isn't duplicated)
    val buckets = hyperplaneBuckets(df, dim, nBits, bands, idCol, vecCol)
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(col(idCol)).as("ids"))
      .filter(size(col("ids")).between(2, maxBucketSize))
    val ids = array_sort(col("ids")) // deterministic id_a < id_b
    val pairExpr = flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + 2, size(ids)), y =>
        struct(x.as("id_a"), y.as("id_b")))))
    // dedup across bands BEFORE scoring; persisted for its two
    // consumers (id semi-join + the final scoring join)
    val cands = buckets.select(explode(pairExpr).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // no distinct: a left-semi probe side needs no dedup
    val candIds = cands
      .select(explode(array(col("id_a"), col("id_b"))).as(idCol))
    val vecs = df
      .join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol), col(vecCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val va = vecs.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"))
      val vb = vecs.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
      f(cands.join(va, "id_a").join(vb, "id_b")
        .select(col("id_a"), col("id_b"),
          cosine(col("vec_a"), col("vec_b")).as("cosine"))
        .filter(col("cosine") >= threshold)
        .select(col("id_a"), col("id_b"),
          round(col("cosine"), 6).as("cosine")))
    } finally {
      vecs.unpersist(blocking = false)
      cands.unpersist(blocking = false)
    }
  }

  /** (band, bucket, id) triples for the hyperplane-signature banding —
    * shared by candidate generation and the dropped-bucket stats so
    * the two can never disagree on the blocking scheme.
    */
  private def hyperplaneBuckets(df: DataFrame, dim: Int, nBits: Int,
                                bands: Int, idCol: String,
                                vecCol: String): DataFrame = {
    require(bands > 0 && nBits % bands == 0,
      s"bands ($bands) must evenly divide nBits ($nBits)")
    val rows = nBits / bands
    require(rows <= 63, s"rows per band must fit a long, got $rows")
    // one seeded signature PER BAND (not one wide signature sliced):
    // same total hyperplane count (bands × rows = nBits dot products
    // per vector, evaluated once in this projection), but the total is
    // no longer capped at 64 bits — autoBandPlan needs rows × bands to
    // grow with log(n) × recall budget
    val bandSig = (0 until bands).map { bd =>
      struct(lit(bd).as("band"),
        hyperplaneSignature(col(vecCol), dim, rows, seed = 42L + bd)
          .as("bucket"))
    }
    df.select(col(idCol), explode(array(bandSig: _*)).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"),
        col(idCol))
  }

  /** Dropped-bucket accounting for [[cosineNearDupPairs]] under the
    * same banding parameters (see [[Dedup.LshStats]]).
    */
  /** Benchmark decontamination, EMBEDDING arm (the semantic
    * complement of [[Dedup.decontaminate]]'s shingle overlap): corpus
    * rows whose embedding cosine reaches `threshold` against ANY
    * benchmark vector — the paraphrase-contamination case n-gram
    * overlap can't see (a reworded test question shares few shingles
    * but sits at cosine ≳ 0.9). Execution rides the banded
    * hyperplane-LSH candidate machinery ([[cosineNearDupPairs]]):
    * corpus and benchmark ids interleave into one parity-tagged id
    * space (corpus → 2·id, benchmark → 2·id+1 — ids must be
    * non-negative and < 2⁶²), candidates block on shared signature
    * bands, and only CROSS-parity survivors flag corpus rows —
    * never an all-pairs join. Returns the flagged corpus rows
    * (semi-join; drop them to decontaminate). Same recall contract
    * as the LSH family: identical vectors share every band
    * (guaranteed catch); near-pairs follow the documented ρ-bound.
    */
  def decontaminateSemantic(corpus: DataFrame, bench: DataFrame,
                            threshold: Double, dim: Int,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val u = corpus.select((col(idCol) * 2).as(idCol), col(vecCol))
      .unionByName(bench.select((col(idCol) * 2 + 1).as(idCol),
        col(vecCol)))
    val pairs = cosineNearDupPairsAuto(u, threshold, dim,
      idCol = idCol, vecCol = vecCol)
    val flagged = pairs
      .filter(pmod(col("id_a"), lit(2)) =!= pmod(col("id_b"), lit(2)))
      .select(expr(
        "(CASE WHEN id_a % 2 = 0 THEN id_a ELSE id_b END) div 2")
        .as("__cid"))
      .distinct()
    corpus.join(flagged, corpus(idCol) === flagged("__cid"), "left_semi")
  }

  def cosineNearDupStats(df: DataFrame, dim: Int, nBits: Int = 16,
                         bands: Int = 4, maxBucketSize: Int = 1000,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): Dedup.LshStats = {
    val sizes = hyperplaneBuckets(df, dim, nBits, bands, idCol, vecCol)
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("m"))
      .filter(col("m") >= 2)
    Dedup.bucketStats(sizes, maxBucketSize)
  }

  /** Exact all-pairs near-dup (the oracle-checkable reference path;
    * O(n²) — only for verification or small slices).
    */
  def cosineNearDupPairsExact(df: DataFrame, threshold: Double,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cosine", cosine(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  // ── Semantic dedup (SemDeDup) ───────────────────────────────────────

  /** Within-cluster semantic near-dup pairs: k-means clusters the
    * corpus ([[Ivf.train]]), then each pair of SAME-cluster vectors
    * with cosine ≥ threshold is emitted — the SemDeDup recipe
    * (Abbas et al. 2023): clustering replaces the O(n²) global pair
    * space with Σ n_c², and k is the knob that bounds n_c ≈ n/k.
    *
    * Execution shape: one shuffle of (cluster, id, vec) per join side
    * (2n rows, never n²); the quadratic expansion happens post-shuffle
    * inside each cluster partition. Clusters larger than
    * `maxClusterSize` are dropped from PAIRING with the same skew-cap
    * contract as the LSH buckets (use [[semanticDupStats]] to account
    * for them — no silent truncation; at healthy k the cap never
    * binds).
    *
    * RECALL CONTRACT (inherent to SemDeDup, documented not hidden):
    * a near-dup pair split across two clusters is NOT examined.
    * Identical vectors always co-cluster (same distances → same
    * argmin), so exact copies are never missed; near-copies on a
    * cluster boundary can be. SimilaritySpec measures recall against
    * the exact path on perturbed copies.
    */
  def semanticDupPairs(df: DataFrame, threshold: Double, k: Int,
                       iters: Int = 3, maxClusterSize: Int = 100000,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       trainSampleN: Int = 4096): DataFrame = {
    val vecs = df.filter(col(vecCol).isNotNull)
    // sampled training (bounded job at any corpus size); the SemDeDup
    // guarantee — identical copies co-cluster — holds for ANY centroids
    val model = Ivf.train(vecs, k, iters, idCol = idCol, vecCol = vecCol,
      trainSampleN = trainSampleN)
    val assigned = Ivf.assign(vecs, model, vecCol)
      .select(col("cluster"), col(idCol), col(vecCol))
    val okClusters = assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n").between(2, maxClusterSize))
      .select(col("cluster"))
    val members = assigned.join(broadcast(okClusters), Seq("cluster"))
    val a = members.select(col("cluster"), col(idCol).as("id_a"),
      col(vecCol).as("vec_a"))
    val b = members.select(col("cluster"), col(idCol).as("id_b"),
      col(vecCol).as("vec_b"))
    a.join(b, Seq("cluster")).filter(col("id_a") < col("id_b"))
      .withColumn("cosine", cosine(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Cluster-size accounting for [[semanticDupPairs]]' skew cap. */
  def semanticDupStats(df: DataFrame, k: Int, iters: Int = 3,
                       maxClusterSize: Int = 100000,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): Dedup.LshStats = {
    val vecs = df.filter(col(vecCol).isNotNull)
    val model = Ivf.train(vecs, k, iters, idCol = idCol, vecCol = vecCol)
    val sizes = Ivf.assign(vecs, model, vecCol)
      .groupBy(col("cluster")).agg(count(lit(1)).as("m"))
      .filter(col("m") >= 2)
    Dedup.bucketStats(sizes, maxClusterSize)
  }

  /** SemDeDup end-to-end: drop every row whose id is a non-canonical
    * member of a semantic-duplicate group (canonical = smallest id
    * reachable through the pair graph — [[Dedup.connectedComponents]]
    * resolution, so transitive chains collapse to ONE survivor, not
    * one per overlapping pair).
    */
  def semanticDedup(df: DataFrame, threshold: Double, k: Int,
                    iters: Int = 3, maxClusterSize: Int = 100000,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val pairs = semanticDupPairs(df, threshold, k, iters, maxClusterSize,
      idCol, vecCol).select(col("id_a"), col("id_b"))
    val cc = Dedup.connectedComponents(pairs)
    val drop = cc.filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Cross-split SEMANTIC LEAKAGE — the eval-decontamination step in
    * embedding space ("is any test example a near-copy of a training
    * example?"), the vector-side sibling of [[Dedup.decontaminate]].
    * Output: every (test_id, train_id) pair with cosine ≥ threshold,
    * the rounded cosine riding along for audit.
    *
    * Execution shape (the SemDeDup blocking): k-means centroids
    * trained on the TRAIN side route both splits, and only
    * within-cluster cross pairs are scored — the pair space is
    * Σ_c |test_c|·|train_c| instead of |test|·|train| (use
    * [[autoClusterK]] of the train count to hold cluster occupancy
    * constant at scale). Recall contract, same argument as the
    * q_v_semdedup gates: an EXACT copy routes to its source's
    * cluster deterministically (identical vector ⇒ identical argmin),
    * so duplicate-level leaks (the decontamination target) are caught
    * with recall exactly 1 under ANY centroids — which is what lets
    * the gate share a full brute-force oracle; near-copies at lower
    * thresholds inherit k-means boundary recall like every SemDeDup
    * arm (spec-measured there).
    */
  def splitLeaks(train: DataFrame, test: DataFrame, threshold: Double,
                 k: Int = 16, iters: Int = 1,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val model = Ivf.train(train, k, iters, idCol = idCol, vecCol = vecCol)
    val tr = Ivf.assign(train, model, vecCol)
      .select(col("cluster"), col(idCol).as("train_id"),
        col(vecCol).as("__tv"))
    val te = Ivf.assign(test, model, vecCol)
      .select(col("cluster"), col(idCol).as("test_id"),
        col(vecCol).as("__qv"))
    te.join(tr, "cluster")
      .select(col("test_id"), col("train_id"),
        round(cosine(col("__qv"), col("__tv")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Corpus-size-adaptive k for the SemDeDup family — the second knob
    * the sf1 run proved must not be constant: with fixed k, cluster
    * occupancy n/k grows linearly and the Σ n_c² pair space grows
    * QUADRATICALLY (measured 16× time for 10× rows at the old fixed
    * k=16). Holding cluster size at `targetClusterSize` keeps the pair
    * space ≈ n × targetClusterSize — linear.
    *
    * k is capped at 4096 so the centroid table stays a driver-trivial
    * k × dim matrix and flat assignment stays one broadcast pass;
    * beyond ~4096 × targetClusterSize rows, route assignment through
    * a persisted coarse quantizer ([[Ivf.ensureIndex]]) instead of
    * growing k further — two-level clustering is the FAISS-scale
    * shape of the same algorithm.
    */
  def autoClusterK(n: Long, targetClusterSize: Int = 256): Int = {
    require(targetClusterSize >= 2, s"targetClusterSize: $targetClusterSize")
    math.min(4096, math.max(16,
      math.ceil(math.max(n, 1).toDouble / targetClusterSize).toInt))
  }

  /** [[semanticDedup]] under [[autoClusterK]] — one count job sizes
    * the corpus, then cluster occupancy (and with it the within-
    * cluster pair space per row) stays constant as the corpus grows.
    */
  def semanticDedupAuto(df: DataFrame, threshold: Double,
                        targetClusterSize: Int = 256, iters: Int = 1,
                        maxClusterSize: Int = 100000,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame =
    semanticDedup(df, threshold, autoClusterK(df.count(), targetClusterSize),
      iters, maxClusterSize, idCol, vecCol)

  /** Recall@k evaluation of an approximate neighbor relation against
    * the exact one: per query, `(q_id, n_exact, n_hit)` in pure
    * integer arithmetic (`n_hit` = exact neighbors the approximate
    * relation also returned; divide for the recall fraction). Both
    * inputs use the `(q_id, n_id)` shape of [[bruteForceTopK]] /
    * [[lshTopK]] / [[Ivf.searchIndex]], so any two ANN paths can be
    * scored against each other — the standard harness for tuning
    * nprobe / nBits / shortlist sizes on a corpus sample before a
    * full run.
    *
    * Execution shape: one semi-join-shaped left join on (q_id, n_id) +
    * one q_id aggregate; both sides are k × |queries| rows, never
    * corpus-sized.
    */
  /** Brute-force top-k over SYMMETRIC-INT8 scalar-quantized vectors
    * (SQ8) — the other standard point on the quantized-search ladder
    * next to PQ: 4× smaller scan than float32 with near-exact recall
    * at this dimensionality, and — unlike PQ's float ADC — the score
    * is ENGINE-EXACT: `dot8 · scale_c_micros · scale_q_micros` is a
    * pure int64 (dot of int8s × two exact micro scales), so the full
    * ranking is replayable by the SQL oracle, tie-broken on n_id.
    * Int64 bound: dot8 ≤ d·127² and each scale ≤ 1e6·max|x| — holds
    * to d ≈ 4k at unit-scale embeddings.
    *
    * Same execution shape as [[bruteForceTopK]]: broadcast query
    * block, ONE corpus scan, bounded per-query top-k; at scale the
    * same int8 scorer runs over an IVF shortlist instead.
    */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def q8(df: DataFrame) = graft.functions.VectorFunctions
      .withQuantizedInt8(df, vecCol)
      .select(col(idCol), col("q8"),
        round(col("q_scale") * 1000000).cast("long").as("s_mic"))
    val c = q8(corpus).select(col(idCol).as("n_id"),
      col("q8").as("c8"), col("s_mic").as("cs"))
    val q = q8(queries).select(col(idCol).as("q_id"),
      col("q8").as("qq8"), col("s_mic").as("qs"))
    val dot8 = aggregate(
      zip_with(col("c8"), col("qq8"), (a, b) => (a * b).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("n_id"))
    c.crossJoin(broadcast(q))
      .filter(col("n_id") =!= col("q_id"))
      // stage the HOF dot FIRST: referencing it twice in one
      // projection would re-evaluate the whole aggregate per use
      // (hard-won lesson #1)
      .withColumn("dot8", dot8)
      .select(col("q_id"), col("n_id"), col("dot8"),
        (col("dot8") * col("cs") * col("qs")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("dot8"),
        col("score"))
  }

  /** Binary-quantized (1-bit) top-k — the 32× compression rung of the
    * quantized-search ladder (below SQ8's 4× and PQ's ~32×-with-
    * codebooks): each vector becomes ⌈d/64⌉ sign-packed longs, the
    * shortlist ranks by HAMMING distance (one popcount-XOR per 64
    * dims — the cheapest possible scan), and the exact cosine rescores
    * the `shortlistK` survivors through the shared bounded-top-k tail.
    *
    * ENGINE-EXACT end to end: sign bits (`x > 0`) and Hamming counts
    * are integers both engines compute identically, the shortlist
    * tie-break (hamming asc, id asc) is total, and the rescore is the
    * shared exact cosine — so unlike PQ's float ADC the ENTIRE
    * pipeline is replayable by the SQL oracle (the oracle recomputes
    * hamming as Σ sign-disagreements, packing-free). Same execution
    * shape as [[bruteForceTopK]]: broadcast query block, ONE corpus
    * scan, bounded top-k, no window sort; at scale the same packed
    * scan runs over an IVF shortlist.
    */
  def binTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              shortlistK: Int = 64,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    import graft.functions.NativeExpressions.{signPack, hammingPacked}
    val c = corpus.select(col(idCol).as("n_id"),
      signPack(col(vecCol)).as("cb"))
    val q = queries.select(col(idCol).as("q_id"),
      signPack(col(vecCol)).as("qb"))
    // score = −hamming: TopKAggregator ranks (score desc, id asc),
    // which the oracle replays as (hamming asc, n_id asc)
    val cands = c.crossJoin(broadcast(q))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        (-hammingPacked(col("cb"), col("qb"))).cast("double").as("cosine"))
    Pq.rescoreExact(cands, corpus, queries, k,
      math.max(shortlistK, k), idCol, vecCol)
  }

  def recallAtK(exact: DataFrame, approx: DataFrame,
                qCol: String = "q_id", nCol: String = "n_id"): DataFrame = {
    val hits = approx.select(col(qCol), col(nCol)).distinct()
      .withColumn("__hit", lit(1L))
    exact.select(col(qCol), col(nCol))
      .join(hits, Seq(qCol, nCol), "left_outer")
      .groupBy(col(qCol))
      .agg(count(lit(1)).as("n_exact"), count(col("__hit")).as("n_hit"))
  }

  // ── Two-level SemDeDup (past the flat-k cap) ──────────────────────

  /** Hierarchical cluster assignment `(idCol, vecCol, coarse, salt,
    * sub)` — the two-level route [[autoClusterK]]'s 4096 cap points
    * at, for corpora where flat k-means would need k ≫ 4096:
    *
    *  1. COARSE: driver-trained k-means ([[Ivf.train]], sampled, ≤
    *     4096 centroids) assigns every vector one broadcast pass.
    *  2. SALT: coarse clusters larger than `maxLocal` are split by a
    *     CONTENT hash of the vector (identical vectors always share a
    *     salt — the co-clustering guarantee survives; near-identical
    *     pairs split across salts are a recall cost the same way
    *     coarse-boundary pairs already are).
    *  3. SUB: each (coarse, salt) group runs a LOCAL Lloyd's k-means
    *     (`flatMapGroups`, group bounded by `maxLocal` rows) with
    *     k₂ = group/targetClusterSize, deterministic init (min-id
    *     members) — so occupancy lands at `targetClusterSize`
    *     without any global k₁ × k₂ training or assignment pass.
    *
    * Execution shape (100 TB): ONE shuffle (the groupByKey on
    * (coarse, salt)); sub-clustering is executor-local CPU over ≤
    * `maxLocal` × dim floats per group (16 MB at the defaults);
    * nothing but the ≤ 4096 × dim coarse centroids ever sits on the
    * driver. Assignment cost is n × (k₁ + k₂) dot products instead of
    * flat n × k.
    */
  def hierarchicalClusters(df: DataFrame, targetClusterSize: Int = 256,
                           coarseK: Int = 0, maxLocal: Int = 65536,
                           iters: Int = 1,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame = {
    require(targetClusterSize >= 2 && maxLocal >= 2 * targetClusterSize,
      s"need maxLocal ($maxLocal) ≥ 2 × targetClusterSize ($targetClusterSize)")
    val spark = df.sparkSession
    import spark.implicits._
    val vecs = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long"), col(vecCol))
    val n = vecs.count()
    val k1 = if (coarseK > 0) coarseK
      else math.min(4096, math.max(16,
        math.ceil(2.0 * n / maxLocal).toInt))
    val model = Ivf.train(vecs, k1, iters, idCol = idCol, vecCol = vecCol,
      trainSampleN = math.min(n, 4096L * 16).toInt)
    val assigned = Ivf.assign(vecs, model, vecCol)
      .select(col("cluster").cast("int").as("coarse"), col(idCol),
        col(vecCol))
    // per-coarse salt fan-out: ≤ k1 rows on the driver
    val saltOf: Map[Int, Int] = assigned.groupBy(col("coarse")).count()
      .collect()
      .map(r => r.getInt(0) ->
        math.max(1, math.ceil(r.getLong(1).toDouble / maxLocal).toInt))
      .toMap
    val saltExpr =
      if (saltOf.isEmpty) lit(1)
      else coalesce(element_at(typedlit(saltOf), col("coarse")), lit(1))
    val salted = assigned
      .withColumn("salt",
        pmod(hash(col(vecCol)), saltExpr).cast("int"))
      .as[(Int, Long, Array[Float], Int)]
    val target = targetClusterSize
    salted
      .groupByKey { case (coarse, _, _, salt) => (coarse, salt) }
      .flatMapGroups { (key: (Int, Int),
                        it: Iterator[(Int, Long, Array[Float], Int)]) =>
        val (coarse, salt) = key
        // bounded by maxLocal rows (salt construction); sort by id so
        // the result is independent of partition/iterator order
        val rows = it.toArray.sortBy(_._2)
        val k2 = math.max(1,
          math.ceil(rows.length.toDouble / target).toInt)
        val sub = localCosineKMeans(rows.map(_._3), k2)
        rows.iterator.zipWithIndex.map { case ((_, id, vec, _), i) =>
          (id, vec, coarse, salt, sub(i))
        }
      }
      .toDF(idCol, vecCol, "coarse", "salt", "sub")
  }

  /** Executor-local Lloyd's k-means on the unit sphere (cosine =
    * dot after normalization), deterministic: init = the first k
    * vectors in input order (callers pre-sort by id), 2 refinement
    * rounds, ties to the lowest centroid index. Returns each row's
    * cluster index. Identical vectors always land together (equal
    * inputs → equal argmax scan).
    */
  private[graft] def localCosineKMeans(vecs: Array[Array[Float]],
                                           k: Int): Array[Int] = {
    val n = vecs.length
    if (n == 0) return Array.empty
    val dim = vecs(0).length
    val unit = vecs.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
      val inv = if (s > 0) 1.0 / math.sqrt(s) else 0.0
      val u = new Array[Double](v.length)
      i = 0; while (i < v.length) { u(i) = v(i) * inv; i += 1 }
      u
    }
    val kk = math.min(k, n)
    var centroids = Array.tabulate(kk)(i => unit(i).clone())
    val assign = new Array[Int](n)
    var round = 0
    while (round < 3) { // assign, then (twice) update + reassign
      var r = 0
      while (r < n) {
        val u = unit(r)
        var best = 0; var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < kk) {
          val ctr = centroids(c)
          var d = 0.0; var i = 0
          while (i < dim && i < u.length) { d += u(i) * ctr(i); i += 1 }
          if (d > bestDot) { bestDot = d; best = c }
          c += 1
        }
        assign(r) = best
        r += 1
      }
      round += 1
      if (round < 3) {
        val sums = Array.fill(kk)(new Array[Double](dim))
        val counts = new Array[Int](kk)
        r = 0
        while (r < n) {
          val u = unit(r); val s = sums(assign(r))
          var i = 0
          while (i < dim && i < u.length) { s(i) += u(i); i += 1 }
          counts(assign(r)) += 1
          r += 1
        }
        centroids = Array.tabulate(kk) { c =>
          if (counts(c) == 0) centroids(c)
          else {
            val s = sums(c)
            var norm = 0.0; var i = 0
            while (i < dim) { norm += s(i) * s(i); i += 1 }
            val inv = if (norm > 0) 1.0 / math.sqrt(norm) else 0.0
            val out = new Array[Double](dim)
            i = 0; while (i < dim) { out(i) = s(i) * inv; i += 1 }
            out
          }
        }
      }
    }
    assign
  }

  /** Within-cluster near-dup pairs under [[hierarchicalClusters]] —
    * the SemDeDup pair stage for corpora past the flat-k cap. Same
    * contract as [[semanticDupPairs]]: only same-(coarse, salt, sub)
    * pairs are scored, Σ n_c² bounded by targetClusterSize × n.
    */
  def semanticDupPairsHierarchical(df: DataFrame, threshold: Double,
                                   targetClusterSize: Int = 256,
                                   coarseK: Int = 0,
                                   maxLocal: Int = 65536, iters: Int = 1,
                                   idCol: String = "vec_id",
                                   vecCol: String = "embedding"): DataFrame = {
    val members = hierarchicalClusters(df, targetClusterSize, coarseK,
      maxLocal, iters, idCol, vecCol)
    val key = Seq(col("coarse"), col("salt"), col("sub"))
    val a = members.select(key :+ col(idCol).as("id_a") :+
      col(vecCol).as("vec_a"): _*)
    val b = members.select(key :+ col(idCol).as("id_b") :+
      col(vecCol).as("vec_b"): _*)
    a.join(b, Seq("coarse", "salt", "sub"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", cosine(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** SemDeDup end-to-end through the hierarchical pair stage — the
    * drop-in for [[semanticDedup]] when the corpus outgrows flat k.
    */
  def semanticDedupHierarchical(df: DataFrame, threshold: Double,
                                targetClusterSize: Int = 256,
                                coarseK: Int = 0, maxLocal: Int = 65536,
                                iters: Int = 1,
                                idCol: String = "vec_id",
                                vecCol: String = "embedding"): DataFrame = {
    val pairs = semanticDupPairsHierarchical(df, threshold,
      targetClusterSize, coarseK, maxLocal, iters, idCol, vecCol)
      .select(col("id_a"), col("id_b"))
    val cc = Dedup.connectedComponents(pairs)
    val drop = cc.filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }
}
