package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

import graft.functions.NativeExpressions

/** Product quantization (PQ) — the compressed-domain representation a
  * 100 TB embedding corpus actually stores and scans: each vector is
  * split into `m` subvectors, each subvector replaced by the index of
  * its nearest codebook centroid, so a D-dim float vector (4·D bytes)
  * becomes `m` small integers (m bytes at k≤256) plus one stored norm.
  * At D=64, m=8: 32× less vector data on disk, in the scan, and
  * through the broadcast.
  *
  * Search is ADC (asymmetric distance computation): the full-precision
  * QUERY is turned into a lookup table of its dot products with every
  * codebook centroid (m·k entries, built once per query), after which
  * scoring a candidate is `m` table lookups + adds instead of a D-mult
  * dot product — and only the code column is read. Like every
  * approximate path here, the shortlist is then RE-SCORED with exact
  * cosine over the full-precision vectors of the shortlisted ids only,
  * so quantization error can cost a candidate but never mis-rank the
  * final answer.
  *
  * Training runs driver-local Lloyd's on a BOUNDED deterministic
  * sample (the standard PQ practice — codebooks are m·k·(D/m) floats
  * learned from ~10⁴-10⁵ rows regardless of corpus size; the corpus
  * itself never leaves the executors and is encoded by a native
  * kernel).
  */
object Pq {

  /** Trained codebooks: `codebooks(j)(c)` is centroid `c` of subspace
    * `j` (length `subDim`). `m = codebooks.length`; dim = m·subDim.
    */
  final case class PqModel(subDim: Int,
                           codebooks: Array[Array[Array[Float]]]) {
    def m: Int = codebooks.length
    def k: Int = codebooks.headOption.map(_.length).getOrElse(0)
    def dim: Int = m * subDim
    /** Flattened `[(j·k + c)·subDim + d]` layout for the kernels. */
    private[Pq] lazy val flat: Array[Float] = {
      val out = new Array[Float](m * k * subDim)
      var j = 0
      while (j < m) {
        var c = 0
        while (c < k) {
          System.arraycopy(codebooks(j)(c), 0, out, (j * k + c) * subDim,
            subDim)
          c += 1
        }
        j += 1
      }
      out
    }
  }

  /** Deterministic driver-local Lloyd's: init = the first `k` distinct
    * points in sample order (padded by repetition when the sample has
    * fewer — duplicate centroids are harmless, argmin ties break to
    * the lowest index so they are never chosen).
    */
  private def localKMeans(pts: Array[Array[Float]], k: Int,
                          iters: Int): Array[Array[Float]] = {
    val sub = pts(0).length
    val init = scala.collection.mutable.ArrayBuffer[Array[Float]]()
    val seen = scala.collection.mutable.HashSet[Seq[Float]]()
    var i = 0
    while (i < pts.length && init.size < k) {
      if (seen.add(pts(i).toSeq)) init += pts(i)
      i += 1
    }
    while (init.size < k) init += init(init.size % math.max(1, seen.size))
    var cents = init.toArray.map(_.clone)
    var it = 0
    while (it < iters) {
      val sums = Array.ofDim[Double](k, sub)
      val counts = new Array[Long](k)
      pts.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var x = 0
          while (x < sub) {
            val t = p(x) - cents(c)(x); d += t * t; x += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var x = 0
        while (x < sub) { sums(best)(x) += p(x); x += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c) // empty cluster keeps its centroid
        else Array.tabulate(sub)(x => (sums(c)(x) / counts(c)).toFloat)
      }
      it += 1
    }
    cents
  }

  /** Train codebooks on a bounded, hash-ordered (deterministic,
    * partitioning-independent) sample of the corpus.
    */
  def train(df: DataFrame, m: Int = 8, k: Int = 16, iters: Int = 8,
            sampleN: Int = 4096, seed: Long = 42L,
            idCol: String = "vec_id",
            vecCol: String = "embedding"): PqModel = {
    require(m >= 1 && k >= 1, s"m=$m, k=$k must be positive")
    val rows = df.filter(col(vecCol).isNotNull)
      .orderBy(xxhash64(col(idCol), lit(seed)), col(idCol)).limit(sampleN)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)
    require(rows.nonEmpty, "cannot train PQ on an empty corpus")
    val dim = rows(0).length
    require(dim % m == 0, s"dim $dim is not divisible by m=$m")
    val sub = dim / m
    val codebooks = Array.tabulate(m) { j =>
      localKMeans(rows.map(v =>
        java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub)), k, iters)
    }
    PqModel(sub, codebooks)
  }

  // ── Model persistence ─────────────────────────────────────────────────
  // The FAISS contract: codebooks are part of the index artifact,
  // trained once at build time and reloaded cold — never re-trained per
  // query. m·k·subDim floats ≈ a few KB; one tiny parquet like the IVF
  // centroid matrix (Ivf.saveModel).

  /** Persist the codebooks under `path`: one row per (subspace, code)
    * with its `subDim`-float centroid.
    */
  def saveModel(spark: org.apache.spark.sql.SparkSession, model: PqModel,
                path: String): Unit = {
    import spark.implicits._
    (for (j <- 0 until model.m; c <- 0 until model.k)
      yield (j, c, model.codebooks(j)(c).toSeq))
      .toDF("subspace", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadModel(spark: org.apache.spark.sql.SparkSession,
                path: String): PqModel = {
    val rows = spark.read.parquet(path)
      .orderBy(col("subspace"), col("code"))
      .select(col("subspace"), col("code"), col("centroid"))
      .collect()
    require(rows.nonEmpty, s"no PQ codebooks at $path")
    val m = rows.map(_.getInt(0)).max + 1
    val k = rows.map(_.getInt(1)).max + 1
    require(rows.length == m * k,
      s"PQ codebooks at $path are ragged: ${rows.length} rows != $m*$k")
    val sub = rows(0).getSeq[Float](2).length
    val cbs = Array.ofDim[Array[Float]](m, k)
    rows.foreach(r => cbs(r.getInt(0))(r.getInt(1)) = r.getSeq[Float](2).toArray)
    PqModel(sub, cbs)
  }

  // stat-keyed per-path cache, same protocol as Ivf.modelCache: a
  // rebuild changes (mtime, file count, bytes), so staleness costs one
  // FS listing per search — never a Spark job
  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[String, ((Long, Long, Long), PqModel)]

  def loadModelCached(spark: org.apache.spark.sql.SparkSession,
                      path: String): PqModel = {
    val sig = graft.engine.Scratch.stat(spark, path)
    modelCache.compute(path, (_, cached) => cached match {
      case (s, _) if s == sig => cached
      case _ => (sig, loadModel(spark, path))
    })._2
  }

  // ── Native kernels ────────────────────────────────────────────────────

  /** vec → struct(codes array<int>, norm double): per subspace the
    * argmin-L2 codebook index, plus the EXACT L2 norm (stored
    * full-precision so the approximate-cosine denominator carries no
    * quantization error). Null vector, wrong length, or null element →
    * null struct, matching the cosine kernel's null contract.
    */
  private[graft] case class PqEncode(child: Expression, flat: Array[Float],
                                     m: Int, k: Int, subDim: Int)
      extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
    override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
    override def dataType: DataType = StructType(Seq(
      StructField("codes", ArrayType(IntegerType, containsNull = false)),
      StructField("norm", DoubleType)))
    override def nullSafeEval(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData]
      val dim = m * subDim
      if (v.numElements() != dim) return null
      var i = 0
      while (i < dim) { if (v.isNullAt(i)) return null; i += 1 }
      val codes = new Array[Any](m)
      var norm = 0.0
      var j = 0
      while (j < m) {
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var x = 0
          val base = (j * k + c) * subDim
          while (x < subDim) {
            val t = v.getFloat(j * subDim + x) - flat(base + x)
            d += t * t; x += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        codes(j) = best
        j += 1
      }
      i = 0
      while (i < dim) {
        val f = v.getFloat(i).toDouble; norm += f * f; i += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](new GenericArrayData(codes), math.sqrt(norm)))
    }
    override protected def withNewChildInternal(c: Expression): PqEncode =
      copy(child = c)
  }

  /** query vec → ADC table (array<double>, m·k entries):
    * `t(j·k + c) = dot(q_j, codebook(j)(c))`. Built ONCE per query row
    * (staged as its own projection before the broadcast), so per-pair
    * scoring is table lookups, not dot products.
    */
  private[graft] case class PqAdcTable(child: Expression, flat: Array[Float],
                                       m: Int, k: Int, subDim: Int)
      extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
    override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullSafeEval(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData]
      val dim = m * subDim
      if (v.numElements() != dim) return null
      var i = 0
      while (i < dim) { if (v.isNullAt(i)) return null; i += 1 }
      val t = new Array[Any](m * k)
      var j = 0
      while (j < m) {
        var c = 0
        while (c < k) {
          var acc = 0.0; var x = 0
          val base = (j * k + c) * subDim
          while (x < subDim) {
            acc += v.getFloat(j * subDim + x).toDouble * flat(base + x)
            x += 1
          }
          t(j * k + c) = acc
          c += 1
        }
        j += 1
      }
      new GenericArrayData(t)
    }
    override protected def withNewChildInternal(c: Expression): PqAdcTable =
      copy(child = c)
  }

  /** (ADC table, codes) → approximate inner product: `m` lookups. */
  private[graft] case class PqAdcScore(left: Expression, right: Expression,
                                       k: Int)
      extends BinaryExpression with ExpectsInputTypes with CodegenFallback {
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(DoubleType), ArrayType(IntegerType))
    override def dataType: DataType = DoubleType
    override def nullSafeEval(l: Any, r: Any): Any = {
      val table = l.asInstanceOf[ArrayData]
      val codes = r.asInstanceOf[ArrayData]
      val m = codes.numElements()
      if (table.numElements() != m * k) return null
      var acc = 0.0
      var j = 0
      while (j < m) {
        if (codes.isNullAt(j)) return null
        acc += table.getDouble(j * k + codes.getInt(j))
        j += 1
      }
      acc
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): PqAdcScore = copy(left = l, right = r)
  }

  def encodeStruct(vec: Column, model: PqModel): Column =
    ColumnBridge.column(PqEncode(ColumnBridge.expression(vec), model.flat,
      model.m, model.k, model.subDim))

  def adcTable(vec: Column, model: PqModel): Column =
    ColumnBridge.column(PqAdcTable(ColumnBridge.expression(vec), model.flat,
      model.m, model.k, model.subDim))

  def adcScore(table: Column, codes: Column, k: Int): Column =
    ColumnBridge.column(PqAdcScore(ColumnBridge.expression(table),
      ColumnBridge.expression(codes), k))

  /** Corpus + `pq_code` (array<int>, m entries) + `pq_norm` (exact L2)
    * columns. The kernel is staged as its own projection so the two
    * field reads share ONE evaluation (NOTES lesson #1).
    */
  def withCodes(df: DataFrame, model: PqModel,
                vecCol: String = "embedding",
                codeCol: String = "pq_code",
                normCol: String = "pq_norm"): DataFrame = {
    val keep = df.columns.map(col).toIndexedSeq
    df.select(keep :+ encodeStruct(col(vecCol), model).as("__pq"): _*)
      .select(keep :+ col("__pq.codes").as(codeCol) :+
        col("__pq.norm").as(normCol): _*)
  }

  /** Approximate cosine for candidate pairs: ADC inner product over
    * the stored exact norm. The query's own norm is a per-query
    * constant, so it cannot change any per-query ranking and is
    * omitted; a zero-norm candidate scores null (like the exact
    * kernel), never ±Infinity.
    */
  private[operators] def approxScore(model: PqModel): Column =
    adcScore(col("__t"), col("pq_code"), model.k) /
      when(col("pq_norm") =!= 0.0, col("pq_norm"))

  /** Candidates kept per query for the exact rescore: `rescoreK`
    * (never below k), or 4k when it is 0.
    */
  private[operators] def shortlistLength(rescoreK: Int, k: Int): Int =
    if (rescoreK > 0) math.max(rescoreK, k) else 4 * k

  /** Shortlist → exact-cosine rescore → final top-k: the shared tail of
    * every approximate search, in memory and over a stored index.
    */
  private[operators] def rescoreExact(cands: DataFrame, corpus: DataFrame,
                           queries: DataFrame, k: Int, shortK: Int,
                           idCol: String, vecCol: String): DataFrame = {
    val spark = corpus.sparkSession
    val shortlist = TopK.topKPerKey(cands, shortK)(spark)
      .select(col("q_id"), col("n_id"))
    val exact = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
      .join(broadcast(shortlist), Seq("n_id"))
      .join(broadcast(queries.select(col(idCol).as("q_id"),
        col(vecCol).as("q_vec"))), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        NativeExpressions.cosine(col("q_vec"), col("n_vec")).as("cosine"))
    TopK.topKPerKey(exact, k)(spark)
  }

  /** ADC top-k over the WHOLE encoded corpus (every candidate scored
    * from its m-byte code — the documented exhaustive-compressed
    * baseline, the PQ analogue of `bruteForceTopK`), then exact
    * rescore of the `rescoreK` shortlist (default 4k).
    */
  def topK(corpus: DataFrame, queries: DataFrame, model: PqModel, k: Int,
           rescoreK: Int = 0, idCol: String = "vec_id",
           vecCol: String = "embedding"): DataFrame = {
    val shortK = shortlistLength(rescoreK, k)
    val c = withCodes(corpus, model, vecCol)
      .select(col(idCol).as("n_id"), col("pq_code"), col("pq_norm"))
    val q = queries.select(col(idCol).as("q_id"),
      adcTable(col(vecCol), model).as("__t"))
    val cands = c.crossJoin(broadcast(q))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), approxScore(model).as("cosine"))
    rescoreExact(cands, corpus, queries, k, shortK, idCol, vecCol)
  }

  // ── Residual encoding (IVF-PQ proper) ────────────────────────────────
  //
  // Plain PQ quantizes the VECTOR; residual PQ quantizes v − c(v),
  // the offset from the vector's assigned IVF centroid. Residuals
  // concentrate near the origin with far smaller spread than the
  // vectors themselves, so the same m·k code budget spends its
  // resolution where the data actually is — the standard recall win
  // at identical code size (FAISS's IVFPQ default; see Jégou et al.,
  // "Product Quantization for Nearest Neighbor Search", TPAMI 2011,
  // §IV.C). Scoring stays ADC-shaped because the inner product
  // decomposes: dot(q, v) = dot(q, c) + dot(q, r) — one per-(query,
  // probe) centroid dot plus the SAME per-query ADC table lookups
  // (the residual codebooks are shared across clusters, so the table
  // is still built once per query, not once per probe).

  /** Train codebooks on RESIDUALS of a bounded deterministic sample
    * (same sampling protocol as [[train]]; assignment via the IVF
    * model's own argmax-cosine kernel so build and search agree on
    * c(v)).
    */
  def trainResidual(df: DataFrame, ivf: Ivf.IvfModel, m: Int = 8,
                    k: Int = 16, iters: Int = 8, sampleN: Int = 4096,
                    seed: Long = 42L, idCol: String = "vec_id",
                    vecCol: String = "embedding"): PqModel = {
    require(m >= 1 && k >= 1, s"m=$m, k=$k must be positive")
    val rows = Ivf.assign(df.filter(col(vecCol).isNotNull), ivf, vecCol)
      .orderBy(xxhash64(col(idCol), lit(seed)), col(idCol)).limit(sampleN)
      .select(col(vecCol), col("cluster")).collect()
      .map { r =>
        val v = r.getSeq[Float](0).toArray
        val cen = ivf.centroids(r.getInt(1))
        Array.tabulate(v.length)(i => (v(i) - cen(i)).toFloat)
      }
    require(rows.nonEmpty, "cannot train residual PQ on an empty corpus")
    val dim = rows(0).length
    require(dim % m == 0, s"dim $dim is not divisible by m=$m")
    val sub = dim / m
    val codebooks = Array.tabulate(m) { j =>
      localKMeans(rows.map(v =>
        java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub)), k, iters)
    }
    PqModel(sub, codebooks)
  }

  /** Centroid matrix as a literal column (k×dim doubles ride the plan
    * like the NearestCentroids kernel's copy — no broadcast round
    * trip).
    */
  private[operators] def centroidsLit(ivf: Ivf.IvfModel): Column =
    typedlit(ivf.centroids.map(_.toSeq).toSeq)

  /** `cluster`-assigned corpus + residual `pq_code` + EXACT vector
    * norm. The residual is built declaratively (one zip_with per row
    * at index-BUILD time, never per candidate pair) and encoded by the
    * same kernel as plain PQ; the stored norm is of the ORIGINAL
    * vector — the approximate-cosine denominator must not see the
    * residual decomposition.
    */
  def withResidualCodes(df: DataFrame, ivf: Ivf.IvfModel, model: PqModel,
                        vecCol: String = "embedding",
                        codeCol: String = "pq_code",
                        normCol: String = "pq_norm"): DataFrame = {
    val assigned = Ivf.assign(df, ivf, vecCol)
    val keep = assigned.columns.map(col).toIndexedSeq
    val residual = zip_with(col(vecCol),
      element_at(centroidsLit(ivf), col("cluster") + 1),
      (a, b) => (a - b).cast("float"))
    assigned
      .select(keep :+ encodeStruct(residual, model).as("__pq"): _*)
      .select(keep :+ col("__pq.codes").as(codeCol) :+
        sqrt(aggregate(col(vecCol), lit(0.0d),
          (acc, x) => acc + x * x)).as(normCol): _*)
  }

  /** Residual-ADC candidate scoring over a residual-ENCODED corpus
    * (`n_id`, `pq_code`, `pq_norm`, `cluster`) — the shortlist stage
    * of [[topKClusteredResidual]]; [[Ivf.Shortlist.PqResidual]] stages
    * the same three pieces over a stored index. Per (query, probe):
    * the shared ADC table plus the centroid dot — nq·nprobe rows of
    * driver-free arithmetic, built BEFORE the broadcast so the
    * candidate join pays lookups only; approximate cosine =
    * (dot(q, centroid) + ADC(residual)) over the stored EXACT norm.
    */
  private[operators] def residualCandidates(
      encoded: DataFrame, queries: DataFrame,
      ivf: Ivf.IvfModel, model: PqModel, nprobe: Int,
      idCol: String, vecCol: String): DataFrame = {
    import NativeExpressions.nearestCentroids
    val q = withCentroidDot(queries.select(
      (col(idCol).as("q_id") +: residualQueryCols(model, vecCol)) :+
        explode(nearestCentroids(col(vecCol), ivf.centroids, nprobe))
          .as("cluster"): _*), ivf)
    encoded.join(broadcast(q), Seq("cluster"))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), residualScore(model).as("cosine"))
  }

  /** The per-query residual-ADC inputs: the vector and its ADC table. */
  private[operators] def residualQueryCols(model: PqModel,
                                           vecCol: String): Seq[Column] =
    Seq(col(vecCol).as("__qv"), adcTable(col(vecCol), model).as("__t"))

  /** dot(q, centroid) per (query, probed `cluster`), replacing `__qv`. */
  private[operators] def withCentroidDot(q: DataFrame,
                                         ivf: Ivf.IvfModel): DataFrame =
    q.withColumn("__qc", aggregate(
        zip_with(col("__qv"),
          element_at(centroidsLit(ivf), col("cluster") + 1),
          (a, b) => a * b),
        lit(0.0d), (acc, x) => acc + x))
      .drop("__qv")

  /** (dot(q, centroid) + ADC(residual)) over the stored exact norm. */
  private[operators] def residualScore(model: PqModel): Column =
    (col("__qc") + adcScore(col("__t"), col("pq_code"), model.k)) /
      when(col("pq_norm") =!= 0.0, col("pq_norm"))

  /** IVF-PQ with residual codes: same probe/shortlist/rescore shape as
    * [[topKClustered]], scored as (dot(q, centroid) + ADC(residual))
    * over the exact norm.
    */
  def topKClusteredResidual(corpus: DataFrame, queries: DataFrame,
                            ivf: Ivf.IvfModel, model: PqModel, k: Int,
                            nprobe: Int = 2, rescoreK: Int = 0,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val shortK = shortlistLength(rescoreK, k)
    val c = withResidualCodes(corpus, ivf, model, vecCol)
      .select(col(idCol).as("n_id"), col("pq_code"), col("pq_norm"),
        col("cluster"))
    val cands = residualCandidates(c, queries, ivf, model, nprobe,
      idCol, vecCol)
    rescoreExact(cands, corpus, queries, k, shortK, idCol, vecCol)
  }

  /** IVF + PQ: candidates from the query's `nprobe` nearest clusters
    * only (equi-join on cluster id), scored from codes, shortlist
    * rescored exact — the full FAISS-IVFPQ shape, on DataFrames.
    */
  def topKClustered(corpus: DataFrame, queries: DataFrame,
                    ivf: Ivf.IvfModel, model: PqModel, k: Int,
                    nprobe: Int = 2, rescoreK: Int = 0,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    import NativeExpressions.nearestCentroids
    val shortK = shortlistLength(rescoreK, k)
    val c = withCodes(Ivf.assign(corpus, ivf, vecCol), model, vecCol)
      .select(col(idCol).as("n_id"), col("pq_code"), col("pq_norm"),
        col("cluster"))
    val q = queries.select(col(idCol).as("q_id"),
      adcTable(col(vecCol), model).as("__t"),
      explode(nearestCentroids(col(vecCol), ivf.centroids, nprobe))
        .as("cluster"))
    val cands = c.join(broadcast(q), Seq("cluster"))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), approxScore(model).as("cosine"))
    rescoreExact(cands, corpus, queries, k, shortK, idCol, vecCol)
  }
}
