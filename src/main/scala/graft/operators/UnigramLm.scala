package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextFunctions

/** Unigram language-model tokenizer (the SentencePiece-unigram family
  * — Kudo 2018), trained with hard EM: seed a substring vocabulary,
  * then alternate Viterbi segmentation of the word table (E-step,
  * counts) with count-renormalized piece scores (M-step). The BPE
  * trainer's sibling: BPE grows a vocabulary bottom-up by merges;
  * unigram starts over-complete and lets EM concentrate mass on the
  * pieces that actually explain the corpus.
  *
  * Exactness discipline (the KN/DSIR convention): piece scores are
  * log-probabilities in MICROS, rounded ONCE per piece per round —
  * `round(1e6 · ln(cnt/C))` computed by Spark expressions (Spark
  * `round`/`log` ≡ DuckDB `round`/`ln`, half-away-from-zero both
  * sides) — and the Viterbi DP then runs in pure int64 (score sums
  * and comparisons are exact integer arithmetic, so the argmax path
  * is engine-reproducible and the WHOLE trainer replays in SQL as
  * unrolled DP + backtrack CTEs, one set per EM round). Ties break
  * deterministically: higher path score, then LONGER piece.
  *
  * Scale shape: the word table is one token-explode aggregation,
  * cached for the whole fit. The vocabulary is bounded (≤ topV +
  * alphabet rows) and lives on the driver between EM rounds: the
  * seed is collected once, and each round broadcasts the int64 score
  * map, runs Viterbi as per-DISTINCT-word local DP inside
  * `mapPartitions` (genuine per-row imperative logic — no builtin
  * expresses a DP argmax; linear in distinct words, never in corpus
  * tokens), and collects the per-piece counts of one groupBy. The
  * M-step and the rescore run on the driver, so a round never replays
  * earlier rounds' lineage and costs the E-step's jobs only. The
  * driver holds only the bounded vocabulary, never words.
  *
  * Training ignores words longer than `maxWordLen` (the SentencePiece
  * max-sentencepiece-length discipline: tail mega-tokens contribute
  * noise and unbounded DP cost); `encode` segments EVERY word — single
  * characters stay in the vocabulary across rounds (their count
  * floors at 1), so segmentation is total.
  */
object UnigramLm {

  /** `(word, f)` — the distinct-word frequency table, training-bounded. */
  def wordTable(df: DataFrame, textCol: String,
                maxWordLen: Int = 16): DataFrame =
    df.select(explode(TextFunctions.tokens(
        coalesce(col(textCol), lit("")))).as("word"))
      .filter(length(col("word")) <= maxWordLen)
      .groupBy(col("word")).agg(count(lit(1)).as("f"))

  /** Seed vocabulary: every substring of length 1..maxPieceLen counted
    * with positional multiplicity × word frequency; keep the top
    * `topV` by (cnt DESC, piece ASC) plus ALL single characters (the
    * coverage floor that keeps Viterbi total).
    */
  def seedVocab(words: DataFrame, maxPieceLen: Int = 4,
                topV: Int = 512): DataFrame = {
    val subs = words
      .select(col("word"), col("f"),
        explode(sequence(lit(1), length(col("word")))).as("i"))
      .select(col("word"), col("f"), col("i"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), length(col("word")) - col("i") + 1)))
          .as("l"))
      .select(col("word").substr(col("i"), col("l")).as("piece"), col("f"))
      .groupBy(col("piece")).agg(sum(col("f")).as("cnt"))
    val top = subs.orderBy(col("cnt").desc, col("piece").asc).limit(topV)
    val chars = subs.filter(length(col("piece")) === 1)
    top.unionByName(chars)
      .groupBy(col("piece")).agg(max(col("cnt")).as("cnt"))
  }

  private val VocabSchema = StructType(Seq(
    StructField("piece", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false)))

  /** `(piece, cnt, score_micros)` over a driver-local vocabulary:
    * score = round(1e6 · ln(cnt/C)) with C = Σ cnt — the once-per-piece
    * float rounding; everything downstream is integer. The projection
    * is Spark's own round/log (the SQL oracle shares their semantics
    * exactly) over a local relation, which the optimizer folds on the
    * driver: collecting it runs no job.
    */
  private def scoreVocab(spark: SparkSession,
                         vocab: Seq[(String, Long)]): DataFrame = {
    val c = vocab.foldLeft(0L)((a, p) => Math.addExact(a, p._2))
    require(c > 0L, "empty vocabulary — no training words")
    spark.createDataFrame(vocab.map { case (p, n) => Row(p, n) }.asJava,
        VocabSchema)
      .select(col("piece"), col("cnt"),
        round(lit(1000000.0) * log(col("cnt").cast("double") / lit(c.toDouble)))
          .cast("long").as("score_micros"))
  }

  /** Broadcast `piece → score_micros` of a scored vocabulary. */
  private def broadcastScores(
      scored: DataFrame): Broadcast[Map[String, Long]] = {
    val spark = scored.sparkSession
    import spark.implicits._
    spark.sparkContext.broadcast(scored
      .select(col("piece"), col("score_micros")).as[(String, Long)]
      .collect().toMap)
  }

  /** Score assigned to a single character the training corpus never
    * saw (byte-fallback analogue): far below any trained piece
    * (ln ≈ e⁻²⁰), so an unknown character never displaces a trained
    * parse of its neighbors, but segmentation stays TOTAL on data the
    * trainer didn't see — production encode cannot crash on a new
    * alphabet. The trainer's own word table never needs it (every
    * training char seeds the vocabulary).
    */
  val UnkScoreMicros: Long = -20000000L

  /** Integer-micros Viterbi over one word. `scores` maps piece →
    * score; single characters missing from it fall back to
    * [[UnkScoreMicros]] (self-emitting unknowns), keeping the DP
    * total. Returns the argmax path's pieces left to right.
    * Tie-break: higher score, then LONGER piece — identical to the
    * SQL replay's `ORDER BY sc DESC, l DESC`.
    */
  private[graft] def segment(word: String,
                             scores: collection.Map[String, Long],
                             maxPieceLen: Int): Seq[String] = {
    val n = word.length
    val dp = new Array[Long](n + 1)
    val bp = new Array[Int](n + 1)
    java.util.Arrays.fill(dp, Long.MinValue)
    dp(0) = 0L
    var j = 1
    while (j <= n) {
      var l = 1
      while (l <= math.min(maxPieceLen, j)) {
        val i = j - l
        if (dp(i) != Long.MinValue) {
          val sub = word.substring(i, j)
          val sc = scores.get(sub) match {
            case Some(s) => Some(s)
            case None if l == 1 => Some(UnkScoreMicros)
            case None => None
          }
          sc match {
            case Some(s) =>
              val cand = dp(i) + s
              // strictly-greater OR equal-with-longer-piece: since l
              // ascends, "equal and longer" is cand == dp(j) && l > bp(j),
              // which the >= on later (longer) l implements exactly
              if (cand > dp(j) || (cand == dp(j) && l > bp(j))) {
                dp(j) = cand; bp(j) = l
              }
            case None =>
          }
        }
        l += 1
      }
      j += 1
    }
    // backtrack
    var pos = n
    var out = List.empty[String]
    while (pos > 0) {
      val l = bp(pos)
      out = word.substring(pos - l, pos) :: out
      pos -= l
    }
    out
  }

  /** E-step: Viterbi-segment the word table under the broadcast
    * `scores` and return per-piece path counts `(piece, cnt)` weighted
    * by word frequency. The DP is per-distinct-word local work.
    */
  def viterbiCounts(words: DataFrame, scores: Broadcast[Map[String, Long]],
                    maxPieceLen: Int = 4): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    words.select(col("word"), col("f")).as[(String, Long)]
      .mapPartitions { it =>
        val sc = scores.value
        it.flatMap { case (w, f) =>
          segment(w, sc, maxPieceLen).map(p => (p, f))
        }
      }
      .toDF("piece", "f")
      .groupBy(col("piece")).agg(sum(col("f")).as("cnt"))
  }

  /** Spark's `length`: code points, not UTF-16 units. */
  private def chars(p: String): Int = p.codePointCount(0, p.length)

  /** Spark's `(cnt DESC, piece ASC)`: strings compare in UTF-8 byte
    * order, which differs from `String.compareTo` above the BMP.
    */
  private val ByCntDescPieceAsc: Ordering[(String, Long)] =
    (a: (String, Long), b: (String, Long)) =>
      if (a._2 != b._2) java.lang.Long.compare(b._2, a._2)
      else UTF8String.fromString(a._1).compareTo(UTF8String.fromString(b._1))

  /** M-step: pieces keep their Viterbi count; zero-count pieces drop
    * EXCEPT single characters, which floor at 1 (coverage). With
    * `targetV` set, additionally prune to the top `targetV` pieces by
    * (cnt DESC, piece ASC) — single characters always survive (the
    * SentencePiece prune-to-vocab-size control, hard-EM edition: EM
    * re-concentrates the surviving mass next round).
    */
  private def mStep(vocab: Seq[(String, Long)], counts: Map[String, Long],
                    targetV: Option[Int]): Seq[(String, Long)] = {
    val kept = vocab.flatMap { case (p, _) =>
      val n = counts.getOrElse(p, 0L)
      val c = if (chars(p) == 1) math.max(n, 1L) else n
      if (c > 0L) Some(p -> c) else None
    }
    targetV match {
      case None => kept
      case Some(v) =>
        val top = kept.sorted(ByCntDescPieceAsc).take(v).map(_._1).toSet
        kept.filter { case (p, _) => top(p) || chars(p) == 1 }
    }
  }

  /** Full trainer: seed → `rounds` × (E-step, M-step) → scored
    * vocabulary `(piece, cnt, score_micros)`, a driver-local relation
    * (collecting it runs no job). `targetV` prunes each M-step to a
    * vocabulary-size budget (single chars exempt).
    */
  def train(df: DataFrame, textCol: String, rounds: Int = 2,
            maxPieceLen: Int = 4, topV: Int = 512,
            maxWordLen: Int = 16, targetV: Option[Int] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val words = wordTable(df, textCol, maxWordLen)
    // the word table feeds the seed and every E-step — one scan.
    // try/finally: the empty-corpus loud failure (scoreVocab) must not
    // leak the cached table into the session (the cache-hygiene
    // contract, QueriesSpec / VERDICT r3); blocking so a hygiene check
    // right after the operator returns sees zero persisted blocks
    words.cache()
    try {
      var vocab: Seq[(String, Long)] =
        seedVocab(words, maxPieceLen, topV).as[(String, Long)].collect().toSeq
      var r = 0
      while (r < rounds) {
        val bc = broadcastScores(scoreVocab(spark, vocab))
        val counts =
          try viterbiCounts(words, bc, maxPieceLen).as[(String, Long)]
            .collect().toMap
          finally bc.destroy()
        vocab = mStep(vocab, counts, targetV)
        r += 1
      }
      scoreVocab(spark, vocab)
    } finally words.unpersist(blocking = true)
  }

  // ── Vocabulary shipping (the tokenizer-deployment artifact) ────────
  // A trained tokenizer is an OFFLINE artifact: train once, ship the
  // vocabulary, and every consumer (encode / surprisal / packing) runs
  // without retraining — the IVF ensureIndex contract applied to the
  // tokenizer. The artifact persists maxPieceLen WITH the pieces: a
  // consumer who reloads the vocabulary but segments under a different
  // maxPieceLen than training gets silently different parses (longer
  // trained pieces become unreachable, or untrained lengths open up) —
  // the one parameter mismatch the pieces table itself cannot reveal.

  /** Persist a trained vocabulary: `<path>/pieces` (bounded parquet,
    * one file) + `<path>/_VOCAB_META` (`maxPieceLen=<n>`).
    */
  def saveVocab(scored: DataFrame, maxPieceLen: Int, path: String): Unit = {
    val spark = scored.sparkSession
    scored.select(col("piece"), col("cnt"), col("score_micros"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/pieces")
    val p = new org.apache.hadoop.fs.Path(s"$path/_VOCAB_META")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val o = fs.create(p, true)
    o.write(s"maxPieceLen=$maxPieceLen".getBytes("UTF-8")); o.close()
  }

  /** Reload a shipped vocabulary: `(scored pieces, maxPieceLen)`.
    * Loud on a malformed artifact (missing meta, wrong schema) — a
    * tokenizer mismatch must never degrade into silent resegmentation.
    */
  def loadVocab(spark: SparkSession, path: String): (DataFrame, Int) = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_VOCAB_META")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"not a unigram vocab artifact (no _VOCAB_META): $path")
    val in = fs.open(p)
    val meta = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    val maxPieceLen = meta.linesIterator
      .collectFirst { case s if s.startsWith("maxPieceLen=") =>
        s.stripPrefix("maxPieceLen=").trim.toInt }
      .getOrElse(throw new IllegalArgumentException(
        s"malformed _VOCAB_META at $path: '$meta'"))
    val pieces = spark.read.parquet(s"$path/pieces")
    val need = Set("piece", "cnt", "score_micros")
    require(need.subsetOf(pieces.columns.toSet),
      s"vocab schema mismatch at $path: ${pieces.columns.mkString(",")}")
    (pieces.select(col("piece"), col("cnt"), col("score_micros")),
      maxPieceLen)
  }

  /** Build-if-stale shipped vocabulary ([[graft.engine.Scratch.ensureAt]]
    * freshness protocol): retrains only when the source corpus or any
    * training parameter changes; otherwise the artifact on disk serves
    * every consumer. Returns [[loadVocab]]'s reload of it.
    */
  def ensureVocab(df: DataFrame, sourcePath: String, vocabPath: String,
                  textCol: String, rounds: Int = 2, maxPieceLen: Int = 4,
                  topV: Int = 512, maxWordLen: Int = 16,
                  targetV: Option[Int] = None): (DataFrame, Int) = {
    graft.engine.Scratch.ensureAt(df.sparkSession, vocabPath, sourcePath,
      fingerprint = s"src=$sourcePath,textCol=$textCol,rounds=$rounds," +
        s"maxPieceLen=$maxPieceLen,topV=$topV,maxWordLen=$maxWordLen," +
        s"targetV=${targetV.getOrElse(-1)}",
      markerName = "_VOCAB_READY") { dir =>
      saveVocab(train(df, textCol, rounds, maxPieceLen, topV, maxWordLen,
        targetV), maxPieceLen, dir)
    }
    loadVocab(df.sparkSession, vocabPath)
  }

  /** Per-document LM surprisal under a trained vocabulary: `(id,
    * n_pieces, score_micros)` where score_micros = Σ piece scores
    * along each token's Viterbi path (≡ the DP's final value — an
    * integer, so the quality signal is engine-exact). The CCNet-style
    * filter's scoring half with the unigram LM in place of KN:
    * low-scoring docs (per piece) are the distribution outliers.
    */
  def surprisal(df: DataFrame, textCol: String, idCol: String,
                scored: DataFrame, maxPieceLen: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = broadcastScores(scored)
    df.select(col(idCol).cast("long"),
        TextFunctions.tokens(coalesce(col(textCol), lit(""))))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val sc = bc.value
        it.map { case (id, toks) =>
          val pieces = toks.flatMap(w => segment(w, sc, maxPieceLen))
          val total = pieces.iterator
            .map(p => sc.getOrElse(p, UnkScoreMicros)).sum
          (id, pieces.length.toLong, total)
        }
      }
      .toDF(idCol, "n_pieces", "score_micros")
  }

  /** Segment every document under a trained vocabulary: `(id, encoded,
    * n_pieces)` with pieces space-joined in token order (array-typed
    * gate columns crash the driver compare — the q_t_postings CSV
    * convention).
    */
  def encode(df: DataFrame, textCol: String, idCol: String,
             scored: DataFrame, maxPieceLen: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = broadcastScores(scored)
    df.select(col(idCol).cast("long"),
        TextFunctions.tokens(coalesce(col(textCol), lit(""))))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val sc = bc.value
        it.map { case (id, toks) =>
          val pieces = toks.flatMap(w => segment(w, sc, maxPieceLen))
          (id, pieces.mkString(" "), pieces.length.toLong)
        }
      }
      .toDF(idCol, "encoded", "n_pieces")
  }
}
