package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.UnigramLm

/** The unigram trainer as a pure DataFrame pipeline: the vocabulary is
  * re-derived lazily each EM round (seed → E-step → join/window M-step
  * → rescore). `UnigramLm.train` keeps the vocabulary on the driver
  * between rounds instead; this form is the reference it is pinned
  * equal to, in rows and in schema.
  */
object UnigramLmReference {

  def withScores(vocab: DataFrame): DataFrame = {
    val c = vocab.agg(coalesce(sum(col("cnt")), lit(0L))).head().getLong(0)
    require(c > 0L, "empty vocabulary — no training words")
    vocab.select(col("piece"), col("cnt"),
      round(lit(1000000.0) * log(col("cnt").cast("double") / lit(c.toDouble)))
        .cast("long").as("s"))
  }

  def viterbiCounts(words: DataFrame, scored: DataFrame,
                    maxPieceLen: Int): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val m = scored.select(col("piece"), col("s")).as[(String, Long)]
      .collect().toMap
    val bc = spark.sparkContext.broadcast(m)
    words.select(col("word"), col("f")).as[(String, Long)]
      .mapPartitions { it =>
        val sc = bc.value
        it.flatMap { case (w, f) =>
          UnigramLm.segment(w, sc, maxPieceLen).map(p => (p, f))
        }
      }
      .toDF("piece", "f")
      .groupBy(col("piece")).agg(sum(col("f")).as("cnt"))
  }

  def mStep(vocab: DataFrame, counts: DataFrame,
            targetV: Option[Int]): DataFrame = {
    val kept = vocab.select(col("piece"))
      .join(counts, Seq("piece"), "left")
      .select(col("piece"),
        when(length(col("piece")) === 1,
          greatest(coalesce(col("cnt"), lit(0L)), lit(1L)))
          .otherwise(coalesce(col("cnt"), lit(0L))).as("cnt"))
      .filter(col("cnt") > 0L)
    targetV match {
      case None => kept
      case Some(v) =>
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("piece").asc)
        kept.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= v || length(col("piece")) === 1)
          .select(col("piece"), col("cnt"))
    }
  }

  def train(df: DataFrame, textCol: String, rounds: Int = 2,
            maxPieceLen: Int = 4, topV: Int = 512,
            maxWordLen: Int = 16, targetV: Option[Int] = None): DataFrame = {
    val words = UnigramLm.wordTable(df, textCol, maxWordLen)
    words.cache()
    try {
      var vocab = UnigramLm.seedVocab(words, maxPieceLen, topV)
      var r = 0
      while (r < rounds) {
        val scored = withScores(vocab)
        vocab = mStep(vocab, viterbiCounts(words, scored, maxPieceLen),
          targetV)
        r += 1
      }
      val out = withScores(vocab)
        .select(col("piece"), col("cnt"), col("s").as("score_micros"))
      out.count()
      out
    } finally words.unpersist(blocking = true)
  }
}
