package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, Trigger}

import graft.operators.{ClusterStore, Preference}

/** Preference resolution as a structured stream — continuous
  * annotation ingest for the pipeline [[Preference.resolveAnnotations]]
  * runs in batch. Votes arrive in epochs (an annotation UI flushes
  * files); each pair's majority is REVISION-PRONE by nature — a later
  * batch can flip a winner, surface a conflict, or cancel a rater who
  * contradicted herself across batches — so the streaming output is a
  * resolution CHANGELOG in append mode: one row per (pair, update)
  * with a per-pair monotone `upd` counter, latest row = current
  * resolution. Downstream consumers take max(upd) per pair (exactly
  * how CDC consumers read an upsert changelog); the latest rows with
  * n_votes > 0 are BIT-IDENTICAL to the batch resolver over the whole
  * feed, which is what the gate's oracle checks.
  *
  * State per pair is the per-rater side map (rater → saw-lo?, saw-hi?)
  * — the minimum that makes cross-batch hygiene exact: a rater's
  * batches-apart contradiction must cancel exactly like a same-batch
  * one (OR-ing sides per rater ≡ batch perRater over the union).
  * State size ∝ raters-per-pair (bounded by the annotation protocol,
  * the KMV bounded-state discipline), never votes-per-pair.
  *
  * Run-to-run protocol: AvailableNow over a parquet feed dir with the
  * checkpoint holding the state — the StreamingCurate epoch contract
  * (write files, run, write more, run again; a replayed batch is
  * re-absorbed idempotently because OR-ing an already-seen side is a
  * no-op — though its changelog row re-emits, latest-wins consumers
  * are unaffected).
  */
object StreamingPreference {

  final case class Vote(prompt_id: Long, lo: Long, hi: Long,
                        rater: Long, prefer_lo: Boolean)
  final case class PairState(upd: Int,
                             raters: Map[Long, (Boolean, Boolean)])
  final case class Resolution(prompt_id: Long, lo: Long, hi: Long,
                              upd: Int, n_votes: Long, n_lo: Long,
                              n_hi: Long, winner: Option[String],
                              conflict: Boolean, margin_micros: Long)

  /** Drain everything unprocessed in `feedDir` (annotations with
    * columns promptCol/aCol/bCol/preferACol/raterCol), appending
    * resolution-changelog rows to `outDir`; returns the accumulated
    * changelog. Orientation normalization and malformed-row drops are
    * [[Preference.normalized]] itself, applied scan-side.
    */
  def resolutionStream(spark: SparkSession, feedDir: String,
                       outDir: String, checkpoint: String,
                       promptCol: String = "prompt_id",
                       aCol: String = "resp_a", bCol: String = "resp_b",
                       preferACol: String = "prefer_a",
                       raterCol: String = "rater_id"): DataFrame = {
    import spark.implicits._
    val schema = spark.read.parquet(feedDir).schema
    val votes = Preference.normalized(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(feedDir),
        promptCol, aCol, bCol, preferACol, raterCol)
      .select(col(promptCol).cast("long").as("prompt_id"),
        col("lo").cast("long"), col("hi").cast("long"),
        col(raterCol).cast("long").as("rater"), col("prefer_lo"))
      .as[Vote]
    val changelog = votes
      .groupByKey(v => (v.prompt_id, v.lo, v.hi))
      .flatMapGroupsWithState[PairState, Resolution](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((p, lo, hi), rows, state) =>
          val st = state.getOption.getOrElse(PairState(0, Map.empty))
          var raters = st.raters
          rows.foreach { v =>
            val (sl, sh) = raters.getOrElse(v.rater, (false, false))
            raters = raters.updated(v.rater,
              (sl || v.prefer_lo, sh || !v.prefer_lo))
          }
          val next = PairState(st.upd + 1, raters)
          state.update(next)
          // live votes = raters currently on exactly one side; a
          // contradicted rater contributes nothing (but stays in
          // state: re-voting cannot resurrect a cancelled rater)
          val nLo = raters.count { case (_, (l, h)) => l && !h }.toLong
          val nHi = raters.count { case (_, (l, h)) => h && !l }.toLong
          val n = nLo + nHi
          val winner = if (n > 0 && nLo * 2 > n) Some("lo")
            else if (n > 0 && nLo * 2 < n) Some("hi")
            else None
          val margin = if (n == 0) 0L else math.abs(nLo * 2 - n) * 1000000L / n
          Iterator(Resolution(p, lo, hi, next.upd, n, nLo, nHi,
            winner, nLo != 0 && nLo != n, margin))
      }
      .toDF()
    val q = changelog.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", outDir)
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir)
  }

  /** Per-checkpoint DPO minting over the streaming resolution
    * changelog (round-15 VERDICT #5 — the RLVR/DPO pipeline consuming
    * annotations incrementally): after each [[resolutionStream]]
    * drain, the latest-wins resolution feeds the batch minters
    * ([[Preference.bradleyTerry]] → [[Preference.dpoPairsAll]]) and
    * the minted pairs land in `mintDir` as a numbered SNAPSHOT
    * GENERATION (`_gen` column — the [[StreamingCdc]] discipline, NOT
    * per-pair latest-wins: a pair whose margin collapsed under later
    * votes must VANISH from the training set, and a per-pair merge
    * would resurrect it from an old generation). Returns the current
    * snapshot (rows of the generation just minted, `_gen` dropped),
    * which after a full drain is bit-identical to the batch chain
    * over the whole feed — the gate shares `q_pref_dpo_all`'s oracle.
    *
    * The CURRENT generation number lives in the `_GEN` counter file
    * beside the rows, NOT in max(`_gen`) over them: an EMPTY
    * generation is legal (heavy-vote regimes collapse every BT gap)
    * and leaves no row to carry its number — a consumer inferring
    * the snapshot from row contents would resurrect the previous
    * generation's pairs, the exact failure this discipline exists to
    * prevent, and the next mint would silently reuse the number.
    * Consumers read `_GEN` = g, then take rows with `_gen` = g
    * (possibly none).
    *
    * BT is a global fixed-point, so minting is per-CHECKPOINT, not
    * per-row: each generation costs one bounded-rounds MM pass over
    * the current resolution — the nightly-mint deployment loop, same
    * shape as `Ivf.maintain` after a CDC drain.
    */
  def mintDpoStream(spark: SparkSession, changelogDir: String,
                    mintDir: String, rounds: Int = 3,
                    minMarginMicros: Long = 0L,
                    maxPairsPerPrompt: Int = 16): DataFrame = {
    val pairs = Preference.dpoPairsAll(
      Preference.bradleyTerry(latest(spark.read.parquet(changelogDir)),
        "prompt_id", rounds),
      "prompt_id", minMarginMicros, maxPairsPerPrompt)
    val gen = ClusterStore.readCountFile(spark, s"$mintDir/_GEN")
      .getOrElse(0L) + 1L
    pairs.withColumn("_gen", lit(gen)).write.mode("append")
      .parquet(mintDir)
    ClusterStore.writeCountFile(spark, s"$mintDir/_GEN", gen)
    spark.catalog.refreshByPath(mintDir)
    spark.read.parquet(mintDir).filter(col("_gen") === gen).drop("_gen")
  }

  /** The consumer read of a [[mintDpoStream]] artifact: the current
    * generation's rows by the `_GEN` counter — empty when the latest
    * mint legally produced no pair. This, not max(`_gen`), is the
    * read discipline; see [[mintDpoStream]].
    */
  def currentMint(spark: SparkSession, mintDir: String): DataFrame = {
    val gen = ClusterStore.readCountFile(spark, s"$mintDir/_GEN").getOrElse(
      sys.error(s"no _GEN counter at $mintDir — not a mintDpoStream " +
        "artifact"))
    spark.read.parquet(mintDir).filter(col("_gen") === gen).drop("_gen")
  }

  /** Group-relative advantage over an epoch-arriving rollout feed
    * (the GRPO side of round-15 VERDICT #5): the stream accumulates
    * rollout rows (`promptCol`, `respCol`, `rewardCol`) into `outDir`
    * through the checkpoint; the advantage view recomputes per drain
    * from the deduplicated accumulation. Rollouts are IMMUTABLE — a
    * rollout id's reward never changes, so at-least-once re-delivery
    * dedups exactly via the identity max per (prompt, rollout) — and
    * after a full drain the result is bit-identical to batch
    * [[Preference.groupAdvantage]] over the whole feed (shared
    * oracle). Group stats are per-prompt aggregates, so unlike BT
    * this IS incrementally shaped — but the repo keeps the
    * recompute-per-checkpoint form because `n_samples` changes
    * retroactively alter every sibling's advantage anyway.
    */
  def rolloutAdvantageStream(spark: SparkSession, feedDir: String,
                             outDir: String, checkpoint: String,
                             promptCol: String = "prompt_id",
                             respCol: String = "resp_id",
                             rewardCol: String = "reward"): DataFrame =
    Preference.groupAdvantage(
      drainRollouts(spark, feedDir, outDir, checkpoint, promptCol,
        respCol, rewardCol),
      promptCol, respCol, rewardCol)

  /** [[Preference.passRateFilter]] over the same epoch-arriving
    * rollout feed — the difficulty-window curation an RLVR pipeline
    * runs beside the advantage view: per checkpoint, prompts whose
    * deduplicated pass rate left the window drop with all their
    * rollouts, exactly as the batch filter decides over the full
    * feed (shared oracle). Recompute-per-checkpoint for the same
    * reason as the advantage view: a new rollout retroactively moves
    * its whole prompt's rate, so there is no per-row increment to
    * save.
    */
  def rolloutPassRateStream(spark: SparkSession, feedDir: String,
                            outDir: String, checkpoint: String,
                            passReward: Long,
                            loMicros: Long = 1L,
                            hiMicros: Long = 999999L,
                            promptCol: String = "prompt_id",
                            respCol: String = "resp_id",
                            rewardCol: String = "reward"): DataFrame =
    Preference.passRateFilter(
      drainRollouts(spark, feedDir, outDir, checkpoint, promptCol,
        respCol, rewardCol),
      promptCol, respCol, rewardCol, passReward, loMicros, hiMicros)

  /** Drain the rollout feed through the checkpoint into `outDir` and
    * return the DEDUPLICATED rollout relation: rollouts are immutable
    * (a rollout id's reward never changes), so at-least-once
    * re-delivery collapses exactly under the identity max per
    * (prompt, rollout).
    */
  private def drainRollouts(spark: SparkSession, feedDir: String,
                            outDir: String, checkpoint: String,
                            promptCol: String, respCol: String,
                            rewardCol: String): DataFrame = {
    val schema = spark.read.parquet(feedDir).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(feedDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", outDir)
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir)
      .groupBy(col(promptCol), col(respCol))
      .agg(max(col(rewardCol)).as(rewardCol))
  }

  /** Latest-wins view of a changelog: the current resolution per pair
    * (max upd), unresolved pairs (every rater cancelled → 0 live
    * votes) excluded — exactly the rows the batch resolver produces.
    * One struct-max aggregation, the CDC-consumer read shape.
    */
  def latest(changelog: DataFrame): DataFrame =
    changelog
      .groupBy(col("prompt_id"), col("lo"), col("hi"))
      .agg(max(struct(col("upd"), col("n_votes"), col("n_lo"),
        col("n_hi"), col("winner"), col("conflict"),
        col("margin_micros"))).as("__c"))
      .select(col("prompt_id"), col("lo"), col("hi"),
        col("__c.n_votes").as("n_votes"), col("__c.n_lo").as("n_lo"),
        col("__c.n_hi").as("n_hi"), col("__c.winner").as("winner"),
        col("__c.conflict").as("conflict"),
        col("__c.margin_micros").as("margin_micros"))
      .filter(col("n_votes") > 0)
}
