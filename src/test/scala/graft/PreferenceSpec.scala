package graft

import org.apache.spark.sql.functions._

import graft.operators.Preference

class PreferenceSpec extends SparkSpec {
  import spark.implicits._

  // (prompt, a, b, preferA, rater)
  private def ann(rows: (Long, java.lang.Long, java.lang.Long, Boolean, Long)*) =
    rows.toDF("p", "a", "b", "pa", "r")

  private def resolved(rows: (Long, java.lang.Long, java.lang.Long, Boolean, Long)*) =
    Preference.resolveAnnotations(ann(rows: _*), "p", "a", "b", "pa", "r")
      .collect()
      .map(row => (row.getLong(0), row.getLong(1), row.getLong(2)) ->
        ((row.getLong(3), row.getLong(4), row.getLong(5),
          Option(row.getString(6)), row.getBoolean(7), row.getLong(8))))
      .toMap

  test("orientation: a swapped presentation is the SAME vote — " +
    "(x,y,preferA) and (y,x,!preferA) aggregate together") {
    val got = resolved(
      (1L, 10L, 20L, true, 1L),  // rater 1: prefers 10
      (1L, 20L, 10L, false, 2L)) // rater 2: same preference, swapped
    assert(got.keySet == Set((1L, 10L, 20L)))
    val (n, nLo, nHi, winner, conflict, margin) = got((1L, 10L, 20L))
    assert(n == 2L && nLo == 2L && nHi == 0L)
    assert(winner.contains("lo") && !conflict && margin == 1000000L)
  }

  test("per-rater hygiene: identical re-submissions collapse to one " +
    "vote; a rater voting both ways self-cancels") {
    val got = resolved(
      (1L, 10L, 20L, true, 1L),
      (1L, 10L, 20L, true, 1L),   // duplicate: still ONE vote
      (1L, 20L, 10L, false, 1L),  // same vote again, swapped form
      (1L, 10L, 20L, false, 2L),
      (1L, 10L, 20L, true, 2L),   // rater 2 contradicts herself: cancels
      (1L, 10L, 20L, false, 3L))
    val (n, nLo, nHi, winner, conflict, _) = got((1L, 10L, 20L))
    assert(n == 2L, s"expected rater 1 + rater 3 only, got $n votes")
    assert(nLo == 1L && nHi == 1L)
    assert(winner.isEmpty, "a tie must resolve to NULL, not a pick")
    assert(conflict)
  }

  test("majority, conflict, and margin semantics") {
    val got = resolved(
      (1L, 10L, 20L, true, 1L),
      (1L, 10L, 20L, true, 2L),
      (1L, 10L, 20L, false, 3L), // 2-1 for lo
      (2L, 10L, 20L, false, 1L),
      (2L, 10L, 20L, false, 2L)) // unanimous hi
    val p1 = got((1L, 10L, 20L))
    assert(p1._4.contains("lo") && p1._5, "2-1 is a conflicted lo win")
    assert(p1._6 == 333333L, s"|2-1|/3 in truncating micros: ${p1._6}")
    val p2 = got((2L, 10L, 20L))
    assert(p2._4.contains("hi") && !p2._5 && p2._6 == 1000000L)
  }

  test("bestOfN: argmax with (reward desc, id asc) tie-break, audit " +
    "columns, and the rejection floor") {
    val cands = Seq(
      (1L, 10L, 50L), (1L, 11L, 80L), (1L, 12L, 80L), // tie at 80 → id 11
      (2L, 20L, 5L), (2L, 21L, 10L),                  // best 10 < floor
      (3L, 30L, 99L))
      .toDF("p", "resp", "rw")
    val got = Preference.bestOfN(cands, "p", "resp", "rw", minReward = 20L)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet == Set(1L, 3L), "prompt 2 must be rejected whole")
    assert(got(1L) == ((11L, 80L, 3L, 50L)),
      s"tie must break to the lower id: ${got(1L)}")
    assert(got(3L) == ((30L, 99L, 1L, 99L)))
  }

  test("streaming resolution: latest-wins over the changelog equals " +
    "the batch resolver; a later epoch revises an earlier winner and " +
    "a cross-batch contradiction cancels") {
    import graft.streaming.StreamingPreference
    val base = tmpDir("pref-stream")
    val (feed, out, ckpt) = (s"$base/feed", s"$base/out", s"$base/ckpt")
    // epoch 0: rater 1 prefers lo, rater 2 prefers lo → winner lo
    val e0 = ann((1L, 10L, 20L, true, 1L), (1L, 10L, 20L, true, 2L),
      (2L, 10L, 20L, true, 7L))
    // epoch 1: raters 3,4,5 prefer hi → winner flips to hi; rater 7
    // contradicts her epoch-0 vote on prompt 2 → cancels across batches
    val e1 = ann((1L, 10L, 20L, false, 3L), (1L, 10L, 20L, false, 4L),
      (1L, 20L, 10L, true, 5L), (2L, 20L, 10L, true, 7L))
    e0.coalesce(1).write.mode("append").parquet(feed)
    StreamingPreference.resolutionStream(spark, feed, out, ckpt,
      "p", "a", "b", "pa", "r")
    e1.coalesce(1).write.mode("append").parquet(feed)
    val changelog = StreamingPreference.resolutionStream(spark, feed,
      out, ckpt, "p", "a", "b", "pa", "r")
    // the changelog RECORDS the revision: pair (1,10,20) has an early
    // row with winner lo and a later row with winner hi
    val p1 = changelog.filter(col("prompt_id") === 1L)
      .select("upd", "winner").as[(Int, String)].collect().toMap
    assert(p1.size >= 2 && p1(p1.keys.min) == "lo" && p1(p1.keys.max) == "hi",
      s"changelog must record the flip: $p1")
    // latest-wins ≡ batch over the union; prompt 2 vanishes entirely
    // (its only rater self-cancelled across batches)
    val got = StreamingPreference.latest(changelog)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(6))).toSet
    val want = Preference.resolveAnnotations(e0.unionByName(e1),
        "p", "a", "b", "pa", "r")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(6))).toSet
    assert(got == want, s"stream != batch:\n got=$got\n want=$want")
    assert(!got.exists(_._1 == 2L), "cancelled-rater pair must vanish")
    assert(got.exists(t => t._1 == 1L && t._4 == 5L && t._5 == "hi"))
  }

  test("mintDpoStream: snapshot generations — a collapsed-margin pair " +
    "VANISHES from the new generation (latest-wins would resurrect " +
    "it); rolloutAdvantageStream dedups re-delivery exactly") {
    import graft.streaming.StreamingPreference
    val base = tmpDir("pref-mint")
    val (feed, out, ckpt, mint) =
      (s"$base/feed", s"$base/out", s"$base/ckpt", s"$base/mint")
    // epoch 0: unanimous lo → wide margin → the pair mints in gen 1
    ann((1L, 10L, 20L, true, 1L), (1L, 10L, 20L, true, 2L))
      .coalesce(1).write.mode("append").parquet(feed)
    StreamingPreference.resolutionStream(spark, feed, out, ckpt,
      "p", "a", "b", "pa", "r")
    val g1 = StreamingPreference.mintDpoStream(spark, out, mint,
      rounds = 3, minMarginMicros = 200000L)
    assert(g1.filter(col("prompt_id") === 1L && col("chosen_resp") === 10L &&
      col("rejected_resp") === 20L).count() == 1,
      "unanimous pair must mint in generation 1")
    // epoch 1: two hi votes → 2-2 dead heat → BT margin collapses
    ann((1L, 10L, 20L, false, 3L), (1L, 10L, 20L, false, 4L))
      .coalesce(1).write.mode("append").parquet(feed)
    StreamingPreference.resolutionStream(spark, feed, out, ckpt,
      "p", "a", "b", "pa", "r")
    val g2 = StreamingPreference.mintDpoStream(spark, out, mint,
      rounds = 3, minMarginMicros = 200000L)
    assert(g2.filter(col("prompt_id") === 1L).count() == 0,
      "collapsed-margin pair must vanish from the new generation")
    // the mint dir keeps BOTH generations (training-run provenance);
    // only the snapshot view moved
    val gens = spark.read.parquet(mint)
    assert(gens.filter(col("_gen") === 1L).count() == 1 &&
      gens.filter(col("_gen") === 2L).count() == 0,
      "generation history must persist in the mint dir")
    // the EMPTY generation is representable: the _GEN counter (not
    // max(_gen) over rows) names the current snapshot, so a consumer
    // reads generation 2 as empty instead of resurrecting gen 1's
    // pair, and the next mint cannot reuse the number
    assert(StreamingPreference.currentMint(spark, mint).count() == 0,
      "consumer view of the empty generation must be empty")
    val g3 = StreamingPreference.mintDpoStream(spark, out, mint,
      rounds = 3, minMarginMicros = 200000L)
    assert(g3.count() == 0 &&
      graft.operators.ClusterStore.readCountFile(spark, s"$mint/_GEN")
        .contains(3L),
      "generation numbering must stay monotone past an empty one")
    // rollouts: drain, then REPLAY the same feed through a fresh
    // checkpoint — the accumulation duplicates but identity-max
    // dedup keeps the advantage view equal to batch
    val rolls = Seq((1L, 1L, 5L), (1L, 2L, 9L), (2L, 3L, 4L))
      .toDF("p", "resp", "rw")
    rolls.coalesce(1).write.mode("append").parquet(s"$base/rfeed")
    StreamingPreference.rolloutAdvantageStream(spark, s"$base/rfeed",
      s"$base/rout", s"$base/rck1", "p", "resp", "rw")
    val replayed = StreamingPreference.rolloutAdvantageStream(spark,
      s"$base/rfeed", s"$base/rout", s"$base/rck2", "p", "resp", "rw")
    val want = Preference.groupAdvantage(rolls, "p", "resp", "rw")
      .collect().map(_.toSeq).toSet
    assert(replayed.collect().map(_.toSeq).toSet == want,
      "replayed accumulation must dedup to the batch advantage")
  }

  test("raterQuality: leave-one-out consensus — own vote excluded, " +
    "ties among the others are undecided, no-evidence raters read NULL") {
    val got = Preference.raterQuality(ann(
      // P1 (prompt 1): raters 1,2,3 → lo; rater 4 → hi
      (1L, 10L, 20L, true, 1L), (1L, 10L, 20L, true, 2L),
      (1L, 10L, 20L, true, 3L), (1L, 10L, 20L, false, 4L),
      // P2 (prompt 2): raters 1,2 split — each disagrees with the other
      (2L, 10L, 20L, true, 1L), (2L, 10L, 20L, false, 2L),
      // P3 (prompt 3): raters 1,2 → lo; rater 3 → hi
      //   LOO for 1 and 2: others tie (1,1) → undecided
      //   LOO for 3: others (2,0) → decided lo, vote hi → disagree
      (3L, 10L, 20L, true, 1L), (3L, 10L, 20L, true, 2L),
      (3L, 10L, 20L, false, 3L),
      // P4: rater 5 alone — no independent consensus exists
      (4L, 10L, 20L, true, 5L)),
      "p", "a", "b", "pa", "r")
      .collect()
      .map(row => row.getLong(0) -> ((row.getLong(1), row.getLong(2),
        row.getLong(3), Option(row.get(4)).map(_.asInstanceOf[Long]))))
      .toMap
    assert(got(1L) == ((3L, 2L, 1L, Some(500000L))), s"r1: ${got(1L)}")
    assert(got(2L) == ((3L, 2L, 1L, Some(500000L))), s"r2: ${got(2L)}")
    assert(got(3L) == ((2L, 2L, 1L, Some(500000L))), s"r3: ${got(3L)}")
    assert(got(4L) == ((1L, 1L, 0L, Some(0L))), s"r4: ${got(4L)}")
    assert(got(5L) == ((1L, 0L, 0L, None)),
      s"no independent consensus must read NULL, not 1e6: ${got(5L)}")
  }

  test("malformed annotations drop: self-pairs and null response ids") {
    val got = resolved(
      (1L, 10L, 10L, true, 1L),  // self-pair
      (1L, null, 20L, true, 1L), // null side
      (1L, 10L, null.asInstanceOf[java.lang.Long], false, 1L),
      (1L, 10L, 20L, true, 1L))  // the one real vote
    assert(got.keySet == Set((1L, 10L, 20L)))
    assert(got((1L, 10L, 20L))._1 == 1L)
  }

  test("a NULL vote is an abstention: dropped in normalized, never " +
    "silently tallied as a 'hi' vote by resolve") {
    val rows = Seq[(Long, Long, Long, java.lang.Boolean, Long)](
      (1L, 10L, 20L, true, 1L),
      (1L, 10L, 20L, null, 2L), // abstention: no signal either way
      (1L, 10L, 20L, true, 3L))
      .toDF("p", "a", "b", "pa", "r")
    val got = Preference.resolveAnnotations(rows, "p", "a", "b", "pa", "r")
      .collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(3) == 2L, s"n_votes must exclude the abstention")
    assert(r.getLong(4) == 2L && r.getLong(5) == 0L,
      "both real votes are for lo; the NULL must not count as hi")
    assert(r.getString(6) == "lo" && !r.getBoolean(7))
  }

  test("bradleyTerry: strengths are transitive and monotone in win " +
    "fraction — including for a pair never directly compared — and " +
    "zero-win items stay positive (ghost prior)") {
    // A(1) beats B(2) 4-1, B beats C(3) 4-1; A and C never compared.
    val rows = (1L to 5L).flatMap { r =>
      Seq((1L, 1L, 2L, r <= 4, r), (1L, 2L, 3L, r <= 4, r))
    }.toDF("p", "a", "b", "pa", "r")
    val resolved = Preference.resolveAnnotations(rows, "p", "a", "b",
      "pa", "r")
    val s = Preference.bradleyTerry(resolved, "p", rounds = 3)
      .collect()
      .map(x => x.getLong(1) -> ((x.getLong(2), x.getLong(3),
        x.getLong(4)))).toMap
    assert(s.keySet == Set(1L, 2L, 3L))
    val (sa, sb, sc) = (s(1L)._1, s(2L)._1, s(3L)._1)
    assert(sa > sb && sb > sc,
      s"BT must order by joint fit: A=$sa B=$sb C=$sc")
    assert(sc > 0L, "ghost prior keeps low-win items positive")
    assert(s(1L)._2 == 4L && s(1L)._3 == 5L,
      s"A's tallies: ${s(1L)}")
    assert(s(2L)._2 == 5L && s(2L)._3 == 10L,
      s"B: 1 win vs A + 4 vs C over 10 comparisons: ${s(2L)}")
  }

  test("bradleyTerry: the bounded-driver arm is bit-identical to the " +
    "distributed MM on every row — multi-prompt, zero-win, ghost and " +
    "tie corners included — and the cap routes to the distributed " +
    "path (round-17 equivalence pin)") {
    // three prompts: a chain (transitive case), a dominated item with
    // zero wins (ghost corner), and a perfect tie
    val rows = ((1L to 5L).flatMap { r =>
      Seq((1L, 1L, 2L, r <= 4, r), (1L, 2L, 3L, r <= 4, r))
    } ++ (1L to 6L).map { r => (2L, 7L, 8L, true, r) } ++
      (1L to 4L).map { r => (3L, 4L, 5L, r % 2 == 0, r) })
      .toDF("p", "a", "b", "pa", "r")
    val resolved = Preference.resolveAnnotations(rows, "p", "a", "b",
      "pa", "r")
    for (rounds <- Seq(1, 3, 5)) {
      val local = Preference.bradleyTerry(resolved, "p", rounds)
      val dist = Preference.bradleyTerry(resolved, "p", rounds,
        maxDriverPairs = 0) // cap 0: force the distributed MM
      assert(local.schema.map(f => (f.name, f.dataType)) ==
        dist.schema.map(f => (f.name, f.dataType)),
        s"schemas diverge at rounds=$rounds")
      val l = local.collect().map(_.toSeq).sortBy(_.toString())
      val d = dist.collect().map(_.toSeq).sortBy(_.toString())
      assert(l.toSeq == d.toSeq,
        s"bounded-driver and distributed BT diverge at rounds=$rounds:\n" +
          s"local ${l.mkString(";")}\ndist  ${d.mkString(";")}")
    }
    // over-cap probe: a cap smaller than the pair count must fall
    // back to the distributed path and still produce the same fit
    val capped = Preference.bradleyTerry(resolved, "p", 3,
      maxDriverPairs = 1)
    assert(capped.collect().map(_.toSeq).sortBy(_.toString()).toSeq ==
      Preference.bradleyTerry(resolved, "p", 3)
        .collect().map(_.toSeq).sortBy(_.toString()).toSeq)
  }

  test("bradleyTerry: permutation invariance — relabeling responses " +
    "permutes strengths with them (orientation flips included)") {
    def fit(ids: Map[Long, Long]): Map[Long, Long] = {
      val rows = (1L to 5L).flatMap { r =>
        Seq((1L, ids(1L), ids(2L), r <= 4, r),
          (1L, ids(2L), ids(3L), r <= 4, r))
      }.toDF("p", "a", "b", "pa", "r")
      Preference.bradleyTerry(
          Preference.resolveAnnotations(rows, "p", "a", "b", "pa", "r"),
          "p", rounds = 3)
        .collect().map(x => x.getLong(1) -> x.getLong(2)).toMap
    }
    val id = Map(1L -> 1L, 2L -> 2L, 3L -> 3L)
    // 1→9, 2→5, 3→7 flips the canonical (lo, hi) orientation of
    // both pairs — the fit must not care
    val perm = Map(1L -> 9L, 2L -> 5L, 3L -> 7L)
    val (base, got) = (fit(id), fit(perm))
    assert(got(9L) == base(1L) && got(5L) == base(2L) &&
      got(7L) == base(3L),
      s"strengths must follow the relabeling: $base vs $got")
  }

  test("dpoPairs: strongest-vs-weakest per prompt with symmetric " +
    "total-order tie-breaks; an all-equal prompt yields two DISTINCT " +
    "ends at margin 0; single-response prompts drop") {
    val strengths = Seq(
      (1L, 10L, 3000000L, 4L, 5L), (1L, 11L, 1000000L, 1L, 5L),
      (1L, 12L, 2000000L, 2L, 5L),
      (2L, 20L, 1500000L, 2L, 4L), (2L, 21L, 1500000L, 2L, 4L),
      (3L, 30L, 9000000L, 9L, 9L))
      .toDF("p", "resp", "strength_micros", "n_wins", "n_comparisons")
    val all = Preference.dpoPairs(strengths, "p")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(5)))).toMap
    assert(all.keySet == Set(1L, 2L), "single-response prompt 3 drops")
    assert(all(1L) == ((10L, 11L, 2000000L)), s"p1: ${all(1L)}")
    assert(all(2L) == ((20L, 21L, 0L)),
      s"all-equal ties must break to distinct ends: ${all(2L)}")
    val kept = Preference.dpoPairs(strengths, "p", minMarginMicros = 1L)
      .select("p").as[Long].collect().toSet
    assert(kept == Set(1L),
      "a positive margin threshold drops the inseparable pair")
  }

  test("dpoPairsAll: every pair above margin, ties mint once with " +
    "the deterministic orientation, the widest-margin cap keeps a " +
    "total order and n_pairs_total carries exact dropped-pair " +
    "accounting") {
    val strengths = Seq(
      // p1: strengths 4 > 3 > 1 → three qualifying pairs at margin 0
      (1L, 10L, 4000000L), (1L, 11L, 3000000L), (1L, 12L, 1000000L),
      // p2: a tie pair (orientation must mint once, 20 chosen)
      (2L, 20L, 1500000L), (2L, 21L, 1500000L),
      // p3: single response → no pairs
      (3L, 30L, 9000000L))
      .toDF("p", "resp", "strength_micros")
    val all = Preference.dpoPairsAll(strengths, "p")
      .select("p", "chosen_resp", "rejected_resp", "margin_micros",
        "pair_rank", "n_pairs_total")
      .as[(Long, Long, Long, Long, Int, Long)].collect().toSet
    assert(all == Set(
      (1L, 10L, 12L, 3000000L, 1, 3L),
      (1L, 11L, 12L, 2000000L, 2, 3L),
      (1L, 10L, 11L, 1000000L, 3, 3L),
      (2L, 20L, 21L, 0L, 1, 1L)),
      s"full pair set with ranks: $all")
    // margin floor: only the two widest p1 pairs qualify
    val floored = Preference.dpoPairsAll(strengths, "p",
        minMarginMicros = 1500000L)
      .select("p", "chosen_resp", "rejected_resp", "n_pairs_total")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(floored == Set((1L, 10L, 12L, 2L), (1L, 11L, 12L, 2L)),
      s"margin floor: $floored")
    // cap: rank > maxPairsPerPrompt drops, but n_pairs_total still
    // reads the FULL qualifying count — dropped = 3 − 2, exact
    val capped = Preference.dpoPairsAll(strengths, "p",
        maxPairsPerPrompt = 2)
      .filter(col("p") === 1L)
      .select("chosen_resp", "rejected_resp", "n_pairs_total")
      .as[(Long, Long, Long)].collect().toSet
    assert(capped == Set((10L, 12L, 3L), (11L, 12L, 3L)),
      s"cap keeps the widest margins and accounts the rest: $capped")
  }

  test("groupAdvantage: exact n-scaled centering, sign-split micros " +
    "truncate toward zero on BOTH signs, and a uniform group reads " +
    "zero advantage everywhere") {
    val samples = Seq(
      // p1: rewards 1, 2, 4 → sum 7, n 3; adv_num = 3r − 7
      (1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 4L),
      // p2: uniform
      (2L, 20L, 5L), (2L, 21L, 5L))
      .toDF("p", "resp", "r")
    val got = Preference.groupAdvantage(samples, "p", "resp", "r")
      .select("p", "resp", "adv_num", "adv_micros")
      .as[(Long, Long, Long, Long)].collect().toSet
    // micros = sign · (|adv_num|·1e6 div 3): −4 → −1333333 (toward
    // zero, NOT the floor −1333334), +5 → +1666666
    assert(got == Set(
      (1L, 10L, -4L, -1333333L), (1L, 11L, -1L, -333333L),
      (1L, 12L, 5L, 1666666L),
      (2L, 20L, 0L, 0L), (2L, 21L, 0L, 0L)),
      s"centered advantages: $got")
  }

  test("calibrationBins: right edge closes into the last bin, " +
    "honest scores read zero gap, dishonest ones read the exact " +
    "micros gap, and empty bins are absent") {
    val preds = Seq(
      // bin 9 via the closed right edge (pred = 1.0)
      (1000000L, true), (1000000L, true),
      // bin 2 honest: two preds at 250000, one of four positive →
      // emp 250000, gap 0
      (250000L, true), (250000L, false), (250000L, false),
      (250000L, false),
      // bin 5 dishonest: pred 500000, all positive → gap 500000
      (500000L, true), (500000L, true))
      .toDF("p", "o")
    val got = Preference.calibrationBins(preds, "p", "o", nBins = 10)
      .select("bin", "n", "n_pos", "mean_pred_micros", "emp_micros",
        "gap_micros")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (9L, 2L, 2L, 1000000L, 1000000L, 0L),
      (2L, 4L, 1L, 250000L, 250000L, 0L),
      (5L, 2L, 2L, 500000L, 1000000L, 500000L)),
      s"reliability rows: $got")
    assert(got.map(_._1) == Set(2L, 5L, 9L),
      "bins with no evidence must be absent, not zero-filled")
  }

  test("passRateFilter: all-fail and all-pass prompts drop, the " +
    "mixed middle survives with exact group meters, and the window " +
    "bounds are inclusive") {
    val samples = Seq(
      (1L, 10L, 0L), (1L, 11L, 0L),             // all fail → drop
      (2L, 20L, 9L), (2L, 21L, 9L),             // all pass → drop
      (3L, 30L, 9L), (3L, 31L, 0L), (3L, 32L, 0L), // 1/3 pass
      (4L, 40L, 9L), (4L, 41L, 0L))             // 1/2 pass
      .toDF("p", "resp", "r")
    val got = Preference.passRateFilter(samples, "p", "resp", "r",
        passReward = 5L, loMicros = 333333L, hiMicros = 500000L)
      .select("p", "resp", "n_samples", "n_pass", "pass_rate_micros")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (3L, 30L, 3L, 1L, 333333L), (3L, 31L, 3L, 1L, 333333L),
      (3L, 32L, 3L, 1L, 333333L),
      (4L, 40L, 2L, 1L, 500000L), (4L, 41L, 2L, 1L, 500000L)),
      s"window [1/3, 1/2] inclusive keeps exactly p3 and p4: $got")
  }

  test("bestOfN: string response ids work — the tie-break negates " +
    "the reward, not the id") {
    val cands = Seq((1L, "b", 80L), (1L, "a", 80L), (1L, "c", 50L))
      .toDF("p", "resp", "rw")
    val got = Preference.bestOfN(cands, "p", "resp", "rw").collect()
    assert(got.length == 1)
    assert(got.head.getString(1) == "a" && got.head.getLong(2) == 80L,
      s"tie at 80 must break to the lexicographically first id")
  }
}
