package graft

import org.apache.spark.sql.functions._
import graft.operators.UnigramLm

class UnigramLmSpec extends SparkSpec {
  import spark.implicits._

  test("segment: integer-micros Viterbi picks the max-score path with " +
    "the (score, longer-piece) tie-break") {
    // scores chosen so 'abab' has competing parses:
    //   ab+ab = -200, a+b+a+b = -400, abab not in vocab
    val sc = Map("a" -> -100L, "b" -> -100L, "ab" -> -100L, "ba" -> -100L)
    assert(UnigramLm.segment("abab", sc, 4) == Seq("ab", "ab"))
    // exact tie: 'aa' as a+a (-200) vs 'aa' (-200) → LONGER piece wins
    val tie = Map("a" -> -100L, "aa" -> -200L)
    assert(UnigramLm.segment("aa", tie, 4) == Seq("aa"))
    // and when the long piece is strictly worse, chars win
    val worse = Map("a" -> -100L, "aa" -> -201L)
    assert(UnigramLm.segment("aa", worse, 4) == Seq("a", "a"))
    // maxPieceLen caps the candidate window
    val capped = Map("a" -> -100L, "aaaaa" -> -1L)
    assert(UnigramLm.segment("aaaaa", capped, 4) ==
      Seq("a", "a", "a", "a", "a"))
  }

  test("segment stays total on characters training never saw " +
    "(UNK fallback), and unknowns never displace a trained parse") {
    val sc = Map("a" -> -100L, "ab" -> -150L, "b" -> -100L)
    // 'x' unseen: self-emits at the UNK floor, neighbors keep their parse
    assert(UnigramLm.segment("xab", sc, 4) == Seq("x", "ab"))
    assert(UnigramLm.segment("axb", sc, 4) == Seq("a", "x", "b"))
    // an all-unknown word still segments (one UNK char per position)
    assert(UnigramLm.segment("zzz", sc, 4) == Seq("z", "z", "z"))
  }

  test("empty corpus fails loudly at training, not with a silent " +
    "empty vocabulary") {
    // the message is the reference trainer's, and no persisted block
    // remains after the failure or after a successful fit
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[Exception] {
      UnigramLm.train(empty, "text", rounds = 1)
    }
    assert(e.getMessage.contains("empty vocabulary"),
      s"wrong failure mode: ${e.getMessage}")
    val ref = intercept[Exception] {
      UnigramLmReference.train(empty, "text", rounds = 1)
    }
    assert(e.getClass == ref.getClass && e.getMessage == ref.getMessage,
      s"failure changed: ${e.getMessage} vs ${ref.getMessage}")
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "the failed fit leaked persisted blocks")
    UnigramLm.train(documents("sf0.001"), "text", rounds = 2).collect()
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "the fit leaked persisted blocks")
  }

  private def documents(sf: String) =
    spark.read.parquet(s"/root/testdata/$sf/documents.parquet")

  /** Documents with nulls, an empty text, CJK, Hangul and non-BMP
    * characters. `ﬀa` (U+FB00) and `𝔘a` (U+1D518) each occur 5 times,
    * so they tie on count; UTF-8 orders `ﬀa` first and UTF-16 orders
    * `𝔘a` first. 23 words with counts 10..32 rank above the pair, so a
    * `targetV` of 24 cuts between them.
    */
  private def craftedCorpus = {
    val common = Seq("qa", "qb", "qc", "qd", "qe", "中文", "数据", "分析",
      "模型", "训练", "😀x", "😀y", "𝔘b", "ﬀb", "日本語", "한국어", "zq",
      "zr", "zs", "zt", "é𝔘", "ñ中", "𝕏𝕐")
    val occurrences = common.zipWithIndex.flatMap { case (w, i) =>
      Seq.fill(10 + i)(w) } ++ Seq.fill(5)("ﬀa") ++ Seq.fill(5)("𝔘a") ++
      Seq("averyveryverylongword")
    val texts = occurrences.zipWithIndex.groupBy(_._2 % 37).toSeq
      .sortBy(_._1).map { case (_, ws) => ws.map(_._1).mkString(" ") }
    val rows = texts.map(Option(_)) ++ Seq(None, Some(""), None)
    rows.zipWithIndex.map { case (t, i) => (i.toLong, t.orNull) }
      .toDF("doc_id", "text")
  }

  test("driver-local EM ≡ the DataFrame trainer: rows and schema " +
    "(nullability included) on sf0.001, sf0.01 and a crafted " +
    "null/CJK/non-BMP corpus, rounds 1-3, targetV None and 24, " +
    "under repartition(7)") {
    val corpora = Seq("sf0.001" -> documents("sf0.001"),
      "sf0.01" -> documents("sf0.01"), "crafted" -> craftedCorpus)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.sortBy(_.getString(0))
    for ((name, docs) <- corpora; rounds <- 1 to 3;
         targetV <- Seq(None, Some(24))) {
      val what = s"$name rounds=$rounds targetV=$targetV"
      val ref = UnigramLmReference.train(docs, "text", rounds = rounds,
        targetV = targetV)
      val refRows = rows(ref)
      for (input <- Seq(docs, docs.repartition(7))) {
        val got = UnigramLm.train(input, "text", rounds = rounds,
          targetV = targetV)
        assert(got.schema == ref.schema, s"$what: schema ${got.schema}")
        assert(rows(got) == refRows, s"$what: rows differ")
      }
      if (name == "crafted" && rounds == 1 && targetV.nonEmpty) {
        val pieces = refRows.map(_.getString(0)).toSet
        assert(pieces("ﬀa") && !pieces("𝔘a"),
          s"the crafted pair must straddle the cut: $pieces")
      }
    }
  }

  test("job-count guard: an EM round adds at most two jobs (no replay " +
    "of earlier rounds), train and encode stay at their measured counts") {
    val docs = documents("sf0.01")
    val jobs = (1 to 3).map { r =>
      jobsOf(UnigramLm.train(docs, "text", rounds = r))._2 }
    info(s"train jobs for rounds 1..3: ${jobs.mkString(", ")}")
    assert(jobs(1) <= 11, s"train(rounds = 2) took ${jobs(1)} jobs")
    assert(jobs(1) - jobs(0) <= 2 && jobs(2) - jobs(1) <= 2,
      s"a round replays earlier lineage: ${jobs.mkString(", ")}")
    val vocab = UnigramLm.train(docs, "text", rounds = 2)
    val (enc, encJobs) = jobsOf(UnigramLm.encode(docs, "text", "doc_id",
      vocab))
    assert(encJobs == 0, s"building encode took $encJobs jobs")
    val (_, countJobs) = jobsOf(enc.count())
    info(s"encode + count jobs: $countJobs")
    assert(countJobs <= 2, s"encode + count took $countJobs jobs")
  }

  test("train: coverage is total (every corpus char survives as a " +
    "piece), encode reconstructs every document, deterministic " +
    "across partitionings") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val vocab = UnigramLm.train(docs, "text", rounds = 2)
    val pieces = vocab.select("piece").as[String].collect().toSet
    val corpusChars = docs
      .select(explode(graft.functions.TextFunctions.tokens(col("text")))
        .as("w"))
      .filter(length(col("w")) <= 16)
      .select(explode(split(col("w"), "")).as("c"))
      .filter(length(col("c")) === 1)
      .distinct().as[String].collect().toSet
    assert(corpusChars.subsetOf(pieces),
      s"missing coverage chars: ${corpusChars -- pieces}")

    // scores are proper log-probs: sum of exp(s/1e6) over vocab ≈ 1
    val mass = vocab.select("score_micros").as[Long].collect()
      .map(s => math.exp(s / 1e6)).sum
    assert(math.abs(mass - 1.0) < 1e-3, s"score mass $mass")

    // encode reconstructs: pieces concatenated == tokens concatenated
    val enc = UnigramLm.encode(docs, "text", "doc_id", vocab)
    val joined = docs
      .select(col("doc_id"),
        concat_ws("", graft.functions.TextFunctions.tokens(col("text")))
          .as("orig"))
      .join(enc.select(col("doc_id"),
        regexp_replace(col("encoded"), " ", "").as("rebuilt")), "doc_id")
    assert(joined.filter(col("orig") =!= col("rebuilt")).count() == 0,
      "encode lost content")

    // determinism across partitionings (the oracle-ability property)
    val v2 = UnigramLm.train(docs.repartition(7), "text", rounds = 2)
    val a = vocab.orderBy("piece").collect().toSeq
    val b = v2.orderBy("piece").collect().toSeq
    assert(a == b, "partitioning changed the trained vocabulary")
  }

  test("prune-to-target: vocabulary bounded by targetV + alphabet, " +
    "single chars exempt, encode still reconstructs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pruned = UnigramLm.train(docs, "text", rounds = 2,
      targetV = Some(8))
    val pieces = pruned.select("piece").as[String].collect().toSet
    val chars = pieces.filter(_.length == 1)
    assert(pieces.size <= 8 + chars.size,
      s"prune budget exceeded: ${pieces.size} pieces, ${chars.size} chars")
    // every corpus char still present (exempt from the prune)
    val corpusChars = docs
      .select(explode(graft.functions.TextFunctions.tokens(col("text")))
        .as("w"))
      .filter(length(col("w")) <= 16)
      .select(explode(split(col("w"), "")).as("c"))
      .filter(length(col("c")) === 1).distinct().as[String].collect().toSet
    assert(corpusChars.subsetOf(chars), "prune dropped a coverage char")
    // segmentation stays total and content-preserving under the budget
    val enc = UnigramLm.encode(docs, "text", "doc_id", pruned)
    val joined = docs
      .select(col("doc_id"),
        concat_ws("", graft.functions.TextFunctions.tokens(col("text")))
          .as("orig"))
      .join(enc.select(col("doc_id"),
        regexp_replace(col("encoded"), " ", "").as("rebuilt")), "doc_id")
    assert(joined.filter(col("orig") =!= col("rebuilt")).count() == 0,
      "pruned encode lost content")
  }

  test("large synthetic vocabulary (5k distinct words): budget holds, " +
    "coverage total, EM compresses the encoding vs the seed") {
    // deterministic Zipf-ish corpus far beyond the template corpus's
    // 31 words: word w_i = base-26 spelling of i, frequency ~ 5000/i
    val words = (1 to 5000).map { i =>
      val sb = new StringBuilder; var n = i
      while (n > 0) { sb.append(('a' + n % 26).toChar); n /= 26 }
      (sb.toString * 2, math.max(1, 5000 / i)) // doubled → len 2..6
    }
    val docs = words.zipWithIndex.map { case ((w, f), i) =>
      (i.toLong, (w + " ") * f)
    }.toDF("doc_id", "text")
    val vocab = UnigramLm.train(docs, "text", rounds = 2, targetV = Some(256))
    val pieces = vocab.select("piece").as[String].collect()
    val chars = pieces.count(_.length == 1)
    assert(pieces.length <= 256 + chars,
      s"budget exceeded: ${pieces.length} pieces / $chars chars")
    // encode reconstructs at this scale too
    val enc = UnigramLm.encode(docs, "text", "doc_id", vocab)
    val bad = docs
      .select(col("doc_id"),
        concat_ws("", graft.functions.TextFunctions.tokens(col("text")))
          .as("orig"))
      .join(enc.select(col("doc_id"),
        regexp_replace(col("encoded"), " ", "").as("rebuilt")), "doc_id")
      .filter(col("orig") =!= col("rebuilt")).count()
    assert(bad == 0, s"$bad docs corrupted at 5k-word scale")
    // EM compresses: trained pieces/token < the all-chars ceiling and
    // frequent words segment into few pieces
    val total = enc.agg(sum("n_pieces")).head().getLong(0)
    val charCeiling = docs.select(
      sum(length(regexp_replace(col("text"), " ", ""))))
      .head().getLong(0)
    // 256 pieces over 5000 words: measured 0.59 pieces/char (1.68
    // chars/piece); assert the compression stays clearly real
    assert(total < charCeiling * 7 / 10,
      s"EM failed to compress: $total pieces vs $charCeiling chars")
  }

  test("EM concentrates mass: whole-word pieces of frequent words beat " +
    "their character parse after two rounds") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val vocab = UnigramLm.train(docs, "text", rounds = 2)
    val m = vocab.select("piece", "score_micros").as[(String, Long)]
      .collect().toMap
    // 'the' is a frequent short word (<= maxPieceLen): EM must keep it
    // whole — its piece score beats t+h+e
    assert(m.contains("the"), "frequent whole word fell out of the vocab")
    assert(m("the") > m("t") + m("h") + m("e"),
      "EM failed to concentrate mass on the whole word")
    assert(UnigramLm.segment("the", m, 4) == Seq("the"))
  }

  test("vocab shipping: save → cold reload → encode is bit-identical; " +
    "meta carries maxPieceLen; malformed artifacts fail loudly") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val vocab = UnigramLm.train(docs, "text", rounds = 2, maxPieceLen = 4)
    val path = tmpDir("graft-ugvocab")
    UnigramLm.saveVocab(vocab, maxPieceLen = 4, path)
    val (re, mpl) = UnigramLm.loadVocab(spark, path)
    assert(mpl == 4, "meta must round-trip maxPieceLen")
    // pieces table round-trips exactly (bounded, one file)
    val a = vocab.select("piece", "cnt", "score_micros")
      .as[(String, Long, Long)].collect().toSet
    val b = re.as[(String, Long, Long)].collect().toSet
    assert(a == b, "pieces table corrupted by the round-trip")
    // the deployment contract: encode under the reloaded artifact ≡
    // encode under the in-memory vocabulary, row for row
    val mem = UnigramLm.encode(docs, "text", "doc_id", vocab, 4)
      .as[(Long, String, Long)].collect().toSet
    val shipped = UnigramLm.encode(docs, "text", "doc_id", re, mpl)
      .as[(Long, String, Long)].collect().toSet
    assert(mem == shipped, "shipped encode diverged from the trained one")
    // loud failures: no meta / malformed meta — never silent resegmentation
    val bare = tmpDir("graft-ugvocab-bad")
    vocab.write.mode("overwrite").parquet(s"$bare/pieces")
    intercept[IllegalArgumentException] { UnigramLm.loadVocab(spark, bare) }
    val metaP = new org.apache.hadoop.fs.Path(s"$bare/_VOCAB_META")
    val fs = metaP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val o = fs.create(metaP, true); o.write("garbage".getBytes("UTF-8")); o.close()
    intercept[IllegalArgumentException] { UnigramLm.loadVocab(spark, bare) }
  }

  test("ensureVocab: trains once, serves the artifact while fresh, " +
    "retrains when the fingerprint changes") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val path = tmpDir("graft-ugvocab-ensure")
    val src = "/root/testdata/sf0.001/documents.parquet"
    // materialize eagerly: the reloaded frames are lazy scans of the
    // artifact, and the rebuild below overwrites its files
    val (v1df, _) = UnigramLm.ensureVocab(docs, src, path, "text", rounds = 2)
    val v1 = v1df.as[(String, Long, Long)].collect().toSet
    val stamp1 = graft.engine.Scratch.stat(spark, s"$path/pieces")
    val (v2df, _) = UnigramLm.ensureVocab(docs, src, path, "text", rounds = 2)
    val v2 = v2df.as[(String, Long, Long)].collect().toSet
    val stamp2 = graft.engine.Scratch.stat(spark, s"$path/pieces")
    assert(stamp1 == stamp2, "fresh artifact must not rebuild")
    assert(v1 == v2)
    // a parameter change is a new fingerprint → rebuild
    val (v3df, _) = UnigramLm.ensureVocab(docs, src, path, "text", rounds = 2,
      targetV = Some(24))
    val v3n = v3df.count()
    val stamp3 = graft.engine.Scratch.stat(spark, s"$path/pieces")
    assert(stamp3 != stamp2, "changed params must force a retrain")
    assert(v3n < v1.size, "pruned retrain must shrink the vocab")
  }

  test("curriculum at-scale arm: DatasetSplit.quantileBands (approx " +
    "cuts + scan-side assignment) agrees with the gate's exact ntile " +
    "banding on the gate corpus — never off by more than one decile") {
    import graft.operators.DatasetSplit
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val vocab = UnigramLm.train(docs, "text", rounds = 2)
      .select("piece", "cnt", "score_micros")
    val sur = UnigramLm.surprisal(docs, "text", "doc_id", vocab)
      .withColumn("ppl_micros",
        when(col("n_pieces") === 0L, lit(0L))
          .otherwise(expr("score_micros div n_pieces")))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("ppl_micros").desc, col("doc_id").asc)
    val exact = sur.withColumn("decile",
      org.apache.spark.sql.functions.ntile(10).over(w))
    // band ascends with value; decile 1 = hardest, so band on −ppl
    val both = DatasetSplit
      .quantileBands(exact, -col("ppl_micros"), n = 10)
      .select("decile", "band").as[(Int, Int)].collect()
    assert(both.nonEmpty)
    val agree = both.count { case (d, b) => d == b }.toDouble / both.length
    val worst = both.map { case (d, b) => math.abs(d - b) }.max
    info(f"exact-vs-approx decile agreement ${agree * 100}%.1f%%, " +
      s"worst offset $worst")
    assert(worst <= 1,
      s"a band must never sit more than one decile from the exact " +
        s"assignment (worst=$worst)")
    assert(agree >= 0.8,
      f"approx banding must agree with exact ntile on most of the " +
        f"corpus: ${agree * 100}%.1f%%")
  }
}
