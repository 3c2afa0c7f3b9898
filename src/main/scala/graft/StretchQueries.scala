package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Blocklist, Dedup, EntityResolution, Hnsw, Ivf, LogReg, Multimodal, NaiveBayes, Pca, SimilaritySearch, Sketch}
import graft.streaming.EventStream

/** The LLM-training-data-pipeline operator surface (BASELINE.json north
  * star): dedup, similarity search, text analysis, multimodal plumbing,
  * event windows — each as a driver-contract query over the
  * `documents`/`embeddings`/`events` testdata, with a DuckDB oracle
  * wherever the computation is engine-independent. Hash-seeded ops
  * (MinHash/SimHash/LSH) are deterministic for a fixed seed but not
  * SQL-expressible → rows-only checks + ScalaTest ground-truth specs.
  */
object StretchQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The row count an index recorded in `_ROWS` — the exhaustive
    * shortlist length of the full-probe gates, read without a job.
    */
  private def indexRows(s: SparkSession, idx: String): Int =
    Ivf.indexRowCount(s, idx)
      .getOrElse(sys.error(s"index at $idx has no _ROWS")).toInt

  /** Run `body` under the at-scale shuffle layout (no broadcast
    * joins, no AQE partition coalescing), restoring the session confs
    * after. Gates that must exercise the multi-file-per-partition
    * fragmentation regime use this: at sf0.01 every shuffle otherwise
    * folds into one partition and the layout problem vanishes.
    */
  private def atScaleShuffle[T](s: SparkSession)(body: => T): T = {
    val keys = Seq(
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = keys.map { case (k, _) => k -> s.conf.getOption(k) }
    keys.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** The standard I/U/D CDC construction the five stream-encoding
    * arms (cdc/pq/mrl/sq8/bin) share under ONE oracle
    * (q_v_stream_cdc's): epoch 1 negates the %7 ids' vectors (U),
    * inserts +1e6 reversed vectors for %5≡3 (I), and tombstones
    * %11≡5 ∧ %7≢0 (D); epoch 2 re-updates the %14 ids back. `drain`
    * runs the index-specific upsert stream after each epoch write.
    * Returns the latest-snapshot query set the search arm must
    * reproduce. ONE definition on purpose: five verbatim copies of
    * this synth would have to stay character-identical with the
    * shared oracle — an edit to one copy would silently
    * desynchronize that arm and read as an operator bug (round-16
    * review).
    */
  private def cdcEpochs(emb: DataFrame, feed: String)
                       (drain: => Unit): DataFrame = {
    val e1 = emb.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id"),
        transform(col("embedding"), x => (-x).cast("float"))
          .as("embedding"),
        col("label"), lit("U").as("op"))
      .unionByName(emb.filter(col("vec_id") % 5 === 3)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          reverse(col("embedding")).as("embedding"), col("label"),
          lit("I").as("op")))
      .unionByName(emb.filter(col("vec_id") % 11 === 5 &&
          col("vec_id") % 7 =!= 0)
        .select(col("vec_id"), col("embedding"), col("label"),
          lit("D").as("op")))
    e1.coalesce(1).write.mode("append").parquet(feed)
    drain
    emb.filter(col("vec_id") % 14 === 0)
      .select(col("vec_id"), col("embedding"), col("label"),
        lit("U").as("op"))
      .coalesce(1).write.mode("append").parquet(feed)
    drain
    emb.filter(col("vec_id") < 16 &&
        !(col("vec_id") % 11 === 5 && col("vec_id") % 7 =!= 0))
      .select(col("vec_id"),
        when(col("vec_id") % 7 === 0 && col("vec_id") % 14 =!= 0,
          transform(col("embedding"), x => (-x).cast("float")))
          .otherwise(col("embedding")).as("embedding"))
  }

  /** documents ∪ a perturbed copy of itself — the standard self-test
    * corpus for near-dup detection (every doc has exactly one planted
    * near-duplicate, id + 1,000,000, with three extra tokens).
    */
  private def docsWithPlantedDups(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    docs.union(docs.select(
      (col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" planted near duplicate")).as("text")))
  }

  /** The unigram-LM vocabulary, trained once per (corpus dir, budget)
    * and reused by every downstream gate (encode, surprisal, pack,
    * curriculum) — the ensureIndex "build once, serve many" shape: a
    * production tokenizer trains once and ships to every consumer.
    * Keyed in-JVM only: the testdata dirs are immutable for a run and
    * training is partitioning-deterministic (UnigramLmSpec), so the
    * memo can never serve a wrong vocabulary. The memo holds the
    * BOUNDED vocabulary rows (≤ topV + alphabet), never data.
    */
  private val ugMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, Long, Long)]]()
  private def ugVocab(s: SparkSession, dir: String,
                      targetV: Option[Int] = None): DataFrame = {
    val key = s"$dir|${targetV.getOrElse(-1)}"
    val rows = ugMemo.computeIfAbsent(key, _ =>
      graft.operators.UnigramLm.train(t(s, dir, "documents"), "text",
          rounds = 2, targetV = targetV)
        .select(col("piece"), col("cnt"), col("score_micros"))
        .collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))))
    import s.implicits._
    rows.toDF("piece", "cnt", "score_micros")
  }

  /** documents ∪ EXACT copies of itself (doc_id + 1e6, same text;
    * whitespace-only/null texts excluded) — the q_s29 semantic-oracle
    * corpus in DataFrame form. Over it, identical shingle sets ⟺
    * identical MinHash signatures ⟺ same bucket in EVERY band, so a
    * jaccard-1.0-confirmed result is the SEMANTIC equal-shingle-set
    * relation: seed- and hash-engine-independent, fully oracle-able.
    * Natural exact-dup pairs surface identically on both sides.
    */
  private def docsWithPlantedCopies(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      .filter(length(trim(col("text"))) > 0)
    docs.union(docs.select(
      (col("doc_id") + 1000000L).as("doc_id"), col("text")))
  }

  /** Deterministic messy-URL corpus: class `doc_id % 23` owns ONE
    * canonical URL (`https://{www|blog}.site{cls%5}{.co.uk|.com}
    * /a{cls}/b[?x=1&y=2]`); the variant `(doc_id / 23) % 8` spells it
    * wrong in a different way — scheme/host case, explicit default
    * port, trailing slash, fragment, tracking param + shuffled query
    * order, duplicate path slashes, trailing host dot. Pure-`Column`
    * construction, so the synth itself runs inside codegen.
    */
  private def messyUrls(s: SparkSession, dir: String): DataFrame = {
    val cls = col("doc_id") % 23
    val v = (col("doc_id") / 23).cast("long") % 8
    val host = concat(
      when(cls % 2 === 0, lit("www.")).otherwise(lit("blog.")),
      lit("site"), (cls % 5).cast("string"),
      when(cls % 3 === 0, lit(".co.uk")).otherwise(lit(".com")))
    val path = concat(lit("/a"), cls.cast("string"), lit("/b"))
    val canonQ = when(cls % 4 === 0, lit("?x=1&y=2")).otherwise(lit(""))
    val messyQ = when(cls % 4 === 0, lit("?y=2&utm_source=feed&x=1"))
      .otherwise(lit("?utm_source=feed"))
    val base = concat(lit("https://"), host)
    val raw = when(v === 0, concat(base, path, canonQ))
      .when(v === 1, concat(upper(base), path, canonQ))
      .when(v === 2, concat(base, lit(":443"), path, canonQ))
      .when(v === 3, concat(base, path, lit("/"), canonQ))
      .when(v === 4, concat(base, path, canonQ, lit("#sec"),
        col("doc_id").cast("string")))
      .when(v === 5, concat(base, path, messyQ))
      .when(v === 6, concat(base, lit("/a"), cls.cast("string"),
        lit("//b"), canonQ))
      .otherwise(concat(base, lit("."), path, canonQ))
    t(s, dir, "documents").select(col("doc_id"), raw.as("raw_url"))
  }

  /** Deterministic messy-name corpus from `customer` for the entity-
    * resolution gates: entity `e = c_custkey div 6` owns ONE canonical
    * name (three arithmetic-chosen syllables + "son"); variant
    * `v = c_custkey % 6` misspells it with one edit at character
    * position ≥ 4 (delete / duplicate / adjacent swap / substitute /
    * insert), so a first-3-chars blocking key is typo-stable by
    * construction. ASCII throughout — the JW gate pins DuckDB's
    * byte-based scorer against Spark's UTF-16 one, identical only on
    * ASCII. Pure-`Column` synth (runs inside codegen); the DuckDB
    * oracle replays the same arithmetic.
    */
  // Fellegi–Sunter field weights, derived once and shared by the
  // q_e_fs gate AND its oracle SQL (interpolated as literals), so
  // both engines score with bit-identical integers
  /** Driver-fitted PCA literals (mean micros, component-weight
    * micros), stashed by the q_v_pca_project gate run and read by its
    * oracle builder. Sound because Verify runs every gate BEFORE it
    * dumps oracle_sql.json, in the same JVM — the q_e_fs literal
    * pattern extended to DATA-dependent literals. Empty (gate never
    * ran or crashed) ⇒ the oracle falls back to a never-matching
    * sentinel, keeping the row red rather than silently green.
    */
  @volatile private var pcaLiterals:
      Option[(Array[Long], Array[Array[Long]])] = None

  /** Driver-computed temperature-mix keep rates (group → /65536),
    * stashed by q_t_temp_mix for its oracle — same soundness argument
    * as [[pcaLiterals]].
    */
  @volatile private var tempMixRates: Option[Seq[(String, Int)]] = None

  /** Driver-computed temperature EPOCH factors (group → /65536),
    * stashed by q_t_temp_epochs — same soundness as [[tempMixRates]].
    */
  @volatile private var tempEpochFactors: Option[Seq[(String, Int)]] = None

  /** q_pipe_curate6's own rate stash (its rates derive from the
    * POST-blocklist survivor counts, not the raw corpus).
    */
  @volatile private var curate6Rates: Option[Seq[(String, Int)]] = None

  /** Driver-fitted k-means centroids in micros, stashed by
    * q_t_pack_sem for its oracle — same soundness as [[pcaLiterals]]
    * (the centroids are constants; the distributed half — embedding
    * quantization, integer inner products, argmax, ordering, packing —
    * is what the oracle checks).
    */
  @volatile private var semPackCentroids: Option[Array[Array[Long]]] = None

  private val fsJw = EntityResolution.fsWeightsMicros(0.9, 0.1)
  private val fsLen = EntityResolution.fsWeightsMicros(0.85, 0.3)
  private val fsPre = EntityResolution.fsWeightsMicros(0.95, 0.5)

  private[graft] def messyNames(s: SparkSession, dir: String): DataFrame = {
    val syl = array(Seq("an", "bel", "cor", "dan", "els", "far", "gil",
      "hart", "ing", "jas", "kel", "lor").map(lit): _*)
    def at(i: Column) = element_at(syl, (i % 12).cast("int") + 1)
    def cut(c: Column, from: Int, len: Int = 100) = substring(c, from, len)
    t(s, dir, "customer").select(col("c_custkey"))
      .withColumn("__e", expr("c_custkey div 6"))
      .withColumn("__v", col("c_custkey") % 6)
      // the syllable name space is periodic at 12³ = 1728 entities; a
      // corpus past that would hand every name 10× clones at 10× scale
      // and the trigram join's TRUE pair volume would grow
      // quadratically by construction. The digit tier (e div 1728,
      // empty below 1728) makes names unique per entity at ANY corpus
      // size — the second half of the entity-scaling synth.
      .withColumn("__c", concat(at(col("__e")), at(expr("__e div 12")),
        at(expr("__e div 144")),
        when(expr("__e div 1728") > 0,
          expr("cast(__e div 1728 as string)")).otherwise(lit("")),
        lit("son")))
      .withColumn("name", when(col("__v") === 0, col("__c"))
        .when(col("__v") === 1, concat(cut(col("__c"), 1, 3), cut(col("__c"), 5)))
        .when(col("__v") === 2, concat(cut(col("__c"), 1, 4), cut(col("__c"), 4)))
        .when(col("__v") === 3, concat(cut(col("__c"), 1, 3),
          cut(col("__c"), 5, 1), cut(col("__c"), 4, 1), cut(col("__c"), 6)))
        .when(col("__v") === 4, concat(cut(col("__c"), 1, 3), lit("x"),
          cut(col("__c"), 5)))
        .otherwise(concat(cut(col("__c"), 1, 5), lit("q"), cut(col("__c"), 6))))
      // a second, typo-free quasi-identifier shared by the entity's
      // records (a city/zip-style field): multi-attribute blocking
      // keys on (prefix3, city) — 40× narrower blocks than the name
      // prefix alone, which is the block-granularity lever the
      // operator's scale contract is about (measured: prefix-only
      // blocks cost 4.7 s/run at sf0.1; with city, 0.2 s)
      // city = entity div 15 (15 entities per city), NOT entity % K:
      // a modulus keeps the city domain FIXED as the corpus grows, so
      // blocks swell linearly and blocked pairs grow quadratically —
      // the synth would manufacture the very density explosion the
      // blocking exists to avoid (round-9 VERDICT #4). With div, the
      // city count scales with the entity count and per-block
      // population stays bounded, which is what lets ScaleGate put
      // real linear envelopes on the ER family.
      .select(col("c_custkey").as("rec_id"), col("name"),
        expr("(c_custkey div 6) div 15").as("city"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── text analysis ──────────────────────────────────────────────────
    // the four scalar text measures ride the one-pass TextProfile
    // kernel (value-identical to the declarative forms — NativeExprSpec;
    // staged as its own projection so each field access reads the
    // struct instead of re-running the kernel)
    "q_t_token_count" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.NativeExpressions.textProfile(col("text")).as("__p"))
        .select(col("doc_id"), col("__p.n_tokens").as("n_tokens"),
          col("__p.n_bpe").as("n_bpe"))),

    "q_t_quality" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.NativeExpressions.textProfile(col("text")).as("__p"))
        .select(col("doc_id"),
          col("__p.quality_micros").as("quality_micros"))),

    "q_t_langid" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.NativeExpressions.textProfile(col("text")).as("__p"))
        .select(col("doc_id"), col("__p.lang_pred").as("lang_pred"))),

    "q_t_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"))),

    "q_t_redact" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.redactPii(
          concat(col("text"),
            lit(" contact admin@example.com or 555-123-4567 / (555) 123-4567" +
              " / +1 555 123 4567 at 10.0.0.1 build 999.1.2.3")))
          .as("clean_text"))),

    // vocabulary building: top-100 tokens by corpus frequency — the
    // standard first pass of tokenizer/vocab training. Explode happens
    // scan-side; the aggregation is partial+final so the shuffle
    // carries (token, partial_count), never raw token streams. The
    // (n desc, token asc) order is total → LIMIT is deterministic.
    "q_t_vocab" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(100)),

    // document frequency (the DF of TF-IDF): how many docs contain
    // each token at least once. array_distinct BEFORE the explode so
    // a token counts once per doc, and the exploded row count is
    // bounded by distinct-tokens-per-doc, not token occurrences.
    "q_t_docfreq" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(array_distinct(
          TextFunctions.tokens(col("text")))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n_docs"))),

    // deterministic content-hash split: reproducible across engines and
    // repartitions, duplicate text always lands in the same split
    "q_t_split" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.operators.DatasetSplit.bucket256(col("text")).as("bucket"),
        graft.operators.DatasetSplit.splitLabel(col("text")).as("split"))),

    // STRATIFIED split: exact 80/10/10 per language over distinct
    // texts, duplicate-cohesive (copies share their hash's side) —
    // the low-resource-stratum guarantee the plain hash split only
    // gives in expectation
    "q_t_split_strat" -> ((s, dir) =>
      graft.operators.DatasetSplit.stratifiedSplitLabel(
        t(s, dir, "documents").select(col("doc_id"), col("lang"),
          col("text")),
        "lang", "text")
        .select(col("doc_id"), col("lang"), col("split"))),

    // leakage-safe split: near-dup FAMILIES (the chain components,
    // closed-form doc_id div 10) move between splits as a unit — the
    // split hashes the component id, not the text, so no duplicate
    // family straddles train/test. Singletons (chain starts in no
    // pair) keep their own id as component
    "q_t_split_leakfree" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val pairs = docs.filter(col("doc_id") % 10 =!= 0)
        .select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"))
      graft.operators.DatasetSplit.leakageSafeSplit(docs, "doc_id", pairs)
        .select(col("doc_id"), col("component"), col("split"))
    }),

    // deterministic ~25% sample keyed on the same content hash
    "q_t_sample" -> ((s, dir) =>
      t(s, dir, "documents")
        .filter(graft.operators.DatasetSplit.hashSample(col("text"), 64))
        .select(col("doc_id"))),

    // per-group quota: top-20 docs per language by quality — the
    // corpus-curation cap, ranked by the bounded aggregator (string
    // keys), never a window sort
    "q_t_quota" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.NativeExpressions.textProfile(col("text")).as("__p"))
        .select(col("doc_id"), col("__p.lang_pred").as("lang"),
          col("__p.quality_micros").cast("double").as("quality"))
      graft.operators.TopK.topKPerGroup(docs, 20, "lang", "doc_id",
        "quality")(s)
    }),

    // dataset-card stats in ONE pass at two granularities: rollup(lang)
    // emits per-language rows plus the grand total from a single
    // aggregation (partial+final, no second scan). Exact integer
    // aggregates only — no double summation to drift between engines.
    "q_t_stats" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(graft.functions.NativeExpressions.textProfile(col("text"))
          .as("__p"))
        .select(col("__p.lang_pred").as("lang"), col("__p.n_tokens").as("nt"),
          col("__p.quality_micros").as("qm"))
        .rollup(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt")).as("total_tokens"),
          sum(col("qm")).as("sum_quality_micros"))),

    // count-min sketch: one-pass fixed-memory token-frequency estimates,
    // probed over the full (bounded) vocabulary. On the gate corpus the
    // sketch is collision-free at every depth row, so the estimates
    // EQUAL the exact counts and the exact histogram is the oracle;
    // the general never-undercount/bounded-overcount guarantees are
    // SketchSpec's job
    "q_t_cms" -> ((s, dir) => {
      implicit val ss = s
      import s.implicits._
      val docs = t(s, dir, "documents")
      val cms = graft.operators.Sketch.sketchTokens(docs, "text")
      // BOUNDED probe: top-100 tokens by corpus frequency (total order
      // → deterministic set), not the open vocabulary — estimateAll is
      // a driver-side read path and its probe list must stay O(100)
      // even on a web corpus whose distinct-token count is billions.
      // On the gate corpus the vocab fits inside the cap, so the exact
      // histogram (same cap, same order) remains the oracle.
      val probes = docs
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc).limit(100)
        .select(col("token")).as[String].collect().toSeq
      graft.operators.Sketch.estimateAll(s, cms, probes)
    }),

    // the KMV sketch folded across a STREAM: two micro-batches (even /
    // odd docs), per-batch bounded sketches merged in foreachBatch.
    // Merge is commutative/associative/IDEMPOTENT (PropertySpec), so
    // the fold is bit-identical to the one-shot sketch of the whole
    // corpus — the gate shares q_t_kmv's oracle outright
    "q_t_kmv_stream" -> ((s, dir) => {
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_kmvs_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      val feed = s"$scratch/feed"
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      docs.filter(col("doc_id") % 2 === 0)
        .coalesce(1).write.mode("append").parquet(feed)
      docs.filter(col("doc_id") % 2 === 1)
        .coalesce(1).write.mode("append").parquet(feed)
      graft.streaming.StreamingSketch.kmvDistinctTokensStream(
          s, feed, s"$scratch/ckpt", k = 16)
        .orderBy(col("lang"))
    }),

    // the CMS twin of the streaming fold: element-wise-ADD merge is
    // exact over disjoint micro-batches (fold ≡ one-shot sketch) but
    // not idempotent — the additive sketch leans on the checkpoint's
    // batch-skip where KMV's min-merge is replay-safe by algebra.
    // Same probe protocol as q_t_cms ⇒ shares its oracle
    "q_t_cms_stream" -> ((s, dir) => {
      implicit val ss = s
      import s.implicits._
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_cmss_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      val feed = s"$scratch/feed"
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      docs.filter(col("doc_id") % 2 === 0)
        .coalesce(1).write.mode("append").parquet(feed)
      docs.filter(col("doc_id") % 2 === 1)
        .coalesce(1).write.mode("append").parquet(feed)
      val cms = graft.streaming.StreamingSketch.cmsTokensStream(
        s, feed, s"$scratch/ckpt")
      val probes = docs
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc).limit(100)
        .select(col("token")).as[String].collect().toSeq
      graft.operators.Sketch.estimateAll(s, cms, probes)
    }),

    // KMV distinct sketch — the oracle-checkable distinct counter
    // (q_t_hll's estimate is a register artifact; KMV's is a pure
    // integer function of the k smallest md5-48 hashes, so DuckDB
    // replays the WHOLE estimate: rank distinct hashes, take h_k,
    // (k−1)·2⁴⁸ div h_k). Same bounded-buffer execution shape as HLL:
    // ≤ k longs per (group × partition), map-side partials, never the
    // token stream on the wire. lang staged BEFORE the explode (the
    // per-OUTPUT-row generator-projection lesson, q_t_hll above).
    // k = 16 — BELOW the template corpus's ~30-token per-lang
    // vocabulary, so the gate pins the SATURATED estimator path
    // (rank-16 hash + integer division), not just the exact small-set
    // path; SketchSpec covers both regimes at realistic cardinality
    "q_t_kmv" -> ((s, dir) => {
      implicit val ss = s
      val d = t(s, dir, "documents")
        .select(graft.functions.NativeExpressions.textProfile(col("text"))
            .getField("lang_pred").as("lang"),
          TextFunctions.tokens(col("text")).as("__t"))
        .select(col("lang"), explode(col("__t")).as("token"))
      graft.operators.Sketch.kmvDistinctPerGroup(d, "lang", "token",
          k = 16)
        .orderBy(col("lang"))
    }),

    // exact heavy hitters in two bounded passes: per-partition
    // Misra–Gries candidates (≤ k counters each, any vocabulary size)
    // → exact recount of candidates only. The output is the EXACT
    // qualifying set, so it gets a full GROUP BY/HAVING oracle —
    // validate=true spends one aggregate scan proving k covers the
    // corpus (k > N/minCount) rather than trusting the sizing
    "q_t_heavy" -> ((s, dir) =>
      graft.operators.HeavyHitters.tokenHeavyHitters(
        t(s, dir, "documents"), "text", minCount = 500L, k = 4096,
        validate = true)),

    // positional inverted index: one shuffle keyed on (token, doc),
    // per-group state bounded by document length; positions ship as a
    // CSV string (array-typed gate columns crash the driver compare)
    "q_t_postings" -> ((s, dir) =>
      graft.operators.InvertedIndex.postings(
        t(s, dir, "documents"), "text", "doc_id")),

    // TF-IDF term weights: integer-micros idf per token (margin-audited)
    // × exact tf — hash-stable relevance scores
    "q_t_tfidf" -> ((s, dir) =>
      graft.operators.TfIdf.tfIdf(t(s, dir, "documents"), "text", "doc_id")),

    // Okapi BM25: the denominators clear to pure int64 arithmetic
    // (see TfIdf.bm25), so even the length-normalized score gets a
    // full cross-engine oracle — no floating division anywhere
    "q_t_bm25" -> ((s, dir) =>
      graft.operators.TfIdf.bm25(t(s, dir, "documents"), "text", "doc_id")),

    "q_t_chunks" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("__toks"))
        .filter(size(col("__toks")) > 0)
        .select(col("doc_id"),
          explode(TextFunctions.chunkStructs(col("__toks"), 32, 8)).as("c"))
        .select(col("doc_id"), col("c.chunk_start").as("chunk_start"),
          col("c.chunk").as("chunk"))),

    // C4-style boilerplate cleanup over a planted HTML wrapper: tag
    // strip → entity decode → whitespace collapse, all codegen'd
    // regexp chains (the escaped &lt;tag&gt; must SURVIVE as text)
    "q_t_clean" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.cleanBoilerplate(
          concat(
            lit("<div class=\"x\"><p>Hello&nbsp;world &amp; <b>friends</b></p> "),
            col("text"),
            lit(" &lt;tag&gt; &quot;q&quot; <br/> tail</div>")))
          .as("clean_text"))),

    // corpus-bigram-LM surprisal (the perplexity-filter stage): train
    // on the corpus, score the corpus — integer-micros per bigram type
    // then exact int64 sums, so the length-dependent score still gets
    // a full cross-engine oracle
    "q_t_surprisal" -> ((s, dir) =>
      graft.operators.LangModel.bigramSurprisal(
        t(s, dir, "documents"), "text", "doc_id")),

    // Kneser–Ney smoothed LM scoring (the smoothing the MLE surprisal
    // lacks): train on the content-hash TRAIN split, score the
    // held-out docs — absolute discounting d=3/4 + continuation
    // backoff, P_KN as an exact int64 num/den pair so both engines
    // ln-and-round the identical micros per bigram type; unseen
    // bigrams report as n_oov instead of a zero-probability cliff
    "q_t_kn_surprisal" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id"),
          coalesce(col("text"), lit("")).as("text"))
        .withColumn("__b",
          graft.operators.DatasetSplit.bucket256(col("text")))
      graft.operators.LangModel.knSurprisal(
        base.filter(col("__b") < 205),
        base.filter(col("__b") >= 205), "text", "doc_id")
    }),

    // INTERPOLATED trigram KN (Chen & Goodman) — the order-3 standard:
    // same split composition as the bigram gate, the per-type P₃ a
    // single exact int64 rational composed over the common
    // denominator 16·h12·t2·nT (continuation counts at both lower
    // orders — the property that makes KN state-of-the-art among
    // count LMs)
    "q_t_kn3_surprisal" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id"),
          coalesce(col("text"), lit("")).as("text"))
        .withColumn("__b",
          graft.operators.DatasetSplit.bucket256(col("text")))
      graft.operators.LangModel.kn3Surprisal(
        base.filter(col("__b") < 205),
        base.filter(col("__b") >= 205), "text", "doc_id")
    }),

    // the CCNet composition: perplexity-filter the corpus with the KN
    // model — train on the content-hash split, score EVERY doc, keep
    // each language's best 90% by per-known-bigram surprisal. The
    // threshold is RANK-based (r·10 ≤ n·9, integer-exact on both
    // engines) — never a float quantile, whose interpolation rules
    // differ across engines. Docs whose bigrams are all-OOV (nothing
    // the model can score) are excluded by definition, like the <2-
    // token docs the bigram family already excludes
    "q_pipe_ppl_filter" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val base = t(s, dir, "documents").select(col("doc_id"), col("lang"),
          coalesce(col("text"), lit("")).as("text"))
        .withColumn("__b",
          graft.operators.DatasetSplit.bucket256(col("text")))
      val train = base.filter(col("__b") < 205)
      val scored = graft.operators.LangModel
        .knSurprisal(train, base, "text", "doc_id")
        .filter(col("n_bigrams") - col("n_oov") > 0)
        .withColumn("ppl_q", expr("kn_micros div (n_bigrams - n_oov)"))
        .join(base.select(col("doc_id"), col("lang")), "doc_id")
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("ppl_q"), col("doc_id"))
      val cw = Window.partitionBy(col("lang"))
      scored.withColumn("__r", row_number().over(w))
        .withColumn("__n", count(lit(1)).over(cw))
        .filter(col("__r") * 10 <= col("__n") * 9)
        .select(col("doc_id"), col("lang"), col("ppl_q"))
    }),

    // temperature-scaled mixture sampling (sampling ∝ p_g^(1/T), the
    // standard multilingual re-weighting): keep rates derived from
    // the corpus's own language counts at T = 2 on the driver (ONE
    // pow-rounding site), stashed as literals for the oracle — so the
    // data-dependent rates are bit-identical on both sides and the
    // filter itself is the exact md5-bucket arithmetic
    "q_t_temp_mix" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          coalesce(col("text"), lit("")).as("text"))
      val rates = graft.operators.DatasetSplit
        .temperatureMixRates(base, "lang", temperature = 2.0)
      tempMixRates = Some(rates)
      graft.operators.DatasetSplit
        .temperatureMix(base, "lang", col("text"), rates)
        .select(col("doc_id"), col("lang"))
    }),

    // temperature UPSAMPLING end-to-end (the deployment form of the
    // epoch operator): factors from the corpus's own language counts
    // at T = 2 — largest group pins 1.0 epoch, rarer languages repeat
    // toward equalization — stashed as literals for the oracle (the
    // q_t_temp_mix pattern), then repeatFractional applies them. Null
    // groups drop (the temperatureMix contract).
    "q_t_temp_epochs" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .filter(col("lang").isNotNull)
        .select(col("doc_id"), col("lang"),
          coalesce(col("text"), lit("")).as("text"))
      val fs = graft.operators.DatasetSplit
        .temperatureEpochFactors(base, "lang", temperature = 2.0)
      tempEpochFactors = Some(fs)
      graft.operators.DatasetSplit.repeatFractional(base, col("text"),
        col("lang"), fs.toMap, 65536)
        .select(col("doc_id"), col("lang"), col("copy"))
    }),

    // fractional-epoch UPSAMPLING (the other half of the mixing axis
    // — weightedSampleFilter/temperatureMix only go DOWN): en at
    // 150733/65536 ≈ 2.3 epochs, de at 1.5, everything else 1.0.
    // Every row repeats floor(f) times plus once more when its
    // salted 16-bit bucket falls under the fractional part; the
    // oracle replays the identical md5 arithmetic and range-explodes
    // the copy index
    "q_t_epochs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"),
          col("lang"))
      graft.operators.DatasetSplit.repeatFractional(docs, col("text"),
        col("lang"), Map("en" -> 150733, "de" -> 98304), 65536)
        .select(col("doc_id"), col("copy"))
    }),

    // deterministic weighted corpus mixing: per-language keep rates
    // (en 192/256, und 64/256, default 128/256) keyed on the content
    // hash — the pretraining-mixture re-weighting step, reproducible
    // across engines/repartitions, absorbed by the scan (no shuffle)
    "q_t_mix" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          graft.functions.NativeExpressions.textProfile(col("text"))
            .getField("lang_pred").as("lang"))
        .filter(graft.operators.DatasetSplit.weightedSampleFilter(
          col("text"), col("lang"), Map("en" -> 192, "und" -> 64), 128))
        .select(col("doc_id"), col("lang"))),

    // sequence-packing offsets: each doc's start offset and context-
    // window index in its bucket's concatenated token stream — one
    // window sum per content-hash bucket, never a global sort
    "q_t_pack" -> ((s, dir) =>
      graft.operators.Packing.packOffsets(
        t(s, dir, "documents"), "text", "doc_id", seqTokens = 1024)),

    // SEMANTIC packing (in-context-pretraining ordering): k-means
    // centroids (driver-fitted, stashed as micros literals), exact-
    // integer centroid affinity assigns each doc a cluster + a
    // centrality rank, and the packer streams each cluster in
    // (ip desc, id) order — so a context window holds RELATED docs.
    // The oracle replays quantization, the k integer dot products,
    // the argmax, and the window arithmetic with the stashed literals
    "q_t_pack_sem" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = Ivf.train(emb, k = 4, iters = 2)
      val cm = model.centroids.map(_.map(x => math.round(x * 1000000.0)))
      semPackCentroids = Some(cm)
      val aff = SimilaritySearch.centroidAffinityMicros(emb, cm)
        .select(col("vec_id").as("doc_id"), col("cluster"),
          col("ip_micros"))
      val docs = t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.tokenCount(coalesce(col("text"), lit("")))
          .cast("long").as("n_tokens"))
      graft.operators.Packing.packOffsetsSemantic(
        aff.join(docs, "doc_id"), "doc_id", "ip_micros", "n_tokens",
        seqTokens = 1024)
    }),

    // within-doc duplicate-shingle fraction (the Gopher-style
    // repetition quality signal): staged token → shingle projections,
    // one scan, no shuffle
    "q_t_rep_ratio" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("__t"))
        .select(col("doc_id"),
          TextFunctions.shinglesFromTokens(col("__t"), 3).as("__sh"))
        .select(col("doc_id"),
          TextFunctions.repetitionRatio(col("__sh")).as("rep_ratio"))),

    // benchmark decontamination: the corpus slice surviving after
    // dropping every doc that shares a 3-shingle with the (held-out)
    // benchmark slice — deterministic slicing on doc_id so the overlap
    // relation is oracle-expressible
    "q_t_decontam" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
      Dedup.decontaminate(corpus, bench, "text", "doc_id")
        .select(col("doc_id"))
    }),

    // the same decontamination relation through the broadcast-Bloom
    // prefilter (no false negatives + exact verify ⇒ identical rows;
    // the oracle is the same overlap SQL — the sketch must be
    // invisible)
    "q_t_bloom_decontam" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
      graft.operators.Dedup.decontaminateBloom(corpus, bench, "text",
        "doc_id").select(col("doc_id"))
    }),

    // decontamination, EMBEDDING arm: corpus rows semantically equal
    // to a benchmark entry (cosine ≥ 0.8 — above this corpus's
    // natural ceiling ~0.6, so the only qualifying pairs are the
    // planted benchmark copies, which share every LSH band → the
    // banded path provably equals the exact-SQL oracle, q_v_neardup's
    // argument applied to the two-relation case)
    "q_t_decontam_sem" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val bench = emb.filter(col("vec_id") % 7 === 3)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      SimilaritySearch.decontaminateSemantic(emb, bench,
          threshold = 0.8, dim = 64)
        .select(col("vec_id"))
    }),

    // deterministic per-group reservoir: bottom-k by a multiplicative
    // hash — the unbiased "sample k docs per language" pass whose
    // output is a pure function of the data (re-runnable, auditable).
    // Rides the bounded-heap TopK aggregator (no Window sort); the
    // hash is plain integer arithmetic so the oracle replays it
    "q_t_bottomk" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.NativeExpressions.textProfile(col("text"))
            .getField("lang_pred").as("lang"),
          ((col("doc_id") * 2654435761L) % 4294967296L).as("h"))
      graft.operators.TopK.topKPerGroup(
          d.withColumn("score", -col("h").cast("double")),
          8, "lang", "doc_id", "score")(s)
        .select(col("lang"), col("rank"), col("doc_id"),
          (-col("score")).cast("long").as("h"))
    }),

    // HyperLogLog per-language distinct-token estimate — fixed-memory
    // distinct counting. xxhash64 + max-merge make the estimate a
    // deterministic, partitioning-independent value, but the VALUE is
    // a register-layout artifact no second engine reproduces — so the
    // oracle pins what IS engine-independent (round-15 VERDICT #7):
    // the exact per-lang distinct count (full DuckDB replay) plus the
    // documented error envelope as a machine-checked claim, hll_ok =
    // |est − exact| ≤ max(⌈6.5%·exact⌉, 8) — SketchSpec's 4σ bound at
    // p = 12, the absolute floor spanning the near-exact
    // linear-counting regime. A register regression now
    // hash-mismatches instead of hiding behind a rows-only count;
    // the raw estimate stays pinned (partitioning-independence,
    // tight envelopes) in SketchSpec
    "q_t_hll" -> ((s, dir) => {
      // lang staged BEFORE the explode — a projection after a Generate
      // is evaluated per OUTPUT row, which would run the textProfile
      // kernel once per token instead of once per document (NOTES
      // lesson #1, generator edition: measured 7 s → ~1 s at sf0.1).
      // The per-doc (lang, tokens) stage MATERIALIZES once: both the
      // estimate and the exact branch re-derive from it, and an
      // unmaterialized stage would run the profile kernel twice
      val staged = graft.operators.Materialize.viaScratch(
        t(s, dir, "documents")
          .select(graft.functions.NativeExpressions.textProfile(col("text"))
              .getField("lang_pred").as("lang"),
            TextFunctions.tokens(col("text")).as("__t")),
        "graft-hll-q")
      val d = staged.select(col("lang"), explode(col("__t")).as("token"))
      val est = graft.operators.Sketch.distinctPerGroup(d, "lang",
        "token")(s)
      val exact = d.groupBy(col("lang"))
        .agg(countDistinct(col("token")).as("exact_distinct"))
      est.join(exact, Seq("lang"))
        .select(col("lang"), col("exact_distinct"),
          (abs(col("est_distinct") - col("exact_distinct")) <=
            greatest(expr("(exact_distinct * 65 + 999) div 1000"),
              lit(8L))).as("hll_ok"))
        .orderBy(col("lang"))
    }),

    // incrementally-maintained rollup: two disjoint batches folded
    // into the aggregate table must equal the one-shot aggregate —
    // the materialized-view-maintenance identity IS the oracle
    "q_inc_agg" -> ((s, dir) => {
      import graft.operators.IncrementalAgg
      val root = s.conf.get("graft.scratch.dir",
        System.getProperty("java.io.tmpdir"))
      val tbl = new graft.engine.VersionedTable(s, s"$root/graft-vt/inc_agg")
      tbl.destroy() // deterministic across reps
      val orders = t(s, dir, "orders").select(col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderkey"))
      val keys = Seq("o_orderpriority")
      val specs = Seq(
        IncrementalAgg.AggSpec("count", "1", "n_orders"),
        IncrementalAgg.AggSpec("sum", "cents", "rev_cents"),
        IncrementalAgg.AggSpec("min", "o_orderkey", "min_key"),
        IncrementalAgg.AggSpec("max", "o_orderkey", "max_key"))
      IncrementalAgg.update(tbl,
        orders.filter(col("o_orderkey") % 2 === 0), keys, specs)
      IncrementalAgg.update(tbl,
        orders.filter(col("o_orderkey") % 2 =!= 0), keys, specs)
      tbl.read()
    }),

    // DSIR importance weights: target = the %97 doc family (the
    // decontam gates' "special set" convention), raw = the rest; the
    // weight is an exact integer-micros dot product over per-token
    // smoothed log-ratios — full oracle (same formula in SQL)
    "q_t_dsir" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.operators.Dsir.importanceWeights(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "text", "doc_id")
    }),

    // the selection step: keep raw documents at or above the median
    // importance weight (exact interpolated percentile threshold)
    "q_t_dsir_sel" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.operators.Dsir.selectAboveQuantile(
        graft.operators.Dsir.importanceWeights(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          "text", "doc_id"),
        q = 0.5, idCol = "doc_id")
    }),

    // retractable MV maintenance: initialize on snapshot A, fold ONE
    // weighted change batch (inserts + updates + deletes via
    // retractStream), and the view must equal the full aggregate over
    // snapshot B — the incremental-view-maintenance identity under
    // DELETE/UPDATE traffic, which q_inc_agg's append-only path
    // cannot express. Same A/B construction as q_cdc_diff
    "q_mv_retract" -> ((s, dir) => {
      import graft.operators.IncrementalAgg
      val base = t(s, dir, "part").select(col("p_partkey"), col("p_brand"),
        col("p_size"),
        round(col("p_retailprice") * 100).cast("long").as("price_cents"))
      val before = base.filter(col("p_partkey") % 7 =!= 0).drop("p_size")
      val after = base.filter(col("p_size") <= 48)
        .withColumn("price_cents", col("price_cents") +
          when(col("p_partkey") % 5 === 0, 100L).otherwise(0L))
        .drop("p_size")
      val root = s.conf.get("graft.scratch.dir",
        System.getProperty("java.io.tmpdir"))
      val tbl = new graft.engine.VersionedTable(s, s"$root/graft-vt/mv_retract")
      tbl.destroy() // deterministic across reps
      val keys = Seq("p_brand")
      val specs = Seq(
        IncrementalAgg.AggSpec("count", "1", "n_parts"),
        IncrementalAgg.AggSpec("sum", "price_cents", "sum_cents"))
      IncrementalAgg.initialize(tbl, before, keys, specs)
      IncrementalAgg.updateFromChanges(tbl,
        graft.engine.Upsert.retractStream(before, after, Seq("p_partkey")),
        keys, specs)
      IncrementalAgg.readView(tbl.read(), keys, specs)
    }),

    // the STREAMED MV: two retract epochs (initial load, then the
    // update/delete increment) through two real streaming runs
    // restarting on one checkpoint — foreachBatch → applyMvBatch →
    // the cdc claim ledger (exactly-once pinned in MaintenanceSpec);
    // the final view shares q_mv_retract's oracle
    "q_mv_stream" -> ((s, dir) => {
      import graft.operators.IncrementalAgg
      val base = t(s, dir, "part").select(col("p_partkey"), col("p_brand"),
        col("p_size"),
        round(col("p_retailprice") * 100).cast("long").as("price_cents"))
      val before = base.filter(col("p_partkey") % 7 =!= 0).drop("p_size")
      val after = base.filter(col("p_size") <= 48)
        .withColumn("price_cents", col("price_cents") +
          when(col("p_partkey") % 5 === 0, 100L).otherwise(0L))
        .drop("p_size")
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_mv_stream_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      val keys = Seq("p_brand")
      val specs = Seq(
        IncrementalAgg.AggSpec("count", "1", "n_parts"),
        IncrementalAgg.AggSpec("sum", "price_cents", "sum_cents"))
      for ((b, a) <- Seq((before.filter(lit(false)), before),
        (before, after))) {
        graft.engine.Upsert.retractStream(b, a, Seq("p_partkey"))
          .coalesce(1).write.mode("append").parquet(s"$scratch/feed")
        IncrementalAgg.maintainStream(s, s"$scratch/feed", s"$scratch/mv",
          s"$scratch/ckpt", keys, specs)
      }
      IncrementalAgg.readView(
        new graft.engine.VersionedTable(s, s"$scratch/mv").read(),
        keys, specs)
    }),

    // the NON-retractable aggregates (min/max) under the same change
    // traffic: only the groups the feed touched are re-derived from
    // the after snapshot; untouched groups keep their stored row
    "q_mv_dirty" -> ((s, dir) => {
      import graft.operators.IncrementalAgg
      val base = t(s, dir, "part").select(col("p_partkey"), col("p_brand"),
        col("p_size"),
        round(col("p_retailprice") * 100).cast("long").as("price_cents"))
      val before = base.filter(col("p_partkey") % 7 =!= 0).drop("p_size")
      val after = base.filter(col("p_size") <= 48)
        .withColumn("price_cents", col("price_cents") +
          when(col("p_partkey") % 5 === 0, 100L).otherwise(0L))
        .drop("p_size")
      val root = s.conf.get("graft.scratch.dir",
        System.getProperty("java.io.tmpdir"))
      val tbl = new graft.engine.VersionedTable(s, s"$root/graft-vt/mv_dirty")
      tbl.destroy()
      val keys = Seq("p_brand")
      val specs = Seq(
        IncrementalAgg.AggSpec("min", "price_cents", "min_cents"),
        IncrementalAgg.AggSpec("max", "price_cents", "max_cents"),
        IncrementalAgg.AggSpec("count", "1", "n_parts"))
      IncrementalAgg.update(tbl, before, keys, specs)
      IncrementalAgg.updateDirtyGroups(tbl, after,
        graft.engine.Upsert.retractStream(before, after, Seq("p_partkey")),
        keys, specs)
      tbl.read()
    }),

    // declarative data-quality expectations: per-rule violation
    // counts in ONE aggregation pass (null ⇒ violation — a rule must
    // prove itself true); mixed zero- and non-zero-violation rules
    "q_dq_expect" -> ((s, dir) => {
      import graft.operators.DataQuality
      DataQuality.check(t(s, dir, "lineitem"), Seq(
        DataQuality.rule("qty_in_range", "l_quantity BETWEEN 1 AND 50"),
        DataQuality.rule("price_positive", "l_extendedprice > 0"),
        DataQuality.rule("qty_small", "l_quantity <= 30"),
        DataQuality.rule("ship_known", "l_shipdate IS NOT NULL")))
    }),

    // functional-dependency audit: orderkey→custkey is a TRUE key
    // dependency (zero violations — the claim a MERGE pipeline
    // relies on), custkey→orderpriority is deliberately false
    // (customers place orders at many priorities) — the report
    // quantifies how false
    "q_dq_fd" -> ((s, dir) =>
      graft.operators.DataQuality.fdCheck(t(s, dir, "orders"), Seq(
        ("o_orderkey", "o_custkey"),
        ("o_custkey", "o_orderpriority")))),

    // BPE trainer, round-1 slice: adjacent-pair counts over the
    // initial (chars + </w>) symbol sequences — the oracle-checkable
    // piece of the merge loop ((n desc, a, b) is a total order)
    "q_t_bpe_pairs" -> ((s, dir) =>
      graft.operators.BpeTrainer.pairCounts(
        graft.operators.BpeTrainer.wordCounts(t(s, dir, "documents"), "text"))
        .orderBy(col("n").desc, col("a"), col("b")).limit(30)),

    // the full learned merge sequence. Round 13: the iterative
    // fixpoint IS SQL-expressible after all — the LR-oracle unroll
    // pattern applied to all 16 rounds (pair count over the evolving
    // wrapped-symbol vocab → total-order argmax → left-to-right
    // non-overlapping replace, see [[bpeMergeCtes]]) — so the gate
    // left the no-oracle list with a TRUE independent replay of the
    // training loop, not a literal-stash echo. BpeSpec still pins
    // distributed ≡ local reference.
    "q_t_bpe" -> ((s, dir) => {
      import s.implicits._
      graft.operators.BpeTrainer.train(t(s, dir, "documents"), "text",
        numMerges = 16).toDF()
    }),

    // the encode side over a held-out slice: train on the corpus,
    // segment every 37th doc with the learned merges (the native
    // ApplyMergesExpr kernel), emit the subword string + count. The
    // oracle re-learns the merges with the same unrolled CTEs and
    // replays encode as 16 chained replaces over the doc's
    // concatenated wrapped-symbol string — sound because no learned
    // merge's left element can contain '</w>' (word-final symbols
    // never have an in-word successor during training), so no merge
    // ever fires across a word boundary and per-word ≡ per-doc.
    "q_t_bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.operators.BpeTrainer.train(docs, "text",
        numMerges = 16)
      graft.operators.BpeTrainer.encode(
        docs.filter(col("doc_id") % 37 === 0)
          .filter(size(TextFunctions.tokens(col("text"))) > 0),
        "text", merges)
        .select(col("doc_id"),
          concat_ws(" ", col("bpe_tokens")).as("bpe"),
          size(col("bpe_tokens")).as("n_subwords"))
    }),

    // unigram-LM tokenizer (the SentencePiece family next to BPE's):
    // substring seed → 2 hard-EM rounds (integer-micros Viterbi
    // E-step, count-renormalized M-step). Scores are rounded ONCE per
    // piece per round in the DataFrame layer and the DP is pure int64,
    // so the WHOLE trainer replays in SQL: unrolled DP + backtrack
    // CTEs per EM round (the bpeMergeCtes discipline, DP edition)
    "q_t_unigram" -> ((s, dir) => ugVocab(s, dir)),

    // the encode side: segment EVERY document under the trained vocab
    // (single-char coverage keeps segmentation total; empty docs emit
    // ('', 0)); oracle = one more unrolled Viterbi pass under the
    // replayed round-2 scores, pieces re-joined in token order
    "q_t_unigram_encode" -> ((s, dir) =>
      graft.operators.UnigramLm.encode(t(s, dir, "documents"), "text",
        "doc_id", ugVocab(s, dir))),

    // the tokenizer-SHIPPING deployment shape (q_v_topk_ivf_idx's
    // contract applied to the tokenizer): train-if-stale → persist the
    // vocab artifact (pieces + maxPieceLen meta) → cold reload →
    // encode under the reloaded pieces. Training is deterministic
    // (spec-pinned), so the shipped encode is bit-identical to the
    // in-memory arm and shares q_t_unigram_encode's oracle
    "q_t_unigram_ship" -> ((s, dir) => {
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_ugvocab_q_" +
        graft.engine.Scratch.encode(dir)
      val (vocab, mpl) = graft.operators.UnigramLm.ensureVocab(
        t(s, dir, "documents"), s"$dir/documents.parquet", scratch,
        "text", rounds = 2)
      graft.operators.UnigramLm.encode(t(s, dir, "documents"), "text",
        "doc_id", vocab, maxPieceLen = mpl)
    }),

    // tokenizer FERTILITY by language (the standard tokenizer-eval
    // meter: pieces per word, chars per piece) under the trained
    // unigram vocab — high fertility on a language = the vocabulary
    // under-serves it (the signal that drives per-language vocab
    // budgets). Exact integers: counts summed per language, ratios in
    // truncating micros; oracle = the encode replay aggregated the
    // same way
    "q_t_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val enc = graft.operators.UnigramLm.encode(docs, "text", "doc_id",
        ugVocab(s, dir)).select(col("doc_id"), col("n_pieces"))
      val base = docs
        .select(col("doc_id"), col("lang"),
          TextFunctions.tokens(coalesce(col("text"), lit(""))).as("__t"))
        .select(col("doc_id"), col("lang"),
          size(col("__t")).cast("long").as("n_words"),
          aggregate(transform(col("__t"), x => length(x).cast("long")),
            lit(0L), (a, x) => a + x).as("n_chars"))
      base.join(enc, "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_pieces")).as("n_pieces"),
          sum(col("n_chars")).as("n_chars"))
        .select(col("lang"), col("n_docs"), col("n_words"),
          col("n_pieces"), col("n_chars"),
          when(col("n_words") === 0, lit(0L))
            .otherwise(expr("(n_pieces * 1000000L) div n_words"))
            .as("fertility_micros"),
          when(col("n_pieces") === 0, lit(0L))
            .otherwise(expr("(n_chars * 1000000L) div n_pieces"))
            .as("cpp_micros"))
    }),

    // per-doc LM surprisal under the trained unigram model — the
    // quality-scoring application (CCNet's scoring half with the
    // unigram LM in place of KN). score_micros = Σ integer piece
    // scores on the Viterbi path ≡ the DP's final value, so the
    // oracle reads it straight off the replayed dp tables
    "q_t_unigram_surprisal" -> ((s, dir) =>
      graft.operators.UnigramLm.surprisal(t(s, dir, "documents"), "text",
        "doc_id", ugVocab(s, dir))),

    // curriculum banding: per-PIECE surprisal (micros, truncate-toward-
    // zero) ranks documents easy→hard under the trained LM; ntile(10)
    // over the (score, doc_id) total order assigns the difficulty
    // decile a loss-ordered curriculum samples from. Empty docs band
    // with the easiest (score 0)
    "q_t_curriculum" -> ((s, dir) => {
      val sur = graft.operators.UnigramLm.surprisal(
        t(s, dir, "documents"), "text", "doc_id", ugVocab(s, dir))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("ppl_micros").desc, col("doc_id").asc)
      // single-partition window: ranks one row per doc at gate scale;
      // a 100 TB curriculum bands via DatasetSplit.quantileBands
      // (approx_percentile cuts + scan-side assignment — the
      // implemented at-scale arm; UnigramLmSpec bounds its agreement
      // with this exact ntile) — the exact ntile stays the
      // oracle-able reference semantics
      sur.withColumn("ppl_micros",
          when(col("n_pieces") === 0L, lit(0L))
            .otherwise(expr("score_micros div n_pieces")))
        .withColumn("decile", ntile(10).over(w))
    }),

    // packing efficiency — the meter that SIZES seqTokens: per bucket,
    // docs, total pieces, windows touched (max seq_id + 1) and the
    // padding waste the last partial window of each bucket leaves.
    // Pure aggregation over the pack bookkeeping
    "q_t_pack_eff" -> ((s, dir) => {
      val packed = graft.operators.Packing.packOffsets(
        t(s, dir, "documents"), "text", "doc_id", seqTokens = 1024)
      packed.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"))
        // windows the bucket's stream fills = ceil(total/seq); waste =
        // the final partial window's padding
        .withColumn("n_seqs",
          expr("(total_tokens + 1023) div 1024"))
        .withColumn("waste_tokens",
          col("n_seqs") * 1024L - col("total_tokens"))
    }),

    // the vocabulary-size budget (SentencePiece's prune control, hard-
    // EM edition): each M-step keeps the top-24 pieces by (cnt, piece)
    // with single chars exempt; EM re-concentrates the surviving mass
    // next round. Same full unrolled-EM oracle with the prune rank
    // folded into each uv CTE
    "q_t_unigram_pruned" -> ((s, dir) => ugVocab(s, dir, Some(24))),

    // tokenize THEN pack — the end-to-end pretraining data path:
    // q_t_pack's whitespace counts are a proxy; a packed batch's real
    // budget is TOKENIZER pieces. Train → encode → pack by n_pieces,
    // bucketed on the encoded string (content-derived, so no join back
    // to text). Oracle = the encode replay's piece counts fed through
    // the same window arithmetic
    "q_pipe_tokenize_pack" -> ((s, dir) => {
      val enc = graft.operators.UnigramLm.encode(t(s, dir, "documents"),
        "text", "doc_id", ugVocab(s, dir))
      graft.operators.Packing.packOffsetsWeighted(
        enc.select(col("doc_id"),
          graft.operators.DatasetSplit.bucket256(col("encoded"))
            .as("bucket"),
          col("n_pieces")),
        "doc_id", "n_pieces", seqTokens = 1024)
    }),

    // ── dedup ──────────────────────────────────────────────────────────
    "q_d_exact" -> ((s, dir) =>
      Dedup.exactByHash(t(s, dir, "documents"), "text", "doc_id")),

    // STAGED shingle sets (each HOF subtree materialized once per row):
    // the convenience Dedup.jaccard(a, b) form re-evaluates the
    // tokenize+shingle trees inside array_intersect AND array_union —
    // measured 35 s vs ~2 s at sf0.1 once the bench stopped letting
    // count() prune the projection away
    "q_d_ngram_jaccard" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.tokens(col("text")).as("__ta"),
          TextFunctions.tokens(
            concat(col("text"), lit(" planted near duplicate"))).as("__tb"))
        .select(col("doc_id"),
          array_distinct(TextFunctions.shinglesFromTokens(col("__ta"), 3))
            .as("__sa"),
          array_distinct(TextFunctions.shinglesFromTokens(col("__tb"), 3))
            .as("__sb"))
        .select(col("doc_id"),
          round(Dedup.jaccardFromSets(col("__sa"), col("__sb")), 6)
            .as("jaccard"))),

    // deterministic for seed=42 but hash-engine-specific → rows-only
    "q_d_minhash_lsh" -> ((s, dir) =>
      Dedup.nearDupPairs(docsWithPlantedDups(s, dir), "text", "doc_id",
        threshold = 0.3)),

    "q_d_simhash" -> ((s, dir) =>
      Dedup.simhashCandidates(docsWithPlantedDups(s, dir), "text", "doc_id",
        maxHamming = 3)),

    // the Scala-arm twin of q_s29 (round-12 VERDICT #1): the
    // PRODUCTION operator Dedup.nearDupPairs — native shingle-set
    // kernel, banded LSH candidates, exact-Jaccard verification —
    // run at threshold = 1.0 over planted exact copies. Banding
    // recall for jaccard-1.0 pairs is exactly 1 (equal shingle sets
    // ⇒ equal signatures ⇒ co-bucketed in every band) and the
    // confirm rejects everything else, so the output IS the semantic
    // equal-shingle-set relation and shares q_s29's oracle. The
    // production-threshold arm (0.3) stays q_d_minhash_lsh,
    // rows-only by documented design.
    "q_d_minhash_confirmed" -> ((s, dir) =>
      Dedup.nearDupPairs(docsWithPlantedCopies(s, dir), "text", "doc_id",
        threshold = 1.0).select(col("id_a"), col("id_b"))),

    // winnowed span overlap, confirmed arm: MOSS fingerprint
    // candidates verified by exact t-gram (t = w+k−1 = 7) string
    // intersection — by the winnowing guarantee every pair sharing a
    // ≥7-token run IS a candidate, so the output equals the semantic
    // shared-span relation the oracle replays (with the exact count
    // of distinct shared windows). maxBucketSize lifted — the
    // q_d_simhash_confirmed determinism hatch: the cap is a
    // production skew guard, and a capped posting list would
    // silently drop true pairs the oracle keeps
    "q_d_winnow_confirmed" -> ((s, dir) =>
      Dedup.winnowSpanConfirmed(docsWithPlantedDups(s, dir), "text",
        "doc_id", k = 4, w = 4, maxBucketSize = Int.MaxValue)),

    // SimHash's confirmed arm: candidates at maxHamming = 0 (equal
    // 64-bit fingerprints — recall 1 for equal token MULTISETS, since
    // the fingerprint is a pure function of the multiset), confirmed
    // by sorted-token-list equality. Output = the semantic
    // equal-token-multiset relation; fingerprint collisions between
    // DIFFERENT multisets are rejected by the confirm, and equal
    // multisets can never be missed (hamming 0 co-buckets in every
    // 16-bit block). maxBucketSize is lifted to the corpus size —
    // the same determinism hatch as q_v_topk_lsh's probe-all mode:
    // the cap is a production skew guard, and a capped bucket would
    // silently drop true pairs the oracle keeps.
    "q_d_simhash_confirmed" -> ((s, dir) => {
      val docs = docsWithPlantedCopies(s, dir)
      val keys = docs.select(col("doc_id"),
        array_sort(TextFunctions.tokens(col("text"))).as("__k"))
      Dedup.simhashCandidates(docs, "text", "doc_id", maxHamming = 0,
          maxBucketSize = Int.MaxValue)
        .join(keys.select(col("doc_id").as("id_a"), col("__k").as("__ka")),
          "id_a")
        .join(keys.select(col("doc_id").as("id_b"), col("__k").as("__kb")),
          "id_b")
        .filter(col("__ka") === col("__kb"))
        .select(col("id_a"), col("id_b"))
    }),

    // the streaming arm's confirmed gate (round-12 VERDICT #6):
    // flatMapGroupsWithState candidates (batch-executed — stream ≡
    // batch pair-for-pair is StreamingSpec's pin) over the planted-
    // copy corpus, deduped across bands, confirmed at jaccard = 1.0
    // on the stored shingle-hash sets. Same semantics argument as
    // q_d_minhash_confirmed ⇒ shares q_s29's oracle; the raw
    // candidate arm stays q_d_stream_cands (rows-only by design).
    "q_d_stream_confirmed" -> ((s, dir) => {
      import s.implicits._
      val docs = docsWithPlantedCopies(s, dir)
      val banded = graft.streaming.StreamingDedup.bandedSignatures(
        docs, "text", "doc_id")
        .as[graft.streaming.StreamingDedup.Banded]
      // bucket cap lifted (the q_d_simhash_confirmed hatch): a
      // poisoned bucket would drop later-arriving true pairs the
      // oracle keeps
      val cands = graft.streaming.StreamingDedup.candidateStream(banded,
          maxBucketSize = Int.MaxValue)(s)
        .toDF().select(col("id_a"), col("id_b")).distinct()
      val sets = docs.select(col("doc_id"),
        graft.functions.NativeExpressions.shingleHashSet(col("text"), 3)
          .as("__set"))
      cands
        .join(sets.select(col("doc_id").as("id_a"), col("__set").as("__sa")),
          "id_a")
        .join(sets.select(col("doc_id").as("id_b"), col("__set").as("__sb")),
          "id_b")
        .filter(graft.functions.NativeExpressions
          .sortedJaccard(col("__sa"), col("__sb")) === 1.0)
        .select(col("id_a"), col("id_b"))
    }),

    // dedup resolution: connected components over a pair list whose
    // component structure is known analytically (chains of 10
    // consecutive ids — diameter 9, so convergence needs real
    // multi-hop propagation), giving the CC a full oracle. At gate
    // scale the hybrid takes the bounded local union-find; the
    // iterative distributed path is forced and pinned in DedupSpec
    "q_d_resolve" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val pairs = docs.filter(col("doc_id") % 10 =!= 0)
        .select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"))
      Dedup.connectedComponents(pairs)
    }),

    // the real-world dedup KEEP RULE: within each resolved duplicate
    // cluster keep the highest-QUALITY member (ties by lowest id) —
    // not blindly the min id. components → quality join → per-cluster
    // argmax as ONE struct-max aggregation (partial+final, no window
    // sort over the corpus)
    "q_d_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = docs.select(col("doc_id"))
        .filter(col("doc_id") % 10 =!= 0)
        .select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"))
      val comp = Dedup.connectedComponents(pairs)
      val scored = comp.join(docs.select(col("doc_id").as("id"),
        graft.functions.NativeExpressions.textProfile(col("text"))
          .getField("quality_micros").as("qm")), "id")
      scored.groupBy(col("component"))
        .agg(max(struct(col("qm"), (-col("id")).as("neg_id"))).as("best"),
          count(lit(1)).as("n_members"))
        .select(col("component"), (-col("best.neg_id")).as("keep_id"),
          col("best.qm").as("keep_quality_micros"), col("n_members"))
    }),

    // streaming near-dup candidates, batch-executed (the same
    // flatMapGroupsWithState code streams — StreamingSpec pins
    // stream ≡ batch pair-for-pair); hash-engine-specific → rows-only
    "q_d_stream_cands" -> ((s, dir) => {
      import s.implicits._
      val banded = graft.streaming.StreamingDedup.bandedSignatures(
        docsWithPlantedDups(s, dir), "text", "doc_id")
        .as[graft.streaming.StreamingDedup.Banded]
      graft.streaming.StreamingDedup.candidateStream(banded)(s).toDF()
    }),

    // incremental dedup against a PERSISTED signature index — the
    // nightly-ingest shape: batch 0 (evens + planted old×old copies)
    // is signed and stored; batch 1 (odds + copies of old docs + copies
    // of new docs) is signed against the store and reports only pairs
    // involving a new doc. threshold=1.0 keeps exactly set-identical
    // pairs, whose candidacy is DETERMINISTIC (identical shingle sets
    // ⇒ identical signatures ⇒ every band matches), so the DuckDB twin
    // — equal sorted shingle sets with ≥1 new member — is a full
    // oracle; old×old planted copies must NOT surface. Natural
    // set-identical pairs need no margin: at threshold 1.0 only equal
    // shingle sets pass, they are candidates (equal sets share all
    // eight band buckets, so only a cap overflow in every one of them
    // drops a pair), and the oracle lists every equal-set pair with a
    // new member, natural or planted.
    "q_d_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val existing = docs.filter(col("doc_id") % 2 === 0)
        .union(docs.filter(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      val arrived = docs.filter(col("doc_id") % 2 === 1)
        .union(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        .union(docs.filter(col("doc_id") % 10 === 3)
          .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
      // content-keyed index path: regenerated testdata → fresh index;
      // replays of committed batches are no-ops (idempotent), so bench
      // reps measure the nightly shape — sign the increment, join the
      // store — not an index rebuild
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft_inc_q_v1_" +
        graft.engine.Scratch.contentKey(s, dir)
      Dedup.appendSignatures(existing, "text", "doc_id", idx, batchId = 0)
      Dedup.incrementalNearDups(arrived, "text", "doc_id", idx, batchId = 1,
        threshold = 1.0)
    }),

    // the nightly dedup as one streaming job: two feed files → two
    // epochs through incrementalDedupStream (exactly-once via the
    // signature-index ledger + per-epoch output overwrite); the union
    // over epochs must equal the full recompute — every set-identical
    // pair, each surfacing exactly once in its latest member's epoch
    "q_d_stream_inc" -> ((s, dir) => {
      // the feed is immutable input — staged once per source; the
      // index/output/checkpoint are per-run state (the job MUTATES
      // them) and rebuild fresh, which is the part being measured
      val feed = graft.engine.Scratch.ensure(s, "dsi-feed",
        s"$dir/documents.parquet", "half-v2") { out =>
        // half-corpus slice: the gate measures the STREAMING shape
        // (two epochs against the persisted index), not corpus volume
        // — q_d_incremental already times the full-size increment
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
          .filter(col("doc_id") % 2 === 0)
        val planted = docs.union(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        // hash-split into the two epochs (the ids are all even now, so
        // a parity split would leave epoch 1 empty)
        planted.filter(pmod(xxhash64(col("doc_id")), lit(2)) === 0)
          .coalesce(1).write.mode("append").parquet(out)
        planted.filter(pmod(xxhash64(col("doc_id")), lit(2)) =!= 0)
          .coalesce(1).write.mode("append").parquet(out)
      }
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_dsi_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      graft.streaming.StreamingDedup.incrementalDedupStream(
        s, feed, s"$scratch/idx", s"$scratch/out", s"$scratch/ckpt")
    }),

    // corpus rebalancing to a target mixture: per-group rates DERIVED
    // from the actual counts (integer arithmetic end-to-end, so the
    // oracle replays the exact formula), then the deterministic
    // content-hash filter. Kept counts ≈ 60:40 en:und, the scarcer
    // group kept whole
    "q_t_rebalance" -> ((s, dir) =>
      graft.operators.DatasetSplit.rebalanceToTarget(
        t(s, dir, "documents")
          .select(col("doc_id"), col("text"),
            graft.functions.NativeExpressions.textProfile(col("text"))
              .getField("lang_pred").as("lang")),
        "text", "lang", Map("en" -> 60, "und" -> 40))
        .select(col("doc_id"), col("lang"))),

    // percentile-trim quality filter: keep docs within each language's
    // [P05, P95] length band — the outlier-trimming curation stage.
    // Exact interpolated percentiles match engine-to-engine (q_a6
    // proved it), so the comparison agrees even ON the boundary; the
    // per-language bounds table is tiny → broadcast join
    "q_t_trim" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), length(col("text")).as("__len"))
      val bounds = docs.groupBy(col("lang"))
        .agg(expr("percentile(__len, 0.05)").as("__lo"),
          expr("percentile(__len, 0.95)").as("__hi"))
      docs.join(broadcast(bounds), Seq("lang"))
        .filter(col("__len") >= col("__lo") && col("__len") <= col("__hi"))
        .select(col("doc_id"), col("lang"), col("__len").as("text_len"))
    }),

    // duplicated-span report (substring-level dedup diagnostics, Lee
    // et al. 2022): planted full copies of every 20th doc make each of
    // their 8-token windows a cross-doc duplicate; exact window
    // arithmetic on both sides → full oracle
    "q_d_spans" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs.union(docs.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.duplicateSpans(planted, "text", "doc_id", n = 8)
    }),

    // duplicated-span REMOVAL (Lee et al. ExactSubstr): same planted
    // corpus as q_d_spans, but emitting the cleaned text — copies of
    // every 20th doc clean to '', originals keep their canonical
    // occurrence, and natural cross-doc 8-gram dups are excised by the
    // same deterministic (min doc, min start) rule on both engines →
    // full oracle
    "q_d_span_removal" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs.union(docs.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.removeDuplicateSpans(planted, "text", "doc_id", n = 8)
    }),

    // line-level boilerplate removal (the C4/CCNet cleanup stage):
    // lines planted into every doc (footer) and every third doc
    // (cookie banner) must vanish corpus-wide; doc-unique lines stay.
    // Exact string semantics → full DuckDB oracle (same plants, same
    // threshold arithmetic on both sides)
    "q_t_line_dedup" -> ((s, dir) => {
      val planted = t(s, dir, "documents")
        .select(col("doc_id"), concat_ws("\n",
          when(col("doc_id") % 3 === 0,
            lit("cookie consent: this site uses cookies")),
          col("text"),
          lit("follow us for more exclusive updates")).as("text"))
      Dedup.dropRepeatedLines(planted, "text", "doc_id")
        .select(col("doc_id"), col("text").as("text_clean"))
    }),

    // the full curation pipeline composed end-to-end: quality filter →
    // exact dedup → content-hash split → per-split corpus stats. Every
    // stage is engine-exact, so the COMPOSITION gets a full oracle.
    // curation funnel: per-stage attrition of the standard cascade
    // (quality → language → length) counted in ONE scan — sums of
    // cumulative flag conjunctions, never one pass per stage. This is
    // the observability artifact every real pipeline ships next to
    // its output (how many docs each stage dropped), and the
    // flag-sum shape is what makes it free at 100 TB
    "q_pipe_funnel" -> ((s, dir) => {
      val p = graft.functions.NativeExpressions.textProfile(col("text"))
      val docs = t(s, dir, "documents")
        .select(p.getField("quality_micros").as("qm"),
          p.getField("lang_pred").as("lang"),
          p.getField("n_tokens").as("nt"))
      val s1 = col("qm") >= 400000L
      val s2 = s1 && col("lang") === "en"
      val s3 = s2 && col("nt") >= 20L
      docs.agg(count(lit(1)).as("n_all"),
        sum(when(s1, 1L).otherwise(0L)).as("n_quality"),
        sum(when(s2, 1L).otherwise(0L)).as("n_lang"),
        sum(when(s3, 1L).otherwise(0L)).as("n_length"))
    }),

    "q_pipe_curate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(graft.functions.NativeExpressions.textProfile(col("text"))
          .getField("quality_micros") >= 400000L)
      val deduped = Dedup.exactRows(docs, "text", "doc_id")
      deduped
        .select(graft.operators.DatasetSplit.splitLabel(col("text")).as("split"),
          graft.functions.NativeExpressions.textProfile(col("text"))
            .getField("n_tokens").as("nt"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("total_tokens"))
    }),

    // the round-5 curation stages composed end-to-end: boilerplate
    // cleanup → quality filter (one-pass profile) → exact dedup →
    // benchmark decontamination → weighted language mixing → split →
    // per-split stats. Every stage is engine-exact, so the COMPOSITION
    // gets a full oracle (the q_pipe_curate pattern, now over the
    // wider surface).
    "q_pipe_curate2" -> ((s, dir) => {
      import graft.operators.DatasetSplit
      val cleaned = t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.cleanBoilerplate(col("text")).as("text"))
      val profiled = cleaned
        .select(col("doc_id"), col("text"),
          graft.functions.NativeExpressions.textProfile(col("text")).as("__p"))
        .filter(col("__p.quality_micros") >= 400000L)
        .select(col("doc_id"), col("text"),
          col("__p.lang_pred").as("lang"), col("__p.n_tokens").as("nt"))
      val deduped = Dedup.exactRows(profiled, "text", "doc_id")
      val bench = cleaned.filter(col("doc_id") % 97 === 0)
      val corpus = deduped.filter(col("doc_id") % 97 =!= 0)
      val decon = Dedup.decontaminate(corpus, bench, "text", "doc_id")
      val mixed = decon.filter(DatasetSplit.weightedSampleFilter(
        col("text"), col("lang"), Map("en" -> 192, "und" -> 64), 128))
      mixed
        .select(DatasetSplit.splitLabel(col("text")).as("split"), col("nt"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("total_tokens"))
    }),

    // curation + EPOCH REPETITION composed (round 13): clean →
    // quality → exact dedup → benchmark holdout + decontamination →
    // fractional-epoch upsampling (en ≈2.3, de 1.5) → split → stats.
    // Stage ORDER is the claim: epochs run AFTER decontam (a
    // contaminated doc must never be repeated into the corpus), and
    // the content-keyed split means every copy of a doc lands in ONE
    // split — n_docs counts distinct documents, n_copies the epoch-
    // multiplied rows, total_tokens the trained token budget. Every
    // stage engine-exact ⇒ full oracle.
    "q_pipe_curate7" -> ((s, dir) => {
      import graft.operators.DatasetSplit
      val cleaned = t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.cleanBoilerplate(col("text")).as("text"))
      val profiled = cleaned
        .select(col("doc_id"), col("text"),
          graft.functions.NativeExpressions.textProfile(col("text")).as("__p"))
        .filter(col("__p.quality_micros") >= 400000L)
        .select(col("doc_id"), col("text"),
          col("__p.lang_pred").as("lang"), col("__p.n_tokens").as("nt"))
      val deduped = Dedup.exactRows(profiled, "text", "doc_id")
      val bench = cleaned.filter(col("doc_id") % 97 === 0)
      val corpus = deduped.filter(col("doc_id") % 97 =!= 0)
      val decon = Dedup.decontaminate(corpus, bench, "text", "doc_id")
      val repeated = DatasetSplit.repeatFractional(decon, col("text"),
        col("lang"), Map("en" -> 150733, "de" -> 98304), 65536)
      repeated
        .select(DatasetSplit.splitLabel(col("text")).as("split"),
          col("doc_id"), col("nt"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_copies"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(col("nt")).as("total_tokens"))
    }),

    // the per-document DROP LEDGER over the q_pipe_curate2 chain —
    // the audit artifact ("why is doc X not in the training set?")
    // every curation deployment owes its users. ONE row per input
    // the curation chain as CONTINUOUS INGESTION (clean → quality →
    // stream-dedup → lang + split), run epoch-generation style: feed
    // batch 0 = even-id originals, run to completion; feed batch 1 =
    // the whole corpus re-arriving as +1e6-id copies, run again on
    // the same checkpoint. Batch 1 exercises BOTH state paths: even
    // texts hit the seen-flag and drop (the cross-batch dedup), odd
    // texts are first-seen and emit (the late-new-document path).
    // Deterministic end to end — per-key min-id wins inside a batch,
    // earliest batch wins across batches — so the winner set is pure
    // arithmetic and the chain gets a full SQL oracle
    "q_pipe_stream_curate" -> ((s, dir) => {
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_scur_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      val feed = s"$scratch/feed"
      val out = s"$scratch/out"
      val ckpt = s"$scratch/ckpt"
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      docs.filter(col("doc_id") % 2 === 0)
        .coalesce(1).write.mode("append").parquet(feed)
      graft.streaming.StreamingCurate.curateStream(s, feed, out, ckpt)
      docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        .coalesce(1).write.mode("append").parquet(feed)
      graft.streaming.StreamingCurate.curateStream(s, feed, out, ckpt)
        .select(col("doc_id"), col("lang"), col("split"))
    }),

    // doc; the outcome is the FIRST stage in pipeline order that
    // removed it, or kept_<split>. Stage semantics mirror curate2
    // EXACTLY — bench docs participate in quality + dedup before
    // being held out, so a bench doc can own a dedup group and its
    // duplicates still read dup_loser. Every stage is engine-exact ⇒
    // the whole ledger has a full oracle. Execution shape: the same
    // aggregations curate2 runs plus one left join of the keeper
    // table and one anti-join for the contaminated set — no windows,
    // no collects.
    "q_pipe_ledger" -> ((s, dir) => {
      import graft.operators.DatasetSplit
      val cleaned = t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.cleanBoilerplate(col("text")).as("text"))
      val profiled = cleaned.select(col("doc_id"), col("text"),
        graft.functions.NativeExpressions.textProfile(col("text")).as("__p"))
      // null-hardened: a NULL profile must read low_quality, not
      // fall through the when-chain
      val qok = coalesce(col("__p.quality_micros") >= 400000L, lit(false))
      val q = profiled.filter(col("__p.quality_micros") >= 400000L)
      val keepers = q.groupBy(col("text"))
        .agg(min(col("doc_id")).as("__keeper"))
      val deduped = q.join(keepers, "text")
        .filter(col("doc_id") === col("__keeper"))
      val bench = cleaned.filter(col("doc_id") % 97 === 0)
      val corpus = deduped.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), col("text"))
      val survivors = Dedup.decontaminate(corpus, bench, "text", "doc_id")
      val contaminated = corpus.select(col("doc_id"))
        .join(survivors.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit(true).as("__contam"))
      profiled
        .join(keepers.select(col("text"), col("__keeper")),
          Seq("text"), "left")
        .join(contaminated, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(!qok, lit("low_quality"))
            .when(col("doc_id") =!= col("__keeper"), lit("dup_loser"))
            .when(col("doc_id") % 97 === 0, lit("benchmark_heldout"))
            .when(coalesce(col("__contam"), lit(false)),
              lit("contaminated"))
            .when(!DatasetSplit.weightedSampleFilter(col("text"),
              col("__p.lang_pred"), Map("en" -> 192, "und" -> 64), 128),
              lit("mix_sampled_out"))
            .otherwise(concat(lit("kept_"),
              DatasetSplit.splitLabel(col("text"))))
            .as("outcome"))
    }),

    // ── similarity search ──────────────────────────────────────────────
    "q_v_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilaritySearch.bruteForceTopK(emb, emb.filter(col("vec_id") < 16), k = 5)
    }),

    // Matryoshka two-phase search: prefix-dim shortlist + full-dim
    // rescore; the exhaustive shortlist makes it exactly brute force
    // (the compressed-arm exactness premise), so it shares q_v_topk's
    // oracle — the bounded-shortlist recall trade lives in the spec
    "q_v_topk_mrl" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilaritySearch.topKMatryoshka(emb,
        emb.filter(col("vec_id") < 16), k = 5, prefixDims = 4,
        shortlistK = emb.count().toInt)
    }),

    // hard-negative mining: most-similar DIFFERENT-label vectors per
    // query — the contrastive-training sampler. Exact path gated here
    // (label anti-filter before scoring, bounded top-k tail); the LSH/
    // IVF shortlist swap keeps the same contract at scale
    "q_v_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilaritySearch.hardNegatives(emb, emb.filter(col("vec_id") < 16),
        k = 5)
    }),

    // the triplet's other side: most-similar SAME-label vectors (the
    // anchor→positive miner) — same shape, equality filter
    "q_v_topk_pos" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilaritySearch.positives(emb, emb.filter(col("vec_id") < 16),
        k = 5)
    }),

    // Matryoshka two-stage search: 16-dim-prefix shortlist (1/4 of
    // the vector bytes), full-dim exact rescore — both stages
    // deterministic, so the oracle replays shortlist AND rescore
    "q_v_topk_trunc" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilaritySearch.truncTopK(emb, emb.filter(col("vec_id") < 16),
        k = 5, dims = 16, shortlistK = 64)
    }),

    // incremental index growth: build on HALF the corpus, append the
    // other half to the existing centroids (FAISS `add` — no retrain,
    // no rewrite), search full-probe → exhaustive over ALL vectors,
    // so the brute-force oracle holds whatever the centroid quality
    "q_v_topk_ivf_inc" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_inc_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(idx), true)
      val half0 = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      val half1 = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
      Ivf.writeIndex(half0, Ivf.train(half0, k = 4, iters = 2), idx)
      Ivf.appendToIndex(half1, idx)
      Ivf.searchIndex(s, idx, emb.filter(col("vec_id") < 16),
        k = 5, nprobe = 4)
    }),

    // gates the LSH-bucketed scale path (SimilaritySearch.cosineNearDupPairs):
    // planted identical copies are the only pairs above the 0.8 threshold
    // (natural max cosine in this data is ~0.6), and identical vectors share
    // every signature bucket, so LSH output provably equals the exact-SQL
    // oracle. The O(n²) exact path lives only in SimilaritySpec as the
    // ground truth — it is no longer on the driver surface.
    "q_v_neardup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = emb.union(emb.select(
        (col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
      // adaptive banding (sf1 lesson): bucket occupancy pinned, so
      // candidate volume stays linear in corpus size
      SimilaritySearch.cosineNearDupPairsAuto(planted, threshold = 0.8,
        dim = 64)
    }),

    // per-group embedding centroids (mean pooling) in EXACT integer
    // micros: each float component is scaled to an int64 before any
    // summation, so the aggregate is partition-order-independent and
    // hash-matchable — no floating addition anywhere (SimilaritySpec
    // bounds the quantization vs the double path at 0.5 micro/element).
    // The posexplode shuffle carries (grp, pos, micros) triples; at
    // dim ≫ this, the per-group array aggregator (Ivf.VecSumAgg) is
    // the shape that shuffles one buffer per group×partition instead
    "q_v_centroid" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select((col("vec_id") % 8).as("grp"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("grp"), col("pos"))
        .agg(sum(round(col("x").cast("double") * 1000000).cast("long"))
            .as("sum_micros"),
          count(lit(1)).as("n"))),

    // JL random projection 64→16 dims — embedding compression whose
    // hash-derived matrix both engines replay (margin-probed at 6dp)
    "q_v_project" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          posexplode(graft.functions.VectorFunctions
            .randomProjection(col("embedding"), 16)).as(Seq("j", "p")))
        .select(col("vec_id"), col("j"), round(col("p"), 6).as("p6"))),

    // SemDeDup — cluster (k-means) → within-cluster pairs → CC resolve
    // → drop non-canonical. Identical planted copies ALWAYS co-cluster
    // (same distances → same argmin), cosine(v,v)=1 ≥ 0.9, and the max
    // NATURAL pairwise cosine in this data is ~0.6 (margin-probed at
    // sf0.01 AND sf0.1) — so the kept set is provably the originals:
    // a full oracle for the whole composition.
    // cross-split leakage audit (embedding-space eval decontam):
    // train = the corpus; test = exact copies of every 20th vector
    // (id + 1e6 — the planted LEAKS) ∪ negated copies of every 20th-
    // offset-10 vector (id + 2e6 — guaranteed non-leaks: cosine −1
    // to their source, |cosine| ≤ the measured ~0.6 natural max to
    // everything else). The blocked operator catches exact copies
    // with recall 1 under any centroids (identical vector ⇒ same
    // cluster), so the full |test|×|train| cosine-≥0.9 relation is
    // the oracle — pair identities AND rounded cosines.
    "q_v_split_leaks" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val test = emb.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        .union(emb.filter(col("vec_id") % 20 === 10)
          .select((col("vec_id") + 2000000L).as("vec_id"),
            transform(col("embedding"), x => -x).as("embedding")))
      SimilaritySearch.splitLeaks(emb, test, threshold = 0.9)
    }),

    "q_v_semdedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = emb.union(emb.select(
        (col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
      // iters=1: the gate's guarantee (identical copies co-cluster)
      // holds for ANY centroids — extra Lloyd rounds only buy cluster
      // balance, at 2 driver round-trips each. Auto-k (sf1 lesson):
      // cluster occupancy pinned, so the Σn_c² pair space stays linear
      SimilaritySearch.semanticDedupAuto(planted, threshold = 0.9,
        iters = 1).select(col("vec_id"))
    }),

    // two-level SemDeDup (coarse k-means → content-hash salt → local
    // executor-side k-means): the shape for corpora past the flat-k
    // cap. Identical copies share (coarse, salt, sub) by construction,
    // so the planted corpus resolves to the originals — same oracle as
    // the flat path. maxLocal forced low so the salt fan-out actually
    // exercises at gate scale
    "q_v_semdedup2" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = emb.union(emb.select(
        (col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
      SimilaritySearch.semanticDedupHierarchical(planted, threshold = 0.9,
        targetClusterSize = 64, coarseK = 8, maxLocal = 512)
        .select(col("vec_id"))
    }),

    // int8 embedding quantization: the vector-store compression pass
    // (4× smaller), exact-arithmetic oracle on the full array values.
    // The int8 array ships as a CSV string: the driver compare
    // canonicalizes rows by lexsorting every column, and an array-typed
    // column is unhashable/unsortable there — a scalar encoding of the
    // SAME values keeps the gate exact (the array form is what the
    // operator emits; SimilaritySpec pins its numeric contract).
    "q_v_quantize" -> ((s, dir) =>
      graft.functions.VectorFunctions
        .withQuantizedInt8(t(s, dir, "embeddings"), "embedding")
        .select(col("vec_id"),
          array_join(col("q8").cast("array<string>"), ",").as("q8_csv"),
          col("q_scale"))),

    // IVF index with full probe = exhaustive → shares the brute-force
    // oracle; partial-probe recall is pinned in IvfSpec
    "q_v_topk_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = Ivf.train(emb, k = 4, iters = 2)
      Ivf.searchTopK(emb, emb.filter(col("vec_id") < 16), model,
        k = 5, nprobe = 4)
    }),

    // the persisted-index path: build-if-stale (ensureIndex — the
    // index is an offline artifact, rebuilt only when the source
    // changes), reload, search full-probe → shares the brute-force
    // oracle (partition pruning + staleness contract pinned in
    // IvfSpec). Scratch is keyed by the source dir so different scale
    // factors never share an index.
    "q_v_topk_ivf_idx" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // injective path key (Scratch.encode): a lossy sanitize would let
      // two source dirs share one index path (round-6 ADVICE); the
      // fingerprint's sourcePath is the second line of defense
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_idx_q_" +
        graft.engine.Scratch.encode(dir)
      Ivf.ensureIndex(emb, s"$dir/embeddings.parquet", scratch, k = 4,
        iters = 2)
      Ivf.searchIndex(s, scratch, emb.filter(col("vec_id") < 16),
        k = 5, nprobe = 4)
    }),

    // the STORED-prefix Matryoshka arm (round-15 VERDICT #3):
    // q_v_topk_mrl slices the full vector per row — FLOP savings but
    // the scan still reads every float; here the prefix persists as
    // its own column at index-build time and the shortlist scan's
    // ReadSchema never carries the float vector (IvfSpec
    // pin), the IO saving that matters at 100 TB. Full probe +
    // exhaustive rescore ⇒ brute force, q_v_topk's oracle
    "q_v_topk_mrl_idx" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_mrl_idx_q_" +
        graft.engine.Scratch.encode(dir)
      Ivf.ensureIndexMrl(emb, s"$dir/embeddings.parquet", scratch,
        k = 4, mrlDims = 4, iters = 2)
      Ivf.searchIndex(s, scratch, emb.filter(col("vec_id") < 16), k = 5,
        nprobe = 4,
        shortlist = Ivf.Shortlist.Mrl(indexRows(s, scratch)))
    }),

    // incremental growth on the MRL artifact: build on HALF, append
    // the other half (the delta slices to the stored _MRL_DIMS width
    // schema-driven — a width mismatch would misscore every appended
    // row's shortlist rank), full probe + exhaustive rescore ≡ brute
    // force over ALL vectors — the q_v_topk_ivf_inc treatment
    "q_v_topk_mrl_inc" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft_mrl_inc_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(idx), true)
      val half0 = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      val half1 = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
      Ivf.writeIndex(half0, Ivf.train(half0, k = 4, iters = 2), idx,
        mrlDims = 4)
      Ivf.appendToIndex(half1, idx)
      Ivf.searchIndex(s, idx, emb.filter(col("vec_id") < 16), k = 5, nprobe = 4,
        shortlist = Ivf.Shortlist.Mrl(indexRows(s, idx)))
    }),

    // filtered MRL search — the encoding family's last missing _flt
    // twin (float/q8/bin/pq/pqr/ivfc/hnsw all have one): the label
    // predicate applies AT the prefix-column shortlist scan, stacked
    // on partition pruning; full probe + exhaustive rescore ≡ brute
    // force over the filtered corpus, q_v_topk_flt's oracle
    "q_v_topk_mrl_flt" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_mrl_idx_q_" +
        graft.engine.Scratch.encode(dir)
      Ivf.ensureIndexMrl(emb, s"$dir/embeddings.parquet", scratch,
        k = 4, mrlDims = 4, iters = 2)
      Ivf.searchIndex(s, scratch,
        emb.filter(col("vec_id") < 16),
        k = 5, nprobe = 4, predicate = Some(col("label") < 5),
        shortlist = Ivf.Shortlist.Mrl(indexRows(s, scratch)))
    }),

    // filtered ANN (the vector-DB "filtered search"): a static
    // attribute predicate pushed INTO the index scan (PushedFilters,
    // stacked on cluster partition pruning — IvfSpec pins both), never
    // a post-filter over an unfiltered top-k. Shares q_v_topk_ivf_idx's
    // persisted artifact (identical fingerprint ⇒ no rebuild); full
    // probe ⇒ exhaustive over the label<5 slice ⇒ brute-force-filtered
    // oracle
    "q_v_topk_flt" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_idx_q_" +
        graft.engine.Scratch.encode(dir)
      Ivf.ensureIndex(emb, s"$dir/embeddings.parquet", scratch, k = 4,
        iters = 2)
      Ivf.searchIndex(s, scratch, emb.filter(col("vec_id") < 16), k = 5,
        nprobe = 4,
        predicate = Some(col("label") < 5))
    }),

    // per-query filtered ANN: the INDEXED arm of the positive miner
    // (q_v_topk_pos) — label equality applied scan-side (distinct query
    // labels as a pushed isin) then pre-scoring at the join, so the k
    // budget lands entirely on same-label candidates. Full probe ⇒
    // exhaustive over the matching set ⇒ shares q_v_topk_pos's oracle
    "q_v_topk_pos_idx" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_idx_q_" +
        graft.engine.Scratch.encode(dir)
      Ivf.ensureIndex(emb, s"$dir/embeddings.parquet", scratch, k = 4,
        iters = 2)
      Ivf.searchIndexMatch(s, scratch, emb.filter(col("vec_id") < 16),
        matchCol = "label", k = 5, nprobe = 4)
    }),

    // FILTERED graph ANN: attribute-carrying HNSW index (label stored
    // on the graph rows), predicate evaluated scan-side, traversal
    // routes THROUGH failing nodes while only passing ones spend the
    // result budget (ShardGraph.search's pass — pre-filtering the graph
    // disconnects it exactly when the predicate is selective, the
    // ACORN problem; post-filtering starves k). Own scratch path: the
    // attrs fingerprint differs from the plain index and sharing the
    // path would ping-pong rebuilds between the two gates. Exhaustive
    // mode (ef=0, full probe) ⇒ shares q_v_topk_flt's filtered
    // brute-force oracle; finite-ef filtered recall pinned in HnswSpec
    "q_v_topk_hnsw_flt" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_fl_q_" +
        graft.engine.Scratch.encode(dir)
      Hnsw.ensureIndex(emb, s"$dir/embeddings.parquet", scratch,
        shards = 4, m = 8, efC = 32, attrCols = Seq("label"))
      Hnsw.searchIndex(s, scratch, emb.filter(col("vec_id") < 16), k = 5,
        nprobe = 4, ef = 0,
        predicate = Some(col("label") < 5))
    }),

    // graph ANN (sharded HNSW): build-if-stale persisted index, cold
    // reload, search in the exhaustive mode (full probe + unbounded
    // ef) — the connectivity-repair pass makes unbounded graph search
    // provably exhaustive per shard, so the gate shares the
    // brute-force oracle at any sf; the finite-ef production path's
    // recall is pinned in HnswSpec (≥ the residual-PQ point at the
    // same candidate budget)
    "q_v_topk_hnsw" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_q_" +
        graft.engine.Scratch.encode(dir)
      Hnsw.ensureIndex(emb, s"$dir/embeddings.parquet", scratch,
        shards = 4, m = 8, efC = 32)
      Hnsw.searchIndex(s, scratch, emb.filter(col("vec_id") < 16),
        k = 5, nprobe = 4, ef = 0)
    }),

    // incremental HNSW growth (the graph twin of q_v_topk_ivf_inc):
    // build on half the corpus, append the other half through the
    // EXISTING centroids — only touched shards rebuild, and the
    // rebuilt shard is bit-identical to a fresh build over its row
    // set (HnswSpec pins the canonical equality), so the exhaustive-
    // mode search shares the brute-force oracle
    "q_v_topk_hnsw_inc" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_inc_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(idx), true)
      val half0 = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      val half1 = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
      Hnsw.ensureIndex(half0, s"$dir/embeddings.parquet", idx,
        shards = 4, m = 8, efC = 32)
      Hnsw.appendToIndex(half1, idx)
      Hnsw.searchIndex(s, idx, emb.filter(col("vec_id") < 16),
        k = 5, nprobe = 4, ef = 0)
    }),

    // adaptive hot-shard split (round-12 VERDICT #7): build, split
    // the hottest shard IN PLACE (2-means inside the shard, router
    // gains one centroid, only that shard's rows rebuild), then
    // search the 5-shard index in exhaustive mode. The split only
    // refines the routing partition — the row set is untouched — so
    // full probe + unbounded ef is still provably exhaustive and the
    // gate shares the brute-force oracle. The skew/recall claims
    // (contract restored, recall at fixed budget within 0.02) are
    // measured in HnswSpec; the remedy selection logic
    // (rebuildRemedy) is spec-pinned too.
    "q_v_hnsw_split" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_sp_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(idx), true)
      Hnsw.ensureIndex(emb, s"$dir/embeddings.parquet", idx,
        shards = 4, m = 8, efC = 32)
      val hot = Hnsw.hottestShard(s, idx)
        .getOrElse(sys.error(s"empty index at $idx"))
      Hnsw.splitShard(s, idx, hot)
      Hnsw.searchIndex(s, idx, emb.filter(col("vec_id") < 16),
        k = 5, nprobe = 5, ef = 0)
    }),

    // graph-shard COMPACTION (q_v_topk_ivf_cpt's graph twin): build
    // half, append half under the at-scale shuffle layout (no
    // broadcast, no AQE coalescing), read the meter, act on it,
    // search exhaustively. Round-16: the rebuild now CARRIES attrs
    // through its own shuffle, so a touched shard lands as one file
    // by construction and the meter stays clean — the needsCompaction
    // branch is the production guard, exercised against file-level
    // fragmentation fixtures in HnswSpec. The shared brute-force
    // oracle would hash-mismatch on any dropped or duplicated row
    "q_v_hnsw_cpt" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_cpt_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(idx), true)
      val half0 = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      val half1 = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
      Hnsw.ensureIndex(half0, s"$dir/embeddings.parquet", idx,
        shards = 4, m = 8, efC = 32, attrCols = Seq("label"))
      atScaleShuffle(s) { Hnsw.appendToIndex(half1, idx) }
      if (Hnsw.needsCompaction(s, idx, maxFilesPerShard = 1))
        Hnsw.compactShards(s, idx)
      Hnsw.searchIndex(s, idx, emb.filter(col("vec_id") < 16),
        k = 5, nprobe = 4, ef = 0)
    }),

    // the graph-side maintenance AUTOPILOT (Ivf.maintain's sibling,
    // round-14 VERDICT #1): same fragmented+drifted construction,
    // one maintain() call — it compacts (safe, content-invisible),
    // REPORTS the drift retrain for the fingerprint owner instead of
    // acting, and the exhaustive search over the maintained index
    // still answers exactly like brute force over the union. The
    // act-vs-report routing and the skew-axis rebalance live in
    // HnswSpec's planted-cluster pins
    "q_v_hnsw_maint" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_mnt_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(idx), true)
      val half0 = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      val half1 = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
      Hnsw.ensureIndex(half0, s"$dir/embeddings.parquet", idx,
        shards = 4, m = 8, efC = 32, attrCols = Seq("label"))
      atScaleShuffle(s) { Hnsw.appendToIndex(half1, idx) }
      val report = Hnsw.maintain(s, idx, maxFilesPerShard = 1,
        maxAppendedFraction = 0.5, maxShardSkew = 100.0)
      require(report.needsRetrain && report.splits == 0,
        s"a doubled corpus must report (not act on) drift: $report")
      Hnsw.searchIndex(s, idx, emb.filter(col("vec_id") < 16),
        k = 5, nprobe = 4, ef = 0)
    }),

    // index COMPACTION (OPTIMIZE for posting lists — the third
    // maintenance primitive): build half, append half (fragmenting
    // every touched posting list), read the fragmentation meter, act
    // on it, search. Compaction is content-invisible by construction,
    // so the gate shares the plain brute-force oracle — a compaction
    // that dropped or duplicated rows would hash-mismatch here
    "q_v_topk_ivf_cpt" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_cpt_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(idx), true)
      val half0 = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      val half1 = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
      Ivf.ensureIndex(half0, s"$dir/embeddings.parquet", idx, k = 4,
        iters = 2)
      Ivf.appendToIndex(half1, idx)
      if (Ivf.needsCompaction(s, idx, maxFilesPerCluster = 1))
        Ivf.compactIndex(s, idx)
      Ivf.searchIndex(s, idx, emb.filter(col("vec_id") < 16),
        k = 5, nprobe = 4)
    }),

    // STREAMING vector-index ingestion (the vector-DB write path):
    // initial build, then two upsert epochs through the CDC stream —
    // epoch 1 negates the %7 ids' vectors and inserts new ids (+1e6,
    // reversed vectors); epoch 2 reverts the %14 ids (update-of-
    // update). Each micro-batch is delete-then-append, so exhaustive
    // search after the drain ≡ brute force over the latest snapshot —
    // a deterministic construction the oracle replays with CASE +
    // list_transform
    "q_v_stream_index" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_vidx_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      val (feed, ckpt, idx) = (s"$scratch/feed", s"$scratch/ckpt",
        s"$scratch/idx")
      Ivf.ensureIndex(emb, s"$dir/embeddings.parquet", idx, k = 4,
        iters = 2)
      val e1 = emb.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"),
          transform(col("embedding"), x => (-x).cast("float"))
            .as("embedding"),
          col("label"))
        .unionByName(emb.filter(col("vec_id") % 5 === 3)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            reverse(col("embedding")).as("embedding"), col("label")))
      e1.coalesce(1).write.mode("append").parquet(feed)
      graft.streaming.StreamingVectorIndex.upsertStream(s, feed, idx,
        ckpt)
      emb.filter(col("vec_id") % 14 === 0)
        .select(col("vec_id"), col("embedding"), col("label"))
        .coalesce(1).write.mode("append").parquet(feed)
      graft.streaming.StreamingVectorIndex.upsertStream(s, feed, idx,
        ckpt)
      val latestQ = emb.filter(col("vec_id") < 16)
        .select(col("vec_id"),
          when(col("vec_id") % 7 === 0 && col("vec_id") % 14 =!= 0,
            transform(col("embedding"), x => (-x).cast("float")))
            .otherwise(col("embedding")).as("embedding"))
      Ivf.searchIndex(s, idx, latestQ, k = 5, nprobe = 4)
    }),

    // FULL-CDC ingestion (I/U/D parity with StreamingCdc): the same
    // upsert epochs plus DELETE tombstones (%11≡5 ids, disjoint from
    // the update set) — op='D' rows delete without re-append. Search
    // after the drain ≡ brute force over the latest snapshot minus
    // the tombstoned ids
    "q_v_stream_cdc" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_vcdc_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      val (feed, ckpt, idx) = (s"$scratch/feed", s"$scratch/ckpt",
        s"$scratch/idx")
      Ivf.ensureIndex(emb, s"$dir/embeddings.parquet", idx, k = 4,
        iters = 2)
      val latestQ = cdcEpochs(emb, feed) {
        graft.streaming.StreamingVectorIndex.upsertStream(s, feed, idx,
          ckpt, opCol = Some("op"))
      }
      Ivf.searchIndex(s, idx, latestQ, k = 5, nprobe = 4)
    }),

    // streaming CDC COMPOSED with a residual-PQ index (round-14
    // VERDICT #3): the same I/U/D epoch feed drains into an
    // ensureIndexPqResidual artifact — each appended delta must
    // encode v − centroid(v) with the SAVED codebooks (the round-14
    // residual-append fix, Ivf.appendToIndex's residual=1 branch),
    // and each delete rewrites only touched posting lists' code
    // columns. Full probe + exhaustive rescore over the drained
    // index ≡ brute force over the latest snapshot minus tombstones,
    // so the gate shares q_v_stream_cdc's oracle: a plain-encoded
    // appended row would ADC-misscore, misorder the shortlist, and
    // hash-mismatch here
    "q_v_stream_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_vpq_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      val (feed, ckpt, idx) = (s"$scratch/feed", s"$scratch/ckpt",
        s"$scratch/idx")
      Ivf.ensureIndexPqResidual(emb, s"$dir/embeddings.parquet", idx,
        k = 4, iters = 2, pqM = 8, pqK = 16, pqIters = 4,
        pqSampleN = 1024)
      val latestQ = cdcEpochs(emb, feed) {
        graft.streaming.StreamingVectorIndex.upsertStream(s, feed, idx,
          ckpt, opCol = Some("op"))
      }
      Ivf.searchIndex(s, idx, latestQ, k = 5, nprobe = 4,
        shortlist = Ivf.Shortlist.PqResidual(indexRows(s, idx)))
    }),

    // CDC into the MRL stored-prefix artifact (round-16; the
    // q_v_stream_pq treatment): appendToIndex slices each epoch's
    // delta to the stored _MRL_DIMS width schema-driven, so full
    // probe + exhaustive rescore over the drained index ≡ brute
    // force over latest-minus-tombstones — q_v_stream_cdc's oracle.
    // A delta sliced to a different width would misscore every
    // appended row's shortlist rank and hash-mismatch here
    "q_v_stream_mrl" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_vmrl_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      val (feed, ckpt, idx) = (s"$scratch/feed", s"$scratch/ckpt",
        s"$scratch/idx")
      Ivf.ensureIndexMrl(emb, s"$dir/embeddings.parquet", idx, k = 4,
        mrlDims = 4, iters = 2)
      val latestQ = cdcEpochs(emb, feed) {
        graft.streaming.StreamingVectorIndex.upsertStream(s, feed, idx,
          ckpt, opCol = Some("op"))
      }
      Ivf.searchIndex(s, idx, latestQ, k = 5, nprobe = 4,
        shortlist = Ivf.Shortlist.Mrl(indexRows(s, idx)))
    }),

    // CDC into the int8-quantized artifact: appendToIndex re-derives
    // the q8 column for each epoch's delta schema-driven — a delta
    // missing (or mis-scaling) its codes would ADC-misscore every
    // appended row. Full probe + exhaustive rescore after the drain ≡
    // brute force over latest-minus-tombstones (q_v_stream_cdc's
    // oracle). The only gate exercising the q8 APPEND branch — the
    // build-time arm q_v_topk_ivfc never appends
    "q_v_stream_sq8" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_vsq8_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      val (feed, ckpt, idx) = (s"$scratch/feed", s"$scratch/ckpt",
        s"$scratch/idx")
      Ivf.ensureIndex(emb, s"$dir/embeddings.parquet", idx, k = 4,
        iters = 2, quantize = true)
      val latestQ = cdcEpochs(emb, feed) {
        graft.streaming.StreamingVectorIndex.upsertStream(s, feed, idx,
          ckpt, opCol = Some("op"))
      }
      Ivf.searchIndex(s, idx, latestQ, k = 5, nprobe = 4,
        shortlist = Ivf.Shortlist.Sq8(indexRows(s, idx)))
    }),

    // the sign-packed twin: the b-column APPEND branch under the same
    // CDC drain, exhaustive Hamming shortlist + exact rescore ≡ the
    // same latest snapshot
    "q_v_stream_bin" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_vbin_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      val (feed, ckpt, idx) = (s"$scratch/feed", s"$scratch/ckpt",
        s"$scratch/idx")
      Ivf.ensureIndex(emb, s"$dir/embeddings.parquet", idx, k = 4,
        iters = 2, binarize = true)
      val latestQ = cdcEpochs(emb, feed) {
        graft.streaming.StreamingVectorIndex.upsertStream(s, feed, idx,
          ckpt, opCol = Some("op"))
      }
      Ivf.searchIndex(s, idx, latestQ, k = 5, nprobe = 4,
        shortlist = Ivf.Shortlist.Binary(indexRows(s, idx)))
    }),

    // the maintenance autopilot COMPOSED with the streaming write
    // path: CDC epochs genuinely fragment posting lists (each
    // delete-then-append adds at least one file per touched
    // cluster), maintain() compacts them after the drain, and the
    // search over the maintained index still answers exactly like
    // the latest snapshot — the nightly-maintenance deployment loop
    // under one oracle
    "q_v_stream_maint" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_vmnt_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      val (feed, ckpt, idx) = (s"$scratch/feed", s"$scratch/ckpt",
        s"$scratch/idx")
      Ivf.ensureIndex(emb, s"$dir/embeddings.parquet", idx, k = 4,
        iters = 2)
      val e1 = emb.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"),
          transform(col("embedding"), x => (-x).cast("float"))
            .as("embedding"),
          col("label"))
        .unionByName(emb.filter(col("vec_id") % 5 === 3)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            reverse(col("embedding")).as("embedding"), col("label")))
      e1.coalesce(1).write.mode("append").parquet(feed)
      graft.streaming.StreamingVectorIndex.upsertStream(s, feed, idx,
        ckpt)
      emb.filter(col("vec_id") % 14 === 0)
        .select(col("vec_id"), col("embedding"), col("label"))
        .coalesce(1).write.mode("append").parquet(feed)
      graft.streaming.StreamingVectorIndex.upsertStream(s, feed, idx,
        ckpt)
      val report = Ivf.maintain(s, idx, maxFilesPerCluster = 1,
        maxAppendedFraction = 10.0)
      require(report.compactedClusters > 0,
        s"construction: two CDC epochs must fragment: $report")
      val latestQ = emb.filter(col("vec_id") < 16)
        .select(col("vec_id"),
          when(col("vec_id") % 7 === 0 && col("vec_id") % 14 =!= 0,
            transform(col("embedding"), x => (-x).cast("float")))
            .otherwise(col("embedding")).as("embedding"))
      Ivf.searchIndex(s, idx, latestQ, k = 5, nprobe = 4)
    }),

    // the graph twin of q_v_stream_index: same epoch feed against the
    // HNSW index — deletes rebuild touched shards canonically,
    // appends keep bit-identity with a fresh build, so exhaustive
    // search over the drained index shares the same latest-snapshot
    // oracle
    "q_v_stream_hnsw" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_vhidx_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      val (feed, ckpt, idx) = (s"$scratch/feed", s"$scratch/ckpt",
        s"$scratch/idx")
      Hnsw.ensureIndex(emb, s"$dir/embeddings.parquet", idx,
        shards = 4, m = 8, efC = 32)
      val e1 = emb.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"),
          transform(col("embedding"), x => (-x).cast("float"))
            .as("embedding"),
          col("label"))
        .unionByName(emb.filter(col("vec_id") % 5 === 3)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            reverse(col("embedding")).as("embedding"), col("label")))
      e1.coalesce(1).write.mode("append").parquet(feed)
      graft.streaming.StreamingVectorIndex.upsertStreamHnsw(s, feed,
        idx, ckpt)
      emb.filter(col("vec_id") % 14 === 0)
        .select(col("vec_id"), col("embedding"), col("label"))
        .coalesce(1).write.mode("append").parquet(feed)
      graft.streaming.StreamingVectorIndex.upsertStreamHnsw(s, feed,
        idx, ckpt)
      val latestQ = emb.filter(col("vec_id") < 16)
        .select(col("vec_id"),
          when(col("vec_id") % 7 === 0 && col("vec_id") % 14 =!= 0,
            transform(col("embedding"), x => (-x).cast("float")))
            .otherwise(col("embedding")).as("embedding"))
      Hnsw.searchIndex(s, idx, latestQ, k = 5, nprobe = 4, ef = 0)
    }),

    // the graph twin of q_v_stream_maint (round-15 VERDICT #2):
    // Hnsw.maintain composed with the CDC drain it was built for.
    // Epochs run under the at-scale shuffle layout (AQE single-file
    // coalescing off, like q_v_hnsw_cpt; no broadcast). Round-16: the
    // fused upsert carries attrs through the rebuild's own shuffle,
    // so each epoch leaves ONE file per touched shard by construction
    // — maintain() now VERIFIES the compaction-clean layout instead
    // of mopping up the old attr-re-join scatter — and exhaustive
    // search over the maintained index still answers exactly like the
    // latest snapshot. Shares q_v_stream_index's oracle
    "q_v_stream_hnsw_maint" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_vhmnt_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      val (feed, ckpt, idx) = (s"$scratch/feed", s"$scratch/ckpt",
        s"$scratch/idx")
      // attr-carrying build: the touched-shard rebuild's attr
      // re-join is the shuffle that genuinely fragments under the
      // at-scale layout (a bare rebuild writes one file per shard
      // from its per-cluster group task, and the meter reads clean)
      Hnsw.ensureIndex(emb, s"$dir/embeddings.parquet", idx,
        shards = 4, m = 8, efC = 32, attrCols = Seq("label"))
      val e1 = emb.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"),
          transform(col("embedding"), x => (-x).cast("float"))
            .as("embedding"),
          col("label"))
        .unionByName(emb.filter(col("vec_id") % 5 === 3)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            reverse(col("embedding")).as("embedding"), col("label")))
      e1.coalesce(1).write.mode("append").parquet(feed)
      atScaleShuffle(s) {
        graft.streaming.StreamingVectorIndex.upsertStreamHnsw(s, feed,
          idx, ckpt)
      }
      emb.filter(col("vec_id") % 14 === 0)
        .select(col("vec_id"), col("embedding"), col("label"))
        .coalesce(1).write.mode("append").parquet(feed)
      atScaleShuffle(s) {
        graft.streaming.StreamingVectorIndex.upsertStreamHnsw(s, feed,
          idx, ckpt)
      }
      val report = Hnsw.maintain(s, idx, maxFilesPerShard = 1,
        maxAppendedFraction = 10.0, maxShardSkew = 100.0)
      // round-16: the fused upsert CARRIES attrs through the rebuild
      // shuffle, so a touched shard lands as ONE file by construction
      // — the attr-re-join scatter that used to fragment every epoch
      // (and that compaction existed to mop up here) is gone. The
      // construction pin flips accordingly: two CDC epochs must leave
      // a compaction-clean layout, and maintain must verify that
      // (zero compactions at maxFilesPerShard = 1, the strictest
      // setting). compactShards' own behavior stays spec-pinned in
      // HnswSpec against file-level fragmentation fixtures.
      require(report.compactedShards == 0 &&
        Hnsw.filesPerShard(s, idx).values.forall(_ == 1),
        s"construction: fused epochs must leave one file per shard: " +
          s"$report, ${Hnsw.filesPerShard(s, idx)}")
      val latestQ = emb.filter(col("vec_id") < 16)
        .select(col("vec_id"),
          when(col("vec_id") % 7 === 0 && col("vec_id") % 14 =!= 0,
            transform(col("embedding"), x => (-x).cast("float")))
            .otherwise(col("embedding")).as("embedding"))
      Hnsw.searchIndex(s, idx, latestQ, k = 5, nprobe = 4, ef = 0)
    }),

    // index DELETION (FAISS remove_ids, the append complement): build
    // fresh, delete the label≥5 rows — only touched posting lists
    // rewrite, emptied ones are removed explicitly — then exhaustive
    // search over the survivors ≡ brute force over the label<5 slice,
    // so the gate shares q_v_topk_flt's oracle without any
    // deletion-specific SQL
    "q_v_topk_ivf_del" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_del_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(idx), true)
      Ivf.ensureIndex(emb, s"$dir/embeddings.parquet", idx, k = 4,
        iters = 2)
      Ivf.deleteFromIndex(s, idx, col("label") >= 5)
      Ivf.searchIndex(s, idx, emb.filter(col("vec_id") < 16),
        k = 5, nprobe = 4)
    }),

    // the graph twin: attr-carrying HNSW, delete label≥5 (touched
    // shards rebuild canonically from survivors — no dangling-edge
    // unlink), exhaustive search ≡ the same filtered brute force
    "q_v_hnsw_del" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_del_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(idx), true)
      Hnsw.ensureIndex(emb, s"$dir/embeddings.parquet", idx,
        shards = 4, m = 8, efC = 32, attrCols = Seq("label"))
      Hnsw.deleteFromIndex(s, idx, col("label") >= 5)
      Hnsw.searchIndex(s, idx, emb.filter(col("vec_id") < 16),
        k = 5, nprobe = 4, ef = 0)
    }),

    // the round-13 features COMPOSED under one oracle: an
    // attr-carrying index, hot-shard split in place (attrs must ride
    // the 2-means rebuild), then FILTERED search over the split
    // index — predicate at the scan, exhaustive mode over 5 shards ⇒
    // shares q_v_topk_flt's filtered brute-force oracle. A split that
    // dropped or null-filled the attribute column would surface here
    // as missing/extra neighbors, not just in the HnswSpec pins
    "q_v_hnsw_split_flt" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_spf_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(idx), true)
      Hnsw.ensureIndex(emb, s"$dir/embeddings.parquet", idx,
        shards = 4, m = 8, efC = 32, attrCols = Seq("label"))
      val hot = Hnsw.hottestShard(s, idx)
        .getOrElse(sys.error(s"empty index at $idx"))
      Hnsw.splitShard(s, idx, hot)
      Hnsw.searchIndex(s, idx, emb.filter(col("vec_id") < 16), k = 5,
        nprobe = 5, ef = 0,
        predicate = Some(col("label") < 5))
    }),

    // the HNSW maintenance loop as a DEPLOYMENT gate: build on half
    // the corpus, append the other half, read the drift meters (pure
    // footer/count arithmetic — exact integers the oracle replays
    // from the corpus's own parity counts), observe needsRebuild
    // fire, rebuild over the union, observe the meters reset. The
    // rebuilt index's search correctness is q_v_topk_hnsw_inc's job;
    // THIS gate pins the meter→trigger→rebuild→reset lifecycle
    // numbers end to end (shard imbalance is k-means-dependent and
    // stays spec-pinned, not oracled)
    "q_v_hnsw_rebuild" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_rb_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(idx), true)
      val half0 = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      val half1 = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
      Hnsw.ensureIndex(half0, s"$dir/embeddings.parquet", idx,
        shards = 4, m = 8, efC = 32)
      Hnsw.appendToIndex(half1, idx)
      val live = Hnsw.footerShardSizes(s, idx).values.sum
      val base = Hnsw.baseRowCount(s, idx).get
      val ppmBefore = (live - base) * 1000000L / base
      // the oracle replays ONLY the append-ppm axis, so both trigger
      // probes pin exactly that axis (a degenerate k-means router
      // could push skew past the default 4.0 with appended fraction
      // <= 0.5 and silently diverge from the oracle otherwise —
      // round-12 ADVICE); the skew axis lives in q_v_hnsw_split +
      // HnswSpec
      val firesBefore = Hnsw.needsRebuild(s, idx,
        maxShardSkew = Double.MaxValue)
      // the rebuild the trigger points at: fresh build over the union
      val idx2 = idx + "_rebuilt"
      fs.delete(new org.apache.hadoop.fs.Path(idx2), true)
      Hnsw.ensureIndex(emb, s"$dir/embeddings.parquet", idx2,
        shards = 4, m = 8, efC = 32)
      val live2 = Hnsw.footerShardSizes(s, idx2).values.sum
      val base2 = Hnsw.baseRowCount(s, idx2).get
      val ppmAfter = (live2 - base2) * 1000000L / base2
      import s.implicits._
      Seq(
        ("appended_ppm_before", ppmBefore),
        ("fires_before", if (firesBefore) 1L else 0L),
        ("rows_after", live2),
        ("appended_ppm_after", ppmAfter),
        ("fires_after",
          if (Hnsw.needsRebuild(s, idx2,
            // the skew axis is k-means-dependent; the oracle covers
            // the APPEND axis, so probe only that one here
            maxShardSkew = Double.MaxValue)) 1L else 0L))
        .toDF("metric", "value")
    }),

    // compressed-domain IVF search: the int8 (4×-smaller) column feeds
    // the shortlist scan, full-precision vectors rescore ONLY the
    // shortlist — the IVF-PQ-style shape a 100 TB corpus searches.
    // Full probe + exhaustive shortlist here → the exact-cosine rescore
    // decides every rank → shares the brute-force oracle; the
    // approximate path's recall + int8-only scan are pinned in IvfSpec.
    // the binary rung's PRODUCTION shape: sign-packed column stored
    // in the IVF index (32× smaller hot scan), cluster-pruned
    // shortlist, exact rescore of shortlisted ids only. Full probe ⇒
    // the pair space equals binTopK's and the hamming/rescore
    // tie-breaks are shared, so the gate reuses q_v_topk_bin's
    // FULL-replay oracle (shortlist selection included) — stronger
    // than the exhaustive-rescore escape the float/PQ index gates
    // need. Partial-probe recall + packed-column-only plan pin live
    // in IvfSpec
    "q_v_topk_bin_idx" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_bin_q_" +
        graft.engine.Scratch.encode(dir)
      Ivf.ensureIndex(emb, s"$dir/embeddings.parquet", scratch, k = 4,
        iters = 2, binarize = true)
      Ivf.searchIndex(s, scratch, emb.filter(col("vec_id") < 16), k = 5,
        nprobe = 4,
        shortlist = Ivf.Shortlist.Binary(64))
    }),

    // filtered ANN on the COMPRESSED arm: the label predicate applies
    // at the packed-column shortlist scan (pushdown + partition
    // pruning), so the whole 64-candidate Hamming budget lands on
    // qualifying vectors and the rescore reads only their floats.
    // Deterministic shortlist ⇒ the full filtered pipeline replays in
    // SQL; shares q_v_topk_bin_idx's artifact
    "q_v_topk_bin_flt" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_bin_q_" +
        graft.engine.Scratch.encode(dir)
      Ivf.ensureIndex(emb, s"$dir/embeddings.parquet", scratch, k = 4,
        iters = 2, binarize = true)
      Ivf.searchIndex(s, scratch, emb.filter(col("vec_id") < 16), k = 5,
        nprobe = 4,
        predicate = Some(col("label") < 5),
          shortlist = Ivf.Shortlist.Binary(64))
    }),

    "q_v_topk_ivf_c" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_pq_q_" +
        graft.engine.Scratch.encode(dir)
      Ivf.ensureIndex(emb, s"$dir/embeddings.parquet", scratch, k = 4,
        iters = 2, quantize = true)
      // rescoreK = corpus size keeps the shortlist EXHAUSTIVE at any
      // scale factor — the premise that lets this gate share the
      // brute-force oracle (a constant would silently break it when
      // the corpus outgrows it). The count comes from the index's own
      // _ROWS metadata, recorded at build time — never a per-execution
      // count job inside the timed search (round-6 VERDICT #1)
      Ivf.searchIndex(s, scratch, emb.filter(col("vec_id") < 16), k = 5,
        nprobe = 4,
        shortlist = Ivf.Shortlist.Sq8(indexRows(s, scratch)))
    }),

    // filtered ANN on the int8 arm — the last encoding to get a
    // predicate-aware search, completing the family (float, binary,
    // PQ, residual-PQ, HNSW, and now SQ8 all filter at the scan).
    // Shares q_v_topk_ivf_c's artifact and q_v_topk_flt's oracle
    "q_v_topk_ivfc_flt" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_pq_q_" +
        graft.engine.Scratch.encode(dir)
      Ivf.ensureIndex(emb, s"$dir/embeddings.parquet", scratch, k = 4,
        iters = 2, quantize = true)
      Ivf.searchIndex(s, scratch,
        emb.filter(col("vec_id") < 16),
        k = 5, nprobe = 4, predicate = Some(col("label") < 5),
        shortlist = Ivf.Shortlist.Sq8(indexRows(s, scratch)))
    }),

    // IVF-PQ: candidates from probed clusters, scored from m-byte PQ
    // codes via an ADC lookup table (32× less vector data through the
    // scan/broadcast than floats), exact rescore of the shortlist.
    // Full probe + exhaustive shortlist here → the exact-cosine
    // rescore decides every rank → shares the brute-force oracle;
    // ADC correctness + shortlist recall pinned in PqSpec.
    "q_v_topk_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ivf = Ivf.train(emb, k = 4, iters = 2)
      val pq = graft.operators.Pq.train(emb, m = 8, k = 16, iters = 4,
        sampleN = 1024)
      // corpus-sized shortlist: exhaustive at any sf (see q_v_topk_ivf_c)
      graft.operators.Pq.topKClustered(emb, emb.filter(col("vec_id") < 16),
        ivf, pq, k = 5, nprobe = 4, rescoreK = emb.count().toInt)
    }),

    // the PERSISTED IVF-PQ index (FAISS's artifact shape): codebooks +
    // m-int codes + exact norms stored in the partitioned corpus at
    // build time, searched entirely from a cold reload — no per-query
    // re-training/re-encoding. Full probe + exhaustive shortlist (from
    // the index's _ROWS metadata, not a count job) → the exact-cosine
    // rescore decides every rank → shares the brute-force oracle;
    // cold-reload ≡ in-session and the codes-only shortlist scan are
    // pinned in PqSpec.
    // residual IVF-PQ (the FAISS-IVFPQ default): same m·k code budget
    // spent on v − centroid(v) — recall win at identical code size
    // (PqSpec measures it); corpus-sized shortlist keeps the gate's
    // final answer exact against the shared brute-force oracle
    "q_v_topk_pq_res" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ivf = Ivf.train(emb, k = 4, iters = 2)
      val pq = graft.operators.Pq.trainResidual(emb, ivf, m = 8, k = 16,
        iters = 4, sampleN = 1024)
      graft.operators.Pq.topKClusteredResidual(emb,
        emb.filter(col("vec_id") < 16), ivf, pq, k = 5, nprobe = 4,
        rescoreK = emb.count().toInt)
    }),

    // the residual encoding as a PERSISTED artifact: build once under
    // the freshness protocol, search from a cold reload — exhaustive
    // probe + full rescore ⇒ the exact-top-k oracle applies
    "q_v_topk_pq_res_idx" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val scratch = s"${System.getProperty("java.io.tmpdir")}" +
        "/graft_pq_residx_q_" + graft.engine.Scratch.encode(dir)
      Ivf.ensureIndexPqResidual(emb, s"$dir/embeddings.parquet", scratch,
        k = 4, iters = 2, pqM = 8, pqK = 16, pqIters = 4, pqSampleN = 1024)
      Ivf.searchIndex(s, scratch, emb.filter(col("vec_id") < 16), k = 5,
        nprobe = 4,
        shortlist = Ivf.Shortlist.PqResidual(indexRows(s, scratch)))
    }),

    "q_v_topk_pq_idx" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_pq_idx_q_" +
        graft.engine.Scratch.encode(dir)
      Ivf.ensureIndexPq(emb, s"$dir/embeddings.parquet", scratch, k = 4,
        iters = 2, pqM = 8, pqK = 16, pqIters = 4, pqSampleN = 1024)
      Ivf.searchIndex(s, scratch, emb.filter(col("vec_id") < 16), k = 5,
        nprobe = 4,
        shortlist = Ivf.Shortlist.Pq(indexRows(s, scratch)))
    }),

    // filtered ANN on the PQ arm — the last index type to get a
    // predicate-aware search: the label predicate applies at the
    // code-column shortlist scan (plain Filter → PushedFilters,
    // stacked on cluster partition pruning; the coalesce-wrapper trap
    // is the Ivf lesson), so the whole ADC budget lands on qualifying
    // candidates. Full probe + exhaustive rescore ⇒ brute force over
    // the label<5 slice ⇒ shares q_v_topk_flt's oracle; shares
    // q_v_topk_pq_idx's persisted artifact (identical fingerprint)
    "q_v_topk_pq_flt" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_pq_idx_q_" +
        graft.engine.Scratch.encode(dir)
      Ivf.ensureIndexPq(emb, s"$dir/embeddings.parquet", scratch, k = 4,
        iters = 2, pqM = 8, pqK = 16, pqIters = 4, pqSampleN = 1024)
      Ivf.searchIndex(s, scratch, emb.filter(col("vec_id") < 16),
        k = 5, nprobe = 4, predicate = Some(col("label") < 5),
        shortlist = Ivf.Shortlist.Pq(indexRows(s, scratch)))
    }),

    // the residual-encoded twin: same pushed predicate, same
    // full-probe-exact contract, over q_v_topk_pq_res_idx's artifact
    "q_v_topk_pqr_flt" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val scratch = s"${System.getProperty("java.io.tmpdir")}" +
        "/graft_pq_residx_q_" + graft.engine.Scratch.encode(dir)
      Ivf.ensureIndexPqResidual(emb, s"$dir/embeddings.parquet", scratch,
        k = 4, iters = 2, pqM = 8, pqK = 16, pqIters = 4, pqSampleN = 1024)
      Ivf.searchIndex(s, scratch,
        emb.filter(col("vec_id") < 16),
        k = 5, nprobe = 4, predicate = Some(col("label") < 5),
        shortlist = Ivf.Shortlist.PqResidual(indexRows(s, scratch)))
    }),

    // LSH top-k in the probe-all-buckets exhaustive mode (maxHamming
    // ≥ nBits — the HNSW ef<=0 escape-hatch pattern): every (query,
    // corpus) pair flows through the SAME hash-join + exact-cosine +
    // TopK machinery the budgeted path uses, so the gate shares the
    // brute-force oracle at any sf; the default budget's recall stays
    // measured in SimilaritySpec
    "q_v_topk_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilaritySearch.lshTopK(emb, emb.filter(col("vec_id") < 16),
        k = 5, dim = 64, maxHamming = 16)
    }),

    // ── multimodal plumbing (stub codec, real Spark mechanics) ─────────
    "q_mm_decode" -> ((s, dir) =>
      Multimodal.decodeDocumentsAsMedia(s, t(s, dir, "documents"))),

    // real header decode: synthesized BMP/WAV payloads parsed by the
    // pure-JVM HeaderCodec; the oracle recomputes expected metadata
    // arithmetically, so the binary round-trip is what's verified
    "q_mm_decode_real" -> ((s, dir) =>
      Multimodal.decodeSyntheticMedia(s, t(s, dir, "documents"))),

    // REAL pixel decode: PNG/JPEG payloads through the JDK's ImageIO —
    // an actual compressed-image parse, not a header read; the oracle
    // recomputes the id-derived dims (byte_len is deliberately absent:
    // a compressed size isn't arithmetically predictable)
    "q_mm_decode_img" -> ((s, dir) =>
      Multimodal.decodeSyntheticImages(s, t(s, dir, "documents"))),

    // real resize round-trip: decode → bilinear redraw at (w/2+1,
    // h/2+1) → PNG re-encode → decode again; both codec directions and
    // the resize geometry are on the oracle's hook
    "q_mm_resize_img" -> ((s, dir) =>
      Multimodal.resizeSyntheticImages(s, t(s, dir, "documents"))),

    // frame sampling over the decoded synthetic media: every 7th frame
    // index — the index plan is pure column math (scan-side explode),
    // the oracle recomputes it from the synthesis arithmetic
    "q_mm_frames" -> ((s, dir) =>
      Multimodal.sampleFrameIndexes(
        Multimodal.decodeSyntheticMedia(s, t(s, dir, "documents")),
        stride = 7)
        .select(col("media_id"), col("frame_idx"))),

    // perceptual-hash image dedup: 41 distinct synthetic images, each
    // repeated across the corpus — identical pixels must hash
    // identically through a REAL decode, so phash groups reproduce
    // the id-arithmetic classes; the representative (min id per
    // group) is the oracle's window min. Distinct classes hash apart
    // because the synth pixels are seed-MIXED (not a seed-shifted
    // ramp — see ImageIoCodec.synth)
    "q_mm_phash_groups" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id"))
        // the docs table is ONE parquet file at gate scale — without a
        // repartition every per-row codec op lands on a single core
        .repartition(32).as[Long]
        .map { id =>
          val cls = id % 41
          Multimodal.MediaRow(id,
            Multimodal.ImageIoCodec.synth((cls % 16).toInt + 4,
              (cls % 12).toInt + 4, seed = cls, jpeg = false),
            "image/png")
        }.toDF("media_id", "content", "format")
      val hashed = Multimodal.imageHashes(media)
      hashed.join(
        hashed.groupBy(col("phash")).agg(min(col("media_id")).as("rep_id")),
        "phash")
        .select(col("media_id").as("doc_id"), col("rep_id"))
    }),

    // REAL multi-frame container decode: each doc becomes an animated
    // GIF whose frame count AND per-frame pixels are id-derived; the
    // ImageIO container walk must find exactly the embedded frames
    // (frame_idx from range arithmetic) and decode them well enough
    // that frame-level hash grouping reproduces the class arithmetic
    // (rep = min doc of the class — same scheme as q_mm_phash_groups,
    // one level down: frames inside containers instead of images)
    "q_mm_gif_frames" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id"))
        // the docs table is ONE parquet file at gate scale — without a
        // repartition every per-row codec op lands on a single core
        .repartition(32).as[Long]
        .map { id =>
          val cls = id % 23
          Multimodal.MediaRow(id,
            Multimodal.GifCodec.synthAnimated((cls % 6).toInt + 5,
              (cls % 4).toInt + 5, nFrames = (cls % 5).toInt + 1,
              seed = cls),
            "image/gif")
        }.toDF("media_id", "content", "format")
      val fh = Multimodal.gifFrameHashes(media)
      fh.join(
        fh.groupBy(col("fhash")).agg(min(col("media_id")).as("rep_id")),
        "fhash")
        .select(col("media_id").as("doc_id"), col("frame_idx"),
          col("rep_id"))
    }),

    // sample-level audio decode: square-wave WAVs parsed down to the
    // PCM samples; energy and zero crossings are id-arithmetic the
    // oracle recomputes, so every sample byte is on the hook
    "q_mm_audio_stats" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id"))
        // the docs table is ONE parquet file at gate scale — without a
        // repartition every per-row codec op lands on a single core
        .repartition(32).as[Long]
        .map { id =>
          Multimodal.MediaRow(id,
            Multimodal.MediaSynth.wavTone((id % 100).toInt + 10,
              (id % 6).toInt + 2),
            "audio/wav")
        }.toDF("media_id", "content", "format")
      Multimodal.audioStats(media)
        .select(col("media_id").as("doc_id"), col("channels"),
          col("sample_rate"), col("n_frames"), col("sum_squares"),
          col("zero_crossings"))
    }),

    // G.711 companded audio: even docs µ-law, odd docs A-law — one
    // byte per sample through the real ITU expansion table before the
    // identical stat fold. The decoded square wave sits at the exact
    // quantized levels dec(enc(1000)) = ±988 (µ) / ±1008 (A), so
    // energy stays oracle arithmetic with the codec constants on the
    // hook, and `codec` must be earned from the WAV format tag
    "q_mm_audio_g711" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id"))
        // the docs table is ONE parquet file at gate scale — without a
        // repartition every per-row codec op lands on a single core
        .repartition(32).as[Long]
        .map { id =>
          Multimodal.MediaRow(id,
            Multimodal.MediaSynth.wavToneG711((id % 80).toInt + 8,
              (id % 6).toInt + 2, aLaw = id % 2 == 1),
            "audio/wav")
        }.toDF("media_id", "content", "format")
      Multimodal.audioStats(media)
        .select(col("media_id").as("doc_id"), col("codec"),
          col("n_frames"), col("sum_squares"), col("zero_crossings"))
    }),

    // real VIDEO container: MJPEG AVI per doc, frame count and
    // grouping from the id arithmetic — the RIFF walk plus a full
    // JPEG decode per frame must reproduce them
    "q_mm_avi_frames" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id"))
        // the docs table is ONE parquet file at gate scale — without a
        // repartition every per-row codec op lands on a single core
        .repartition(32).as[Long]
        .map { id =>
          val cls = id % 19
          Multimodal.MediaRow(id,
            Multimodal.AviCodec.synthMjpeg((cls % 7).toInt + 10,
              (cls % 5).toInt + 8, nFrames = (cls % 4).toInt + 1,
              seed = cls),
            "video/avi")
        }.toDF("media_id", "content", "format")
      val fh = Multimodal.aviFrameHashes(media)
      fh.join(
        fh.groupBy(col("fhash")).agg(min(col("media_id")).as("rep_id")),
        "fhash")
        .select(col("media_id").as("doc_id"), col("frame_idx"),
          col("rep_id"))
    }),

    // multi-page TIFF: lossless sibling of the GIF/AVI gates
    "q_mm_tiff_frames" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id"))
        // the docs table is ONE parquet file at gate scale — without a
        // repartition every per-row codec op lands on a single core
        .repartition(32).as[Long]
        .map { id =>
          val cls = id % 13
          Multimodal.MediaRow(id,
            Multimodal.TiffCodec.synthMulti((cls % 6).toInt + 6,
              (cls % 4).toInt + 6, nFrames = (cls % 3).toInt + 1,
              seed = cls),
            "image/tiff")
        }.toDF("media_id", "content", "format")
      val fh = Multimodal.tiffFrameHashes(media)
      fh.join(
        fh.groupBy(col("fhash")).agg(min(col("media_id")).as("rep_id")),
        "fhash")
        .select(col("media_id").as("doc_id"), col("frame_idx"),
          col("rep_id"))
    }),

    // video-level near-dup by frame-fingerprint overlap: class 2k and
    // 2k+1 share 3 of their 4 frames (Jaccard 3/5), same-class videos
    // are identical (Jaccard 1) — the container walk, the per-frame
    // JPEG decode, the hash-bucketed pair join, and the exact integer
    // Jaccard must all reproduce the class arithmetic. Class id is
    // doc_id div 25 — class COUNT scales with the corpus while class
    // SIZE stays fixed (the messyNames digit-tier lesson): the old
    // % 62 form froze the class count, so true pair volume grew
    // quadratically by construction (measured 39x at 10x data,
    // round-16) and no envelope could gate the operator; with
    // entity-scaling classes the true relation is linear and the
    // ScaleGate envelope finally has something honest to pin
    "q_mm_video_neardup" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id"))
        // the docs table is ONE parquet file at gate scale — without a
        // repartition every per-row codec op lands on a single core
        .repartition(32).as[Long]
        .map { id =>
          val cls = id / 25
          val seeds = (0 until 4).map(j => (cls / 2) * 1000L + cls % 2 + j)
          Multimodal.MediaRow(id,
            Multimodal.AviCodec.synthMjpegSeeds(12, 10, seeds), "video/avi")
        }.toDF("media_id", "content", "format")
      Multimodal.videoOverlapCandidates(
        Multimodal.aviFrameHashes(media), minJaccardMicros = 500000L)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
          col("jacc_micros"))
    }),

    // link-graph authority: PageRank in exact integer micros over a
    // deterministic 2-out-regular synthetic link graph — every
    // division floors, so the DuckDB oracle unrolls the identical
    // recurrence and must match bit-for-bit (no floating-point
    // PageRank survives cross-engine sum order)
    // label-propagation COMMUNITIES on planted 6-cliques chained by
    // single bridges — the construction where components ≠
    // communities: CC merges the whole bridge chain into one label,
    // LPA's frequency vote keeps each clique its own (the clique's 5
    // internal votes out-vote its 1 bridge). Synchronous, min-tie,
    // exactly 4 rounds — the K-round state is a pure function of the
    // edge set, unrolled verbatim by the oracle
    "q_g_lpa" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count() // bounded driver metadata, like §2-A2
      val intra = docs
        .select(col("doc_id").as("src"),
          explode(sequence(lit(1), lit(5))).as("k"))
        .select(col("src"), (col("src") + col("k")).as("dst"))
        .filter(expr("src div 6 = dst div 6") && col("dst") < n)
      val bridges = docs.filter(col("doc_id") % 6 === 0)
        .select(col("doc_id").as("src"), (col("doc_id") + 6).as("dst"))
        .filter(col("dst") < n)
      graft.operators.LinkGraph
        .labelPropagation(intra.union(bridges), iters = 4)
        .select(col("id").as("doc_id"), col("community"))
    }),

    "q_g_pagerank" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count() // bounded driver metadata, like §2-A2
      val e = docs.select(col("doc_id").as("src"),
          ((col("doc_id") * 7 + 3) % n).as("dst"))
        .union(docs.select(col("doc_id").as("src"),
          ((col("doc_id") * 13 + 5) % n).as("dst")))
      graft.operators.LinkGraph.pageRankMicros(e, iters = 3)
        .select(col("id").as("doc_id"), col("pr_micros"))
    }),

    // HITS hubs & authorities over the same multiplicative link maps —
    // max-normalized exact-integer recurrence (each half-round is one
    // equi-join + grouped sum + a scalar max re-injected as a literal),
    // so the oracle unrolls all 3 rounds in CTEs with scalar-subquery
    // maxima. Complements PageRank: authority rewards being endorsed
    // by good hubs, hub rewards endorsing good authorities
    "q_g_hits" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count() // bounded driver metadata, like §2-A2
      val e = docs.select(col("doc_id").as("src"),
          ((col("doc_id") * 7 + 3) % n).as("dst"))
        .union(docs.select(col("doc_id").as("src"),
          ((col("doc_id") * 13 + 5) % n).as("dst")))
      graft.operators.LinkGraph.hitsMicros(e, iters = 3)
        .select(col("id").as("doc_id"), col("hub_micros"),
          col("auth_micros"))
    }),

    // BFS hop distance from a trusted seed core (every 97th doc) over
    // the same multiplicative link maps — the TrustRank-style
    // link-distance signal; 3 frontier rounds, each ONE equi-join.
    // The oracle unrolls the identical 3 layers
    "q_g_hops" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count() // bounded driver metadata, like §2-A2
      val e = docs.select(col("doc_id").as("src"),
          ((col("doc_id") * 7 + 3) % n).as("dst"))
        .union(docs.select(col("doc_id").as("src"),
          ((col("doc_id") * 13 + 5) % n).as("dst")))
      val seeds = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("id"))
      graft.operators.LinkGraph.hopDistance(e, seeds, maxHops = 3)
        .select(col("id").as("doc_id"), col("hops"))
    }),

    // TrustRank: the personalized variant over the same maps and the
    // same trusted core — teleport floor only on seeds, so the score
    // is link proximity to trust (the raw-PageRank/TrustRank gap is
    // the classic spam signal). Exact integer micros, 3 unrolled
    // rounds in the oracle
    "q_g_trustrank" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count() // bounded driver metadata, like §2-A2
      val e = docs.select(col("doc_id").as("src"),
          ((col("doc_id") * 7 + 3) % n).as("dst"))
        .union(docs.select(col("doc_id").as("src"),
          ((col("doc_id") * 13 + 5) % n).as("dst")))
      val seeds = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("id"))
      graft.operators.LinkGraph.personalizedPageRankMicros(e, seeds,
          iters = 3)
        .select(col("id").as("doc_id"), col("pr_micros"))
    }),

    // HTML → text extraction: four messy page shapes around the known
    // text — style/script ELEMENT CONTENT and comments must vanish
    // (a bare tag strip would leak the CSS/JS), tags strip, entities
    // decode, whitespace collapses. The planted script body contains
    // `<`/`>`/`&&` precisely to break any tag-only implementation
    "q_t_html_extract" -> ((s, dir) => {
      val v = col("doc_id") % 4
      val wrapped = when(v === 0, concat(
          lit("<html><head><style type=\"text/css\">p{color:red}</style>" +
            "</head>\n<body><p id=\"m\">"), col("text"),
          lit("</p></body></html>")))
        .when(v === 1, concat(lit("<div class=\"a\">"), col("text"),
          lit("</div>\n<script>var x = 1 < 2 && 3 > 2;</script>")))
        .when(v === 2, concat(lit("<!-- nav\nboiler -->\n<p>"), col("text"),
          lit(" A &amp; B</p>")))
        .otherwise(concat(lit("<ul>\n<li>"), col("text"),
          lit("</li>\n</ul>&nbsp;")))
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.htmlExtract(wrapped).as("clean_text"))
    }),

    // URL canonicalization + registered domain + exact URL dedup: each
    // doc's URL arrives in one of 8 messy spellings (case, default
    // port, trailing slash, fragment, tracking params with shuffled
    // query order, duplicate slashes, trailing host dot) — the
    // canonicalizer must collapse all of them to the class's one
    // canonical form, the suffix-list walk must find the registered
    // domain through the subdomain, and dedup on the canonical key
    // must recover the classes
    "q_u_url_canon" -> ((s, dir) => {
      val urls = messyUrls(s, dir)
      val canon = urls.select(col("doc_id"),
        graft.functions.UrlFunctions.canonicalUrl(col("raw_url")).as("url"),
        graft.functions.UrlFunctions.registeredDomain(col("raw_url"))
          .as("domain"))
      canon.join(
        canon.groupBy(col("url")).agg(min(col("doc_id")).as("rep_id")),
        "url")
        .select(col("doc_id"), col("url"), col("domain"), col("rep_id"))
    }),

    // per-registered-domain quota (the crawl-side per-site cap):
    // canonical domains feed the bounded top-k aggregator, keeping the
    // 25 lowest doc_ids per domain — no global sort, no window
    "q_u_url_quota" -> ((s, dir) => {
      val scored = messyUrls(s, dir).select(
        graft.functions.UrlFunctions.registeredDomain(col("raw_url"))
          .as("domain"),
        col("doc_id"), (-col("doc_id")).cast("double").as("score"))
      graft.operators.TopK.topKPerGroup(scored, 25, "domain", "doc_id",
        "score")(s)
    }),

    // Unicode normalization: planted combining sequences, C0 controls,
    // and space runs — Spark's JDK NFC vs DuckDB's utf8proc
    // nfc_normalize must agree byte-for-byte after the documented
    // controls→space / NFC / collapse / trim ladder
    "q_t_unicode_norm" -> ((s, dir) => {
      // decomposed combining marks (e+U+0301, A+U+030A, n+U+0303) that
      // NFC must precompose; controls (TAB, SOH, VT, FF, DEL) that
      // must become collapsed spaces; a precomposed U+00E9 that NFC
      // must leave alone; trailing space runs that must trim
      val planted = when(col("doc_id") % 5 === 0, lit(" é\tx"))
        .when(col("doc_id") % 5 === 1, lit("  Åbc"))
        .when(col("doc_id") % 5 === 2, lit("  fi"))
        .when(col("doc_id") % 5 === 3, lit(" café  "))
        .otherwise(lit(" ñ"))
      t(s, dir, "documents").select(col("doc_id"),
        graft.functions.NativeExpressions.normalizeText(
          concat(col("text"), planted)).as("norm_text"))
    }),

    // as-of join: every event aligned to the user's latest prior
    // purchase — DuckDB's native ASOF LEFT JOIN is the oracle
    "q_ev_asof" -> ((s, dir) => {
      val ev = EventStream.loadEvents(s, s"$dir/events.parquet")
      val left = ev.select(col("event_id"), col("user_id"), col("ts"))
      val right = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_id"),
          col("value").as("purchase_value"))
      graft.operators.AsOfJoin.asofJoin(left, right, "user_id", "ts")
        .select(col("event_id"), col("user_id"), col("purchase_id"),
          col("purchase_value"))
    }),

    // range join: every event matched to each purchase window
    // [purchase, purchase + 1h] of its user — bin-bucketed equi-join,
    // never a nested-loop theta join; DuckDB inequality join oracles it
    "q_ev_range" -> ((s, dir) => {
      val ev = EventStream.loadEvents(s, s"$dir/events.parquet")
      val points = ev.select(col("event_id"), col("user_id"), col("ts"))
      val intervals = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("wstart"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("wend"))
      graft.operators.RangeJoin.pointInInterval(points, intervals,
          Seq("user_id"), "ts", "wstart", "wend")
        .select(col("event_id"), col("user_id"), col("purchase_id"))
    }),

    // built-in session-window aggregation (the declarative sibling of
    // the mapGroupsWithState sessionize): gaps-and-islands SQL oracle
    "q_ev_session_agg" -> ((s, dir) => {
      val ev = EventStream.loadEvents(s, s"$dir/events.parquet")
      ev.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("total_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"), col("total_value"))
    }),

    // pivot: per-user event-type counts as columns (conditional-agg
    // oracle); missing cells coalesce to 0 on both sides
    "q_a4_pivot" -> ((s, dir) => {
      val types = Seq("click", "view", "purchase", "signup", "error")
      val ev = EventStream.loadEvents(s, s"$dir/events.parquet")
      ev.groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select(col("user_id") +:
          types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
    }),

    // unpivot — pivot's inverse (melt): wide per-part metric columns to
    // (metric, value) rows via Dataset.unpivot, a single Expand over
    // one scan (never N self-union scans); UNION-ALL oracle
    "q_a9_unpivot" -> ((s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"), col("p_size").cast("long").as("size_v"),
          round(col("p_retailprice") * 100).cast("long").as("price_cents"))
        .unpivot(Array(col("p_partkey")),
          Array(col("size_v"), col("price_cents")), "metric", "value")),

    // in-stream exact dedup: a REAL streaming run over a staged
    // double-write of events, dropDuplicatesWithinWatermark keyed on
    // event_id (state bounded by the watermark horizon at scale; the
    // duplicate pair here lands inside it) — output = events, exactly
    "q_ev_dedup_stream" -> ((s, dir) => {
      // staged once per source (Scratch staleness contract): the
      // operator under measurement is the streaming dedup, not the
      // double-write of its input
      // fingerprint "ts-ltz-v2": a stage built before loadEvents
      // normalized TIMESTAMP_NTZ carries an NTZ ts the watermark
      // rejects — rebuild it through the fixed loader
      val staged = graft.engine.Scratch.ensure(s, "dedup-stream",
        s"$dir/events.parquet", "ts-ltz-v2") { out =>
        val ev = EventStream.loadEvents(s, s"$dir/events.parquet")
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
        ev.union(ev).write.mode("overwrite").parquet(out)
      }
      s.catalog.dropTempView("graft_q_ev_dedup_stream")
      EventStream.runToMemory(s, staged, "graft_q_ev_dedup_stream",
        df => EventStream.dedupStream(df))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
    }),

    // per-user lifetime totals on the transformWithState API (Spark 4
    // stateful v2, RocksDB state store): a REAL streaming run; one
    // micro-batch emits each user's final totals, so the full
    // aggregate is the oracle. Checkpoint deleted first — a reused
    // checkpoint would see no new data and emit nothing
    "q_ev_tws_totals" -> ((s, dir) => {
      val staged = graft.engine.Scratch.ensure(s, "tws-events",
        s"$dir/events.parquet", "ts-ltz-v2") { out =>
        EventStream.loadEvents(s, s"$dir/events.parquet")
          .select(col("user_id"), col("value"))
          .write.mode("overwrite").parquet(out)
      }
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_tws_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      graft.streaming.StatefulTotals.userTotalsStream(
        s, staged, s"$scratch/out", s"$scratch/ckpt")
    }),

    // ordered funnel with step deadlines: view → click within 24h →
    // purchase within 24h, each step anchored at the user's EARLIEST
    // qualifying prior step (min-aggregation, not a row explosion);
    // three conditional aggs + two user-keyed joins, all exact micros
    "q_ev_funnel_seq" -> ((s, dir) => {
      val day = 86400000000L
      val ev = EventStream.loadEvents(s, s"$dir/events.parquet")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val a = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).as("ta"))
      val b = ev.filter(col("event_type") === "click")
        .join(a, "user_id")
        .filter(col("us") >= col("ta") && col("us") <= col("ta") + day)
        .groupBy(col("user_id")).agg(min(col("us")).as("tb"))
      val c = ev.filter(col("event_type") === "purchase")
        .join(b, "user_id")
        .filter(col("us") >= col("tb") && col("us") <= col("tb") + day)
        .groupBy(col("user_id")).agg(min(col("us")).as("tc"))
      a.agg(count(lit(1)).as("n_view")).crossJoin(
          b.agg(count(lit(1)).as("n_click")))
        .crossJoin(c.agg(count(lit(1)).as("n_purchase")))
    }),

    // retention cohort matrix: users keyed by first-activity week,
    // counted once per (cohort, weeks-since-first) cell — absolute
    // epoch-week indexing, no global-min scan needed
    "q_ev_retention" -> ((s, dir) => {
      val ev = EventStream.loadEvents(s, s"$dir/events.parquet")
        .select(col("user_id"),
          expr("unix_micros(ts) div 604800000000").as("wk"))
      val first = ev.groupBy(col("user_id")).agg(min(col("wk")).as("c0"))
      ev.join(first, "user_id")
        .select(col("user_id"), col("c0").as("cohort_week"),
          (col("wk") - col("c0")).as("week_offset"))
        .distinct()
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(count(lit(1)).as("n_users"))
    }),

    // per-(type, day) latency bands: exact interpolated P50/P90 kept
    // integral by scaling — 2·p50 is an element or a midpoint;
    // 10·p90 is 10·lo + (hi−lo)·(9(n−1) mod 10), integer on both
    // engines — plus the max. ONE aggregation pass
    "q_ev_bands" -> ((s, dir) => {
      val ev = EventStream.loadEvents(s, s"$dir/events.parquet")
        .select(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"),
          round(col("value") * 1000000).cast("long").as("vmic"))
      ev.groupBy(col("event_type"), col("day"))
        .agg(round(percentile(col("vmic"), lit(0.5)) * 2).cast("long")
            .as("p50_x2"),
          round(percentile(col("vmic"), lit(0.9)) * 10).cast("long")
            .as("p90_x10"),
          max(col("vmic")).as("vmax"))
    }),

    // streaming Markov transitions: a REAL transformWithState run
    // over a 3-epoch time-partitioned feed (one file per micro-batch)
    // — per-user last-event state bridges the epochs, and the final
    // counts share q_ev_transitions' batch lag-window oracle
    "q_ev_transitions_stream" -> ((s, dir) => {
      val staged = graft.engine.Scratch.ensure(s, "trans-events",
        s"$dir/events.parquet", "epochs-v1") { out =>
        graft.streaming.TransitionStream.stageEpochs(
          s, EventStream.loadEvents(s, s"$dir/events.parquet"), out)
      }
      val scratch = s"${System.getProperty("java.io.tmpdir")}/" +
        s"graft_trans_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      graft.streaming.TransitionStream.transitionsStream(
        s, staged, s"$scratch/out", s"$scratch/ckpt")
    }),

    // ── event-stream transforms, batch-executed (same plan streams) ────
    "q_ev_window" -> ((s, dir) =>
      EventStream.windowedAgg(
        EventStream.loadEvents(s, s"$dir/events.parquet"))),

    // trailing time-RANGE window features — the per-event training
    // features of a behavioral model (each event annotated with its
    // user's trailing-1h count/sum and trailing-24h count). RANGE
    // frames on event-time microseconds: value-based, peers included,
    // so ties are deterministic on both engines; both frames share one
    // partition+sort (one shuffle, two window passes over it); sums in
    // integer micros, never doubles
    "q_ev_trailing" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = EventStream.loadEvents(s, s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"),
          round(col("value") * 1000000).cast("long").as("vmic"))
      val base = Window.partitionBy(col("user_id")).orderBy(col("us"))
      val w1h = base.rangeBetween(-3600000000L, 0L)
      val w24 = base.rangeBetween(-86400000000L, 0L)
      ev.select(col("event_id"), col("user_id"),
        count(lit(1)).over(w1h).as("n_1h"),
        sum(col("vmic")).over(w1h).as("sum_micros_1h"),
        count(lit(1)).over(w24).as("n_24h"))
    }),

    // trending top-k per window: the rank runs over the bounded
    // per-window rollup (never the raw events); ties broken by name so
    // both engines pick identical winners
    "q_ev_trending" -> ((s, dir) =>
      EventStream.trendingTopK(
        EventStream.loadEvents(s, s"$dir/events.parquet"),
        k = 2, windowLen = "6 hours")),

    // stream-stream interval join (attribution) — batch-executed here
    // for the oracle; StreamingSpec drives the SAME plan through a
    // real two-sided streaming join with watermarked state
    "q_ev_join" -> ((s, dir) =>
      EventStream.clickAttribution(
        EventStream.loadEvents(s, s"$dir/events.parquet"))),

    // LEFT OUTER stream-stream join: unconverted clicks surface with
    // null purchase columns (streaming: emitted on watermark
    // eviction; batch: eagerly — same plan, oracle below)
    "q_ev_join_outer" -> ((s, dir) =>
      EventStream.clickAttributionOuter(
        EventStream.loadEvents(s, s"$dir/events.parquet"))),

    "q_ev_sessions" -> ((s, dir) => {
      import s.implicits._
      EventStream.sessionize(
        EventStream.loadEvents(s, s"$dir/events.parquet")
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .as[EventStream.Event])(s)
        .toDF()
        .withColumn("total_value", round(col("total_value"), 2))
    }),

    // the event-time variant, batch-executed: timeouts can't fire when
    // all data arrives at once, so it shares q_ev_sessions' oracle —
    // the watermark-driven close semantics are pinned in StreamingSpec
    "q_ev_sessions_et" -> ((s, dir) => {
      import s.implicits._
      EventStream.sessionizeEventTime(
        EventStream.loadEvents(s, s"$dir/events.parquet")
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .as[EventStream.Event])(s)
        .toDF()
        .withColumn("total_value", round(col("total_value"), 2))
    }),

    // SCD Type-2 history-preserving merge: initial load at batch 0,
    // then one snapshot batch (segment moves, balance bumps, brand-new
    // keys) at batch 1 — every case of the merge (carried, closed,
    // opened, new-key) lands in the output with its validity stamps,
    // and the whole construction is deterministic → full oracle
    "q_scd2_dim_build" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"),
          round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      val dim0 = graft.engine.ScdType2.initial(cust, batch = 0L)
      val updates = cust.filter(col("c_custkey") % 3 === 0)
        .withColumn("segment", lit("MOVED"))
        .union(cust
          .filter(col("c_custkey") % 3 =!= 0 && col("c_custkey") % 5 === 0)
          .withColumn("bal_cents", col("bal_cents") + 10000L))
        .union(cust.filter(col("c_custkey") % 7 === 0)
          .select((col("c_custkey") + 1000000L).as("c_custkey"),
            col("segment"), col("bal_cents")))
      graft.engine.ScdType2.merge(dim0, updates, Seq("c_custkey"),
        Seq("segment", "bal_cents"), batch = 1L)
    }),

    // graded decontamination: per-doc shingle-overlap fraction against
    // the benchmark slice, exact-integer threshold (≥ 1/5) — the
    // GPT-3-style contamination report behind q_t_decontam's any-hit
    "q_t_contam_frac" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminationStats(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "text", "doc_id", k = 3, fracNum = 1, fracDen = 5)
    }),

    // deterministic training-order shuffle: md5-sharded permutation,
    // portable hex arithmetic on both engines → full oracle on the
    // exact (shard, pos) assignment
    "q_t_shuffle" -> ((s, dir) =>
      graft.operators.DatasetSplit.deterministicShuffle(
        t(s, dir, "documents"), "doc_id", "ep0", nShards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))),

    // Gopher quality-rule battery: every rule an exact-integer
    // cross-product over the canonical tokenization → full oracle on
    // the whole per-doc report
    "q_t_gopher" -> ((s, dir) =>
      graft.operators.QualityRules.gopherReport(
        t(s, dir, "documents"), "text", "doc_id")),

    // span-level decontamination: an 11-token benchmark phrase planted
    // into every 10th corpus doc (and appended to every benchmark doc)
    // must be excised wherever it appears; natural 8-gram overlaps with
    // benchmark text are cut by the same rule on both engines
    "q_t_decontam_spans" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val phrase = " the committee will reconvene after the scheduled" +
        " maintenance window closes for review"
      val bench = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id"), concat(col("text"), lit(phrase)).as("text"))
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 0, concat(col("text"), lit(phrase)))
            .otherwise(col("text")).as("text"))
      Dedup.decontaminateSpans(corpus, bench, "text", "doc_id", n = 8)
    }),

    // within-doc line dedup: every line doubled by construction, so
    // the cleaned text is the first-occurrence subsequence — a pure
    // projection on both engines → full oracle
    "q_t_line_dedup_doc" -> ((s, dir) =>
      Dedup.dedupLinesWithinDoc(
        t(s, dir, "documents").select(col("doc_id"),
          concat(col("text"), lit("\n"), col("text")).as("text")),
        "text").select(col("doc_id"), col("text_clean"))),

    // α=1/2 temperature rebalance over the DATA lang column: exact
    // integer roots + the rebalanceRates integer formula + md5 rates
    // filter — the whole pipeline replays in SQL → full oracle
    "q_t_temp" -> ((s, dir) =>
      graft.operators.DatasetSplit.rebalanceTemperature(
        t(s, dir, "documents").select(col("doc_id"), col("text"),
          col("lang")),
        "text", "lang").select(col("doc_id"), col("lang"))),

    // third curation composition, this round's stages end-to-end:
    // Gopher rules (minus r_stop — synthetic text has no English stop
    // words) → α=1/2 temperature rebalance over lang → deterministic
    // epoch shuffle. Every stage is exact-integer/md5 arithmetic, so
    // the full composition oracles
    "q_pipe_curate3" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val passing = graft.operators.QualityRules.gopherFilter(
        docs, "text", "doc_id",
        rules = graft.operators.QualityRules.allRules
          .filterNot(_ == "r_stop"))
      val bal = graft.operators.DatasetSplit
        .rebalanceTemperature(passing, "text", "lang")
      graft.operators.DatasetSplit
        .deterministicShuffle(bal, "doc_id", "ep0", nShards = 4)
        .select(col("doc_id"), col("lang"), col("shard"), col("pos"))
    }),

    // curation composition v4: importance-resampled selection feeding
    // the deterministic split — the DSIR stage composed end-to-end
    // (select the target-like half, split it, account tokens per split)
    "q_pipe_curate4" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val kept = graft.operators.Dsir.selectAboveQuantile(
        graft.operators.Dsir.importanceWeights(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          "text", "doc_id"),
        q = 0.5, idCol = "doc_id")
      docs.join(kept.select(col("doc_id")), "doc_id")
        .select(graft.operators.DatasetSplit.splitLabel(col("text"))
          .as("split"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("nt"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt")).as("total_tokens"))
    }),

    // round-12 capstone composition: Aho–Corasick blocklist clean →
    // temperature mixture sampling at T=2 over the SURVIVORS (rates
    // derived post-filter and stash-interpolated into the oracle —
    // order matters and the oracle proves it) → per-language dataset
    // card. The three stages are each oracle-green alone; this gate
    // pins their composition, including that the mix rates see the
    // blocklist-filtered counts, not the raw corpus's
    "q_pipe_curate6" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          coalesce(col("text"), lit("")).as("text"))
      val clean = graft.operators.Blocklist
        .clean(base, "text", blocklistPatterns)
      val rates = graft.operators.DatasetSplit
        .temperatureMixRates(clean, "lang", temperature = 2.0)
      curate6Rates = Some(rates)
      graft.operators.DatasetSplit
        .temperatureMix(clean, "lang", col("text"), rates)
        .withColumn("nt",
          size(TextFunctions.tokens(col("text"))).cast("long"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    }),

    // leakage-safe curation close: near-dup families (the LSH stage's
    // output shape, closed-form chain decades here) → CC → family-
    // hashed split → per-split corpus stats. The report an operator
    // reads to confirm the split didn't starve val/test AND can't
    // leak a family across the boundary
    "q_pipe_curate5" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val pairs = docs.filter(col("doc_id") % 10 =!= 0)
        .select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"))
      val split = graft.operators.DatasetSplit.leakageSafeSplit(
        docs.select(col("doc_id")), "doc_id", pairs)
      docs.join(split.select(col("doc_id"), col("split")), "doc_id")
        .select(col("split"),
          graft.functions.NativeExpressions.textProfile(col("text"))
            .as("__p"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(expr("__p.quality_micros")).as("sum_quality_micros"),
          sum(expr("__p.n_tokens")).as("total_tokens"))
    }),

    // reciprocal-rank fusion of two retrievers (full-corpus exact +
    // half-corpus approx — the recall harness's pair): per-(list,
    // rank) micros contributions, int64 sums, id tie-breaks — the
    // hybrid-retrieval merge as exact arithmetic
    "q_v_rrf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val q = emb.filter(col("vec_id") < 16)
      graft.operators.Fusion.rrf(Seq(
        SimilaritySearch.bruteForceTopK(emb, q, k = 5),
        SimilaritySearch.bruteForceTopK(
          emb.filter(col("vec_id") % 2 === 0), q, k = 5)),
        topN = 5)
        .select(col("q_id"), col("fused_rank"), col("n_id"),
          col("rrf_micros"), col("n_lists"))
    }),

    // ANN evaluation harness: recall@5 of a half-corpus search vs the
    // full-corpus truth — a deterministic construction both engines
    // replay exactly (integer hit counts, no recall division)
    "q_v_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val q = emb.filter(col("vec_id") < 16)
      val exact = SimilaritySearch.bruteForceTopK(emb, q, k = 5)
      val approx = SimilaritySearch.bruteForceTopK(
        emb.filter(col("vec_id") % 2 === 0), q, k = 5)
      SimilaritySearch.recallAtK(exact, approx)
    }),

    // DLT priority sampling: a 100-doc token-weighted sample without
    // replacement — heavy documents are proportionally favored, the
    // selection is a fixed set (content-hash priorities, id
    // tie-breaks), and the plan is TakeOrderedAndProject: per-partition
    // heaps, only k rows cross the wire
    "q_t_priority_sample" -> ((s, dir) =>
      graft.operators.DatasetSplit.prioritySample(
        t(s, dir, "documents").select(col("doc_id"),
          size(TextFunctions.tokens(col("text"))).as("nt"))
          .filter(col("nt") >= 1),
        idCol = "doc_id", weightCol = "nt", k = 100, seed = "samp")),

    // one-pass column profiler over the documents table: exact
    // null/distinct/min/max per column from a single Aggregate (the
    // multi-count-distinct Expand plan), unpivoted with stack()
    "q_dq_profile" -> ((s, dir) =>
      graft.operators.DataQuality.profile(
        t(s, dir, "documents"),
        Seq("doc_id", "lang", "source", "n_chars"))),

    // inter-annotator agreement: Cohen's κ between the dataset's lang
    // label and the engine's own n-gram langid — two independent
    // annotation sources over every doc, κ as an exact int64 rational
    // (agree·N − S)/(N² − S) with ONE micros rounding; the oracle
    // replays the langid CASE and the identical arithmetic
    "q_dq_kappa" -> ((s, dir) =>
      graft.operators.DataQuality.cohenKappaMicros(
        t(s, dir, "documents")
          .select(col("lang"),
            graft.functions.NativeExpressions.textProfile(col("text"))
              .getField("lang_pred").as("pred")),
        col("lang"), col("pred"))),

    // token-distribution drift between snapshots (the ingestion
    // monitor): evens = reference, odds = current batch; per-type
    // add-1 smoothed KL contribution, micros-rounded PER TYPE (the
    // DSIR discipline — no float summation order reaches the
    // artifact; Σ kl_micros is the integer drift total downstream)
    "q_dq_vocab_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.DataQuality.vocabDriftMicros(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "text")
    }),

    // log2 token-length histogram (dataset-card sequence-length view):
    // the bucket is length(bin(nt)) = floor(log2 nt)+1 — EXACT integer
    // arithmetic, no libm log2 at bucket boundaries
    "q_t_len_hist" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(size(TextFunctions.tokens(col("text"))).as("nt"))
        .select(length(bin(col("nt").cast("long"))).as("len_bucket"),
          col("nt"))
        .groupBy(col("len_bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt").cast("long")).as("total_tokens"))),

    // stratified eval-set sampling: a fixed 25-doc uniform subset PER
    // LANGUAGE, keyed on a salted content hash (same determinism
    // contract as the split family). Rides the bounded top-k
    // aggregator — map-side k-item heaps, never a window sort over a
    // 5-key skewed partition (the low-cardinality-strata trap at
    // 100 TB). score = -hash ⇒ (hash asc, id asc) per stratum
    "q_t_strat_sample" -> ((s, dir) => {
      val scored = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          (-(conv(substring(md5(concat(lit("strat:"), col("text"))), 1, 8),
            16, 10).cast("long"))).cast("double").as("negh"))
      graft.operators.TopK.topKPerGroup(scored, 25, "lang", "doc_id",
        "negh")(s).select(col("lang"), col("rank"), col("doc_id"))
    }),

    // per-type winsorization: clamp event values to the [p05, p95]
    // band, thresholds snapped to integers (ceil(lo), floor(hi)) so
    // the output stays exact int64. The thresholds table is
    // group-cardinality-sized → BROADCAST join-back, no second shuffle
    // of the events. Exact percentile buffers per-group values — at
    // real scale the thresholds come from approx_percentile instead
    // (same clamp shape); the gate pins the exact form for the oracle
    "q_ev_winsor" -> ((s, dir) => {
      val ev = EventStream.loadEvents(s, s"$dir/events.parquet")
        .select(col("event_id"), col("event_type"),
          round(col("value") * 1000000).cast("long").as("vmic"))
      val th = ev.groupBy(col("event_type"))
        .agg(expr("percentile(vmic, 0.05)").as("lo"),
          expr("percentile(vmic, 0.95)").as("hi"))
      ev.join(broadcast(th), "event_type")
        .select(col("event_id"), col("event_type"),
          least(greatest(col("vmic"), ceil(col("lo"))),
            floor(col("hi"))).as("w_micros"))
    }),

    // pointwise mutual information over adjacent token bigrams — the
    // collocation-mining pass ("New York", "machine learning") of a
    // text pipeline. All counts are exact integers; the PMI ratio is
    // ONE double expression with identical association order on both
    // engines (each *, / is correctly rounded ⇒ bit-identical input to
    // ln), micros-rounded. Unigram/total tables are vocab-sized →
    // broadcast; the only data-sized shuffle is the bigram count
    "q_t_pmi" -> ((s, dir) => {
      val ta = TextFunctions.tokens(col("text"))
      val toks = t(s, dir, "documents").select(ta.as("ta"))
        .filter(size(col("ta")) >= 2)
      val bigAll = toks
        .select(slice(col("ta"), lit(1), size(col("ta")) - 1).as("a1"),
          slice(col("ta"), lit(2), size(col("ta")) - 1).as("b1"))
        .select(explode(arrays_zip(col("a1"), col("b1"))).as("p"))
        .select(col("p.a1").as("a"), col("p.b1").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
      val big = bigAll.filter(col("n_ab") >= 5)
      val uni = t(s, dir, "documents")
        .select(explode(ta).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n_tok"))
      // totals over the UNFILTERED corpus: p(ab) = n_ab/N_bigrams,
      // p(a) = n_a/N_tokens — the ≥5 support cut only bounds output
      val totals = bigAll.agg(sum(col("n_ab")).as("nbig")).crossJoin(
        uni.agg(sum(col("n_tok")).as("nuni")))
      big
        .join(broadcast(uni.withColumnRenamed("tok", "a")
          .withColumnRenamed("n_tok", "na")), "a")
        .join(broadcast(uni.withColumnRenamed("tok", "b")
          .withColumnRenamed("n_tok", "ncb")), "b")
        .crossJoin(broadcast(totals))
        .select(col("a"), col("b"), col("n_ab"),
          round(log((col("n_ab").cast("double") * col("nuni") * col("nuni"))
            / (col("nbig").cast("double") * col("na") * col("ncb")))
            * 1000000).cast("long").as("pmi_micros"))
        .orderBy(col("pmi_micros").desc, col("a"), col("b"))
        .limit(100)
    }),

    // per-type min-max feature normalization in exact integer micros:
    // (v - min)·1e6 div (max - min) over an unbounded partition window
    // — ONE shuffle on event_type, no join-back, engine-exact
    "q_ev_minmax_norm" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
      EventStream.loadEvents(s, s"$dir/events.parquet")
        .select(col("event_id"), col("event_type"),
          round(col("value") * 1000000).cast("long").as("vmic"))
        .withColumn("__lo", min(col("vmic")).over(w))
        .withColumn("__hi", max(col("vmic")).over(w))
        .withColumn("norm_micros",
          when(col("__hi") === col("__lo"), lit(0L))
            .otherwise(expr("((vmic - __lo) * 1000000L) div (__hi - __lo)")))
        .select(col("event_id"), col("event_type"), col("norm_micros"))
    }),

    // entity resolution, edit-distance arm: blocked candidate pairs
    // (ONE self-join on the typo-stable 3-char prefix — never
    // all-pairs) scored with Spark's codegen'd levenshtein. Exact
    // integer distances → full cross-engine oracle replaying the same
    // blocking join
    "q_e_lev_match" -> ((s, dir) => {
      val recs = messyNames(s, dir)
      val pairs = EntityResolution.candidatePairs(
        recs, "rec_id", Seq("name"),
        Seq(concat(substring(col("name"), 1, 3), lit("|"),
          col("city").cast("string"))))
      EntityResolution.levenshteinMatches(pairs, "name_a", "name_b", 2)
        .select(col("rec_id_a"), col("rec_id_b"),
          col("name_a"), col("name_b"), col("lev"))
    }),

    // entity resolution, Jaro–Winkler arm: same blocked pair stream,
    // scored by the native JW kernel. The oracle is DuckDB's
    // independent jaro_winkler_similarity — two implementations of
    // Winkler's exact variant agreeing in rounded micros on every
    // surviving pair
    "q_e_jw_match" -> ((s, dir) => {
      val recs = messyNames(s, dir)
      val pairs = EntityResolution.candidatePairs(
        recs, "rec_id", Seq("name"),
        Seq(concat(substring(col("name"), 1, 3), lit("|"),
          col("city").cast("string"))))
      EntityResolution.jaroWinklerMatches(pairs, "name_a", "name_b", 900000L)
        .select(col("rec_id_a"), col("rec_id_b"), col("jw_micros"))
    }),

    // interval coalescing (islands-and-gaps): each event opens a span
    // of (event_id%7 + 1) minutes; overlapping-or-touching spans per
    // user merge into activity islands. Linear window composition —
    // ONE shuffle, no self-join — and all-integer micros, so the
    // oracle replays the identical windows
    "q_ev_coalesce" -> ((s, dir) => {
      val spans = EventStream.loadEvents(s, s"$dir/events.parquet")
        .select(col("user_id"), unix_micros(col("ts")).as("s_us"),
          (unix_micros(col("ts")) +
            (col("event_id") % 7 + 1) * 60000000L).as("e_us"))
      graft.operators.Intervals.coalesceSpans(spans, "user_id", "s_us", "e_us")
    }),

    // total covered airtime per user — the coverage fold over the same
    // islands (overlaps counted once)
    "q_ev_coverage" -> ((s, dir) => {
      val spans = EventStream.loadEvents(s, s"$dir/events.parquet")
        .select(col("user_id"), unix_micros(col("ts")).as("s_us"),
          (unix_micros(col("ts")) +
            (col("event_id") % 7 + 1) * 60000000L).as("e_us"))
      graft.operators.Intervals.coverage(spans, "user_id", "s_us", "e_us")
    }),

    // robust outlier detection: median/MAD per event_type with the
    // doubled-integer trick — 2·median of longs is always an exact
    // integer (an element or a midpoint), so med2 = 2·median(v) and
    // mad4 = 2·median(|2v − med2|) = 4·MAD stay in int64 and the
    // k=3 sigma-equivalent cut |v−med| > 3·MAD becomes the pure
    // integer predicate 2·dev2 > 3·mad4. Two aggregations + two
    // broadcast join-backs; the big side is scanned twice, never
    // shuffled on a non-key
    "q_dq_mad" -> ((s, dir) => {
      val ev = EventStream.loadEvents(s, s"$dir/events.parquet")
        .select(col("event_type"),
          round(col("value") * 1000000).cast("long").as("v"))
      val med = ev.groupBy("event_type")
        .agg((percentile(col("v"), lit(0.5)) * 2).cast("long").as("med2"))
      val dev = ev.join(broadcast(med), "event_type")
        .withColumn("dev2", abs(col("v") * 2 - col("med2")))
      val mad = dev.groupBy("event_type")
        .agg((percentile(col("dev2"), lit(0.5)) * 2).cast("long").as("mad4"))
      dev.join(broadcast(mad), "event_type")
        .groupBy(col("event_type"))
        .agg(max(col("med2")).as("med2_micros"),
          max(col("mad4")).as("mad4_micros"),
          sum(when(col("dev2") * 2 > col("mad4") * 3, 1L).otherwise(0L))
            .as("n_outliers"))
    }),

    // time-decayed engagement score: weight = 1e6 >> age_days (halves
    // each day, integer-exact, zero past 20 days) — the freshness
    // prior of a crawl scheduler without any float pow drift
    "q_ev_decay" -> ((s, dir) => {
      val ev = EventStream.loadEvents(s, s"$dir/events.parquet")
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
      val mx = ev.agg(max(col("us")).as("mx"))
      ev.crossJoin(broadcast(mx))
        .withColumn("age", expr("(mx - us) div 86400000000"))
        .withColumn("w", when(col("age") >= 20, 0L)
          .otherwise(expr("1000000L div shiftleft(1L, cast(age as int))")))
        .groupBy("user_id")
        .agg(sum(col("w")).as("decay_micros"),
          count(lit(1)).as("n_events"))
    }),

    // planar radius self-join via grid blocking: md5-scrambled
    // coordinates (a multiplicative lattice has NO close pairs — the
    // hash placement is what makes the pair count realistic), cells
    // are radius-sized, and each within-radius pair is found exactly
    // once — 9× expansion + ONE equi-join, never a cross/theta join.
    // The plane side scales as 4000·⌊√n⌋ — ~1 point per radius-sized
    // cell at ANY corpus size (round-10: more data covers more
    // territory at constant density, which is the realistic growth
    // mode AND what lets ScaleGate hold a linear envelope over the
    // operator; a fixed plane makes true pair volume quadratic by
    // construction — the same synth defect the r9 ER family had)
    "q_g_spatial" -> ((s, dir) => {
      val ev = EventStream.loadEvents(s, s"$dir/events.parquet")
      val side = 4000L * math.max(4L,
        math.sqrt(ev.count().toDouble).toLong)
      def coord(tag: String) =
        conv(substring(md5(concat(lit(tag),
          col("event_id").cast("string"))), 1, 8), 16, 10)
          .cast("long") % side
      val pts = ev.select(col("event_id").as("id"),
        coord("gx:").as("x"), coord("gy:").as("y"))
      graft.operators.SpatialJoin.gridSelfJoin(pts, "id", "x", "y", 4000L)
    }),

    // k-anonymity generalization ladder over customer quasi-
    // identifiers: (nation, segment, $200-balance-bucket) → (nation,
    // segment, $2000-bucket) → (segment); each record reports the
    // first level whose group reaches k=5, or -1 (suppress). Balance
    // cents are shifted positive so truncating div ≡ floor //
    "q_p_kanon" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(
        col("c_custkey").as("rec_id"), col("c_nationkey").as("nat"),
        col("c_mktsegment").as("seg"),
        (round(col("c_acctbal") * 100).cast("long") + 100000L).as("cen"))
      graft.operators.Anonymize.kAnonymityLevels(c, Seq(
          Seq(col("nat"), col("seg"), expr("cen div 400000")),
          Seq(col("nat"), col("seg")),
          Seq(col("seg"))), k = 5L)
        .select(col("rec_id"), col("anon_level"))
    }),

    // l-diversity audit — k-anonymity's necessary complement (the
    // homogeneity attack: a big group that all shares one sensitive
    // value discloses it anyway). Quasi = (nation, segment), sensitive
    // = the account-balance band, COLLAPSED to one value for nat%5=0
    // (planted homogeneity, the planted-copies discipline: the
    // natural bands saturate at 6 for every group past sf0.01, so
    // without planting the failing verdict would never appear at
    // scale). One groupBy + count-distinct
    "q_p_ldiv" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(
        col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
        (round(col("c_acctbal") * 100).cast("long") + 100000L)
          .as("cen"))
      graft.operators.Anonymize.lDiversityGroups(c,
          Seq(col("nat"), col("seg")),
          when(col("nat") % 5 === 0, lit(0L))
            .otherwise(expr("cen div 200000")), l = 3L)
        .select(col("nat"), col("seg"), col("n_rows"),
          col("n_sensitive"), col("diverse"))
    }),

    // the ENTROPY form over the same construction: skew-aware —
    // distinct-l passes a 99%-one-value group, entropy requires the
    // mass to spread (H ≥ ln 3). Per-value micros rounding (the DSIR
    // discipline), exact integer sums and threshold compare
    "q_p_ldiv_ent" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(
        col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
        (round(col("c_acctbal") * 100).cast("long") + 100000L)
          .as("cen"))
        .select(col("nat"), col("seg"),
          when(col("nat") % 5 === 0, lit(0L))
            .otherwise(expr("cen div 200000")).as("band"))
      graft.operators.Anonymize.entropyLDiversityGroups(c,
        Seq("nat", "seg"), col("band"), l = 3L)
    }),

    // t-closeness over the same construction — the distribution-aware
    // complement: nat%4 groups band on a COARSER ladder ({0..2}, a
    // low-shifted subset of the corpus domain), so their sensitive
    // distribution diverges from the corpus-wide one and EMD flags
    // them even where distinct counts look fine. Exact integer
    // prefix-sum EMD (P_i = Σ n_gj·N − N_j·n_g), one truncating
    // division at the end — full SQL replay, no margin probe
    "q_p_tclose" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(
        col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
        (round(col("c_acctbal") * 100).cast("long") + 100000L)
          .as("cen"))
        .select(col("nat"), col("seg"),
          when(col("nat") % 4 === 0, expr("cen div 500000"))
            .otherwise(expr("cen div 200000")).as("band"))
      graft.operators.Anonymize.tClosenessGroups(c,
        Seq("nat", "seg"), col("band"), tMicros = 150000L)
    }),

    // the t-closeness RELEASE (row filter): the audit + one null-safe
    // semi join — 62 of 125 groups survive t=0.15 at sf0.01, so the
    // kept-rows relation discriminates at every sf
    "q_p_tclose_rel" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(
        col("c_custkey").as("cust"),
        col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
        (round(col("c_acctbal") * 100).cast("long") + 100000L)
          .as("cen"))
        .select(col("cust"), col("nat"), col("seg"),
          when(col("nat") % 4 === 0, expr("cen div 500000"))
            .otherwise(expr("cen div 200000")).as("band"))
      graft.operators.Anonymize.tCloseRelease(c,
        Seq("nat", "seg"), col("band"), tMicros = 150000L)
    }),

    // CATEGORICAL t-closeness (round-14 VERDICT #4): market segment
    // as the non-ordinal sensitive attribute over (nation, balance
    // band) quasi groups — equal-distance EMD = total-variation
    // distance, exact integer cross-products, one grid aggregation
    // with genuine-zero absent cells, no ordered-domain machinery.
    // The ordered-vs-categorical divergence (near vs far mass moves)
    // is pinned in AnonymizeSpec
    "q_p_tclose_cat" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(
        col("c_nationkey").as("nat"),
        expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) " +
          "div 300000").as("band"),
        col("c_mktsegment").as("seg"))
      graft.operators.Anonymize.tClosenessGroupsCat(c,
        Seq("nat", "band"), col("seg"), tMicros = 200000L)
    }),

    // per-node triangle participation: the q_g_pagerank 2-out-regular
    // maps alone are triangle-free at corpus sizes, so the graph adds
    // K4 community cliques (each node links +1 and +2 within its
    // 4-block — the "mutual citation ring" shape triangle counting
    // exists to flag) on top of the long-range 7i/13i edges.
    // Degree-ordered orientation bounds the wedge join on power-law
    // graphs; exact integer counts → the oracle replays the joins
    "q_g_triangles" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count() // bounded driver metadata, like q_g_pagerank
      val i = col("doc_id")
      val e = docs.select(i.as("src"), ((i * 7 + 3) % n).as("dst"))
        .union(docs.select(i.as("src"), ((i * 13 + 5) % n).as("dst")))
        .union(docs.select(i.as("src"),
          (expr("(doc_id div 4) * 4") + (i % 4 + 1) % 4).as("dst")))
        .union(docs.select(i.as("src"),
          (expr("(doc_id div 4) * 4") + (i % 4 + 2) % 4).as("dst")))
      graft.operators.LinkGraph.triangleCounts(e)
        .select(col("id").as("doc_id"), col("n_tri"))
    }),

    // market-basket co-occurrence: parts appearing in the same order
    // (the bipartite projection every recommender/co-click pipeline
    // computes). Context degree is capped BEFORE the self-join — the
    // hub-context quadratic guard; TPC-H orders hold ≤ 7 parts, so
    // the cap is inert here and the oracle replays it exactly
    "q_g_cooccur" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      graft.operators.LinkGraph.bipartiteProject(
        li, "l_orderkey", "l_partkey", maxDegree = 100L)
    }),

    // the published Jaccard-threshold PPJoin (proportional overlap,
    // prefix + length filters, both EXACT): high-similarity name
    // pairs at θ = 0.7. The oracle is the NAIVE all-pairs
    // formulation — the filters must be invisible in the result
    "q_e_jaccard_pairs" -> ((s, dir) => {
      val recs = messyNames(s, dir).select(col("rec_id"), col("name"))
      EntityResolution.trigramPairsJaccard(recs, "rec_id", "name",
        thetaMicros = 700000L)
    }),

    // DIRECTED containment at θ = 0.8 — the asymmetric relation
    // Jaccard misses (a short key fully inside a longer one): only
    // the LEFT side's prefix shrinks, the containing side indexes
    // all grams, positional/size filters asymmetrized exactly. The
    // oracle is the naive all-ordered-pairs formulation — every
    // filter must be invisible in the result
    "q_e_containment" -> ((s, dir) => {
      val recs = messyNames(s, dir).select(col("rec_id"), col("name"))
      EntityResolution.trigramPairsContainment(recs, "rec_id", "name",
        thetaMicros = 800000L)
    }),

    // the SAME directed relation under an ABSOLUTE maxDf stop-gram
    // cap — the declared 100 TB configuration (round-15 verdict: the
    // cap-free posting join explodes as per-gram df grows with the
    // corpus). Absolute, NOT the sibling's n/10: on a saturating gram
    // space a corpus-relative cap admits grams whose df grows with n,
    // so candidates stay quadratic (measured round-16: n/10 rode
    // 19.5x at 10x data — the quadratic band by ScaleGate's own
    // standard), while df <= C bounds candidates at C * postings =
    // O(corpus) no matter what the data does. The capped relation IS
    // containment over the capped gram sets — candidate generation
    // and verification both operate there, so the operator stays
    // exact against an oracle that folds the cap into the replay,
    // exactly as q_e_trigram_pairs folds its own
    "q_e_containment_capped" -> ((s, dir) => {
      val recs = messyNames(s, dir).select(col("rec_id"), col("name"))
      EntityResolution.trigramPairsContainment(recs, "rec_id", "name",
        thetaMicros = 800000L, maxDf = 64L)
    }),

    // entity resolution, set-similarity arm: trigram-posting pairs
    // over the composed name|city key — the blocking mechanism that
    // survives FIRST-character edits where the prefix blocker goes
    // blind. Stop-grams above df = n/10 drop (the Σ df² skew knob);
    // the oracle replays grams, cap and fold
    "q_e_trigram_pairs" -> ((s, dir) => {
      val recs = messyNames(s, dir)
        .select(col("rec_id"),
          concat(col("name"), lit("|"), col("city").cast("string"))
            .as("k"))
      val n = recs.count() // bounded driver metadata, like q_g_pagerank
      EntityResolution.trigramPairs(recs, "rec_id", "k",
        minCommon = 5, maxDf = n / 10)
    }),

    // seasonality grid: hour-of-day × day-of-week counts — computed
    // ARITHMETICALLY from epoch micros (1970-01-01 was a Thursday, so
    // dow = (epoch_day + 4) % 7 with Sunday = 0), never via calendar
    // functions whose week-start/locale conventions differ per engine
    "q_ev_seasonality" -> ((s, dir) =>
      EventStream.loadEvents(s, s"$dir/events.parquet")
        .select(
          (expr("unix_micros(ts) div 3600000000") % 24).as("hod"),
          ((expr("unix_micros(ts) div 86400000000") + 4) % 7).as("dow"))
        .groupBy(col("dow"), col("hod"))
        .agg(count(lit(1)).as("n"))),

    // per-user inter-event gap statistics: lag diffs over the
    // (ts, event_id) total order, exact doubled-median and max per
    // user — the burstiness profile of a behavioral stream
    "q_ev_gaps" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      EventStream.loadEvents(s, s"$dir/events.parquet")
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"))
        .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
        .filter(col("gap").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"),
          (percentile(col("gap"), lit(0.5)) * 2).cast("long")
            .as("med2_gap_us"),
          max(col("gap")).as("max_gap_us"))
    }),

    // per-class precision/recall counts for the language classifier —
    // tp/fp/fn as exact integers from one confusion pass (the caller
    // divides; a float ratio here would just lose the oracle)
    "q_ml_prf" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("lang"),
        graft.functions.NativeExpressions.textProfile(col("text"))
          .getField("lang_pred").as("pred"))
      d.groupBy(col("lang"))
        .agg(sum(when(col("pred") === col("lang"), 1L).otherwise(0L))
            .as("tp"),
          sum(when(col("pred") =!= col("lang"), 1L).otherwise(0L))
            .as("fn"))
        .join(
          d.groupBy(col("pred").as("lang"))
            .agg(count(lit(1)).as("n_pred")), Seq("lang"), "left")
        .select(col("lang"), col("tp"), col("fn"),
          (coalesce(col("n_pred"), lit(0L)) - col("tp")).as("fp"))
    }),

    // calibration bins: does a higher quality score really mean more
    // English? 10 fixed-width score bins × (n, n_pos) — the
    // reliability-diagram table, exact integers
    "q_ml_calibration" -> ((s, dir) =>
      t(s, dir, "documents").select(
          graft.functions.NativeExpressions.textProfile(col("text"))
            .getField("quality_micros").as("score"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
        .groupBy(least(expr("score div 100000"), lit(9L)).as("bin"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))),

    // top-3 TF-IDF keywords per document — the per-doc descriptor
    // pass; integer-micros scores make the (score desc, token) order
    // engine-exact
    "q_t_keywords" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf_micros").desc, col("token"))
      graft.operators.TfIdf.tfIdf(t(s, dir, "documents"), "text", "doc_id")
        .withColumn("rnk", row_number().over(w).cast("int"))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk"), col("token"),
          col("tfidf_micros"))
    }),

    // exact AUC as an integer U-statistic: does quality score rank
    // English docs above the rest? Grouped-by-score-value cumulative
    // formulation — U2 = Σ_s [2·np(s)·cumneg(<s) + np(s)·nn(s)]
    // (the np·nn term is the tie half-credit, doubled) — so the
    // global-order window runs over DISTINCT score values, never the
    // raw rows, and no float forms until the caller divides
    "q_ml_auc" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents").select(
        graft.functions.NativeExpressions.textProfile(col("text"))
          .getField("quality_micros").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      val g = d.groupBy(col("score"))
        .agg(sum(col("pos")).as("np"), sum(lit(1L) - col("pos")).as("nn"))
      val w = Window.orderBy(col("score"))
        .rowsBetween(Window.unboundedPreceding, -1)
      g.withColumn("cumneg", coalesce(sum(col("nn")).over(w), lit(0L)))
        .agg(sum(col("np") * col("cumneg") * 2 + col("np") * col("nn"))
            .as("u2"),
          sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"))
    }),

    // language-ID confusion matrix: predicted vs labeled language —
    // the classifier-eval table, one count pass
    "q_t_lang_conf" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"),
          graft.functions.NativeExpressions.textProfile(col("text"))
            .getField("lang_pred").as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))),

    // hourly rate-spike detection: flag (type, hour) cells whose count
    // beats 1.5× the type's median hourly rate — 4n > 3·med2 keeps the
    // whole comparison in integers (med2 = 2·median is always whole)
    "q_ev_spikes" -> ((s, dir) => {
      val hourly = EventStream.loadEvents(s, s"$dir/events.parquet")
        .select(col("event_type"),
          expr("unix_micros(ts) div 3600000000").as("hour"))
        .groupBy(col("event_type"), col("hour"))
        .agg(count(lit(1)).as("n"))
      val med = hourly.groupBy(col("event_type"))
        .agg((percentile(col("n"), lit(0.5)) * 2).cast("long").as("med2"))
      hourly.join(broadcast(med), "event_type")
        .filter(col("n") * 4 > col("med2") * 3)
        .select(col("event_type"), col("hour"), col("n"))
    }),

    // rolling 7-day active users: each (user, active-day) pair
    // CONTRIBUTES itself to the 7 window-end days it falls in
    // (map-side sequence-explode), then one distinct-count per day —
    // the scalable formulation of sliding-window distinct; the naive
    // one rescans a growing prefix per day
    "q_ev_wau" -> ((s, dir) => {
      val ud = EventStream.loadEvents(s, s"$dir/events.parquet")
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
      val mx = ud.agg(max(col("day")).as("mx"))
      ud.select(col("user_id"),
          explode(sequence(col("day"), col("day") + 6)).as("d"))
        .distinct()
        .crossJoin(broadcast(mx))
        .filter(col("d") <= col("mx"))
        .groupBy(col("d").as("day"))
        .agg(count(lit(1)).as("wau"))
    }),

    // per-source duplication report: the corpus-health table a crawl
    // operator reads daily — volume, distinct content, dup rate in
    // ppm, all exact integers in one pass per source
    "q_t_dup_by_source" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("text")).as("n_distinct"))
        .select(col("source"), col("n_docs"), col("n_distinct"),
          expr("((n_docs - n_distinct) * 1000000) div n_docs")
            .as("dup_ppm"))),

    // PII density report: emails/IPv4s/phones planted arithmetically
    // onto the (digit-free) corpus — doc_id%3 gets an email, %5 an IP,
    // %7 a phone — then counted per category (TextFunctions.piiCounts,
    // the report a scrub pass ships) and redacted through the existing
    // q_t_redact chain. The oracle replays the PLANT, not the regex:
    // detector vs ground truth. len_redacted pins the redaction
    // byte-exactly (each plant's appended length and placeholder
    // length are pure id arithmetic).
    "q_t_pii" -> ((s, dir) => {
      val planted = t(s, dir, "documents")
        .select(col("doc_id"), concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact bob"), col("doc_id").cast("string"),
              lit("@example.com"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" from 10.0."),
              (col("doc_id") % 256).cast("string"), lit("."),
              (col("doc_id") % 200).cast("string"))).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" call 555-123-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit(""))).as("text"))
      planted
        .select(col("doc_id"),
          graft.functions.TextFunctions.piiCounts(col("text")).as("__c"),
          length(graft.functions.TextFunctions.redactPii(col("text")))
            .as("len_redacted"))
        .select(col("doc_id"), col("__c.n_email").as("n_email"),
          col("__c.n_ip").as("n_ip"), col("__c.n_phone").as("n_phone"),
          col("len_redacted"))
    }),

    // keyframe (shot-boundary) detection: 12-frame videos with four
    // 3-frame scenes — within a scene frames are byte-identical
    // (hamming 0), across scenes the synth's distinct-seed dHashes
    // split far past the threshold (the same distinctness the
    // neardup gate's planted-overlap oracle already relies on), so
    // keyframes are exactly the scene starts {0, 3, 6, 9}
    "q_mm_keyframes" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id"))
        .repartition(32).as[Long]
        .map { id =>
          val cls = id % 62
          val seeds = (0 until 4).flatMap(j =>
            Seq.fill(3)((cls / 2) * 1000L + cls % 2 + j))
          Multimodal.MediaRow(id,
            Multimodal.AviCodec.synthMjpegSeeds(12, 10, seeds), "video/avi")
        }.toDF("media_id", "content", "format")
      Multimodal.keyframes(Multimodal.aviFrameHashes(media),
          minHamming = 8)
        .select(col("media_id").as("doc_id"), col("frame_idx"))
    }),

    // the production TWO-PHASE keyframe pipeline with frame-index
    // pushdown (round-14 VERDICT #8): phase 1 fingerprints every
    // frame (unavoidable — each frame compares to its predecessor),
    // phase 2 decodes ONLY the detected keyframes via framesAt —
    // the 8 non-keyframe JPEG payloads per video are skipped by
    // header arithmetic, never materialized (the corrupt-skip pin in
    // MultimodalSpec proves they are untouched). Output dims are
    // synth-deterministic, so the oracle replays the full relation
    "q_mm_keyframes_push" -> ((s, dir) => {
      import s.implicits._
      val mk = () => t(s, dir, "documents").select(col("doc_id"))
        .repartition(32).as[Long]
        .map { id =>
          val cls = id % 62
          val seeds = (0 until 4).flatMap(j =>
            Seq.fill(3)((cls / 2) * 1000L + cls % 2 + j))
          Multimodal.MediaRow(id,
            Multimodal.AviCodec.synthMjpegSeeds(12, 10, seeds), "video/avi")
        }.toDF("media_id", "content", "format")
      val keys = Multimodal.keyframes(
        Multimodal.aviFrameHashes(mk()), minHamming = 8)
      Multimodal.aviDecodeFramesAt(mk(), keys)
        .select(col("media_id").as("doc_id"), col("frame_idx"),
          col("width"), col("height"))
    }),

    // dedup-cluster size histogram — the shape report a dedup pass
    // ships with (how much of the corpus sits in how-big duplicate
    // families); two bounded aggregations over the CC labels
    "q_d_cluster_hist" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val pairs = docs.filter(col("doc_id") % 10 =!= 0)
        .select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"))
      // connectedComponents only labels nodes that appear in an edge;
      // a doc in NO pair (e.g. the tail chain-start when the corpus
      // size ≡ 1 mod 10) is still a size-1 cluster in the histogram —
      // anti-join it back in as its own component so the gate holds at
      // every corpus size
      val nodes = pairs.select(col("id_a").as("doc_id"))
        .union(pairs.select(col("id_b").as("doc_id")))
      val isolated = docs.join(nodes, Seq("doc_id"), "left_anti")
        .select(col("doc_id").as("id"), col("doc_id").as("component"))
      Dedup.connectedComponents(pairs).union(isolated)
        .groupBy(col("component")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
    }),

    // cumulative distinct-user growth curve: each user counts once on
    // their FIRST day; the running sum over days is the exact
    // cumulative-distinct series — no per-day distinct over growing
    // prefixes (that classic formulation rescans the whole history
    // per day)
    "q_ev_growth" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val first = EventStream.loadEvents(s, s"$dir/events.parquet")
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .groupBy(col("user_id")).agg(min(col("day")).as("d0"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      first.groupBy(col("d0").as("day"))
        .agg(count(lit(1)).as("n_new"))
        .withColumn("n_cum", sum(col("n_new")).over(w))
    }),

    // one-row dataset card (the datasheet a corpus ships with):
    // volume, exact-dup text count, token mass, language spread, mean
    // quality — ONE scan through the TextProfile kernel plus one
    // distinct-text count, all exact integers
    "q_pipe_card" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val prof = docs.select(col("text"), col("lang"),
          graft.functions.NativeExpressions.textProfile(col("text"))
            .as("__p"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__p.n_tokens")).as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("__p.quality_micros")).as("__qsum"))
      val distinctText = docs.select(countDistinct(col("text"))
        .as("n_distinct_text"))
      prof.crossJoin(distinctText)
        .select(col("n_docs"), col("n_distinct_text"), col("n_tokens"),
          col("n_langs"),
          expr("__qsum div n_docs").as("mean_quality_micros"))
    }),

    // dataset card v2 (per-SOURCE table — the datasheet an operator
    // actually reads): volume, distinct content + dup ppm, token mass,
    // language spread, mean quality, and a 4-bin quality histogram
    // (250k-micro buckets, top bucket closed) — ONE TextProfile scan +
    // one grouped distinct, all exact integers, one row per source
    "q_pipe_card2" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bin = least(expr("__p.quality_micros div 250000"), lit(3L))
      docs.select(col("source"), col("lang"), col("text"),
          graft.functions.NativeExpressions.textProfile(col("text"))
            .as("__p"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("text")).as("n_distinct"),
          sum(col("__p.n_tokens")).as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("__p.quality_micros")).as("__qsum"),
          count(when(bin === 0, 1)).as("q_h0"),
          count(when(bin === 1, 1)).as("q_h1"),
          count(when(bin === 2, 1)).as("q_h2"),
          count(when(bin === 3, 1)).as("q_h3"))
        .select(col("source"), col("n_docs"), col("n_distinct"),
          expr("((n_docs - n_distinct) * 1000000) div n_docs")
            .as("dup_ppm"),
          col("n_tokens"), col("n_langs"),
          expr("__qsum div n_docs").as("mean_quality_micros"),
          col("q_h0"), col("q_h1"), col("q_h2"), col("q_h3"))
    }),

    // MMR diverse selection: greedy k-round argmax of relevance minus
    // max-similarity-to-picked, all cosines micros-rounded BEFORE any
    // comparison so the greedy trajectory is engine-exact. Driver-side
    // loop over k=6 rounds, one corpus scan + TakeOrdered(1) each
    "q_v_mmr" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ref = emb.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).toIndexedSeq
      SimilaritySearch.mmrSelect(emb.filter(col("vec_id") =!= 0), ref, k = 6)
    }),

    // entity resolution end-to-end: blocked pairs → edit-distance
    // matches → connected components (the dedup family's CC, long-id
    // fast path or iterative) — every record labeled with its
    // entity-cluster representative (min id). The oracle propagates
    // min labels for 8 unrolled rounds — the match graph's measured
    // diameter is 3 at gate scale, so propagation has converged
    "q_e_resolve" -> ((s, dir) => {
      val recs = messyNames(s, dir)
      val pairs = EntityResolution.candidatePairs(
        recs, "rec_id", Seq("name"),
        Seq(concat(substring(col("name"), 1, 3), lit("|"),
          col("city").cast("string"))))
      val matches = EntityResolution
        .levenshteinMatches(pairs, "name_a", "name_b", 2)
        .select(col("rec_id_a").as("id_a"), col("rec_id_b").as("id_b"))
      Dedup.connectedComponents(matches)
    }),

    // Fellegi–Sunter probabilistic linkage scoring over the blocked
    // candidate pairs: three comparison fields (JW ≥ 0.92, equal
    // length, equal 4-prefix) with weights derived from m/u
    // probabilities ONCE on the driver (fsWeightsMicros) — the
    // per-pair score is pure integer addition, and the oracle gets
    // the identical weight literals interpolated into its SQL, so it
    // replays the scoring exactly (DuckDB's jaro_winkler_similarity
    // supplies the independent JW implementation, as in q_e_jw_match)
    "q_e_fs" -> ((s, dir) => {
      val recs = messyNames(s, dir)
      val pairs = EntityResolution.candidatePairs(
        recs, "rec_id", Seq("name"),
        Seq(concat(substring(col("name"), 1, 3), lit("|"),
          col("city").cast("string"))))
        .withColumn("jw_micros",
          round(graft.functions.NativeExpressions.jaroWinkler(
            col("name_a"), col("name_b")) * 1000000).cast("long"))
      EntityResolution.fellegiSunter(pairs, Seq(
          (col("jw_micros") >= 920000L, fsJw._1, fsJw._2),
          (length(col("name_a")) === length(col("name_b")),
            fsLen._1, fsLen._2),
          (substring(col("name_a"), 1, 4) ===
            substring(col("name_b"), 1, 4), fsPre._1, fsPre._2)),
          upperMicros = 2000000L, lowerMicros = 0L)
        .select(col("rec_id_a"), col("rec_id_b"), col("fs_micros"),
          col("fs_class"))
    }),

    // position-based (40/20/40) multi-touch attribution: every touch
    // belongs to the next purchase of its user; credit is all-integer
    // micros with the division remainder pinned to the last touch, so
    // Σ credit ≡ 1,000,000 per converted window on both engines. One
    // user shuffle + a co-partitioned window join — never a time-range
    // self-join. Reported per touch type
    "q_ev_attrib" -> ((s, dir) => {
      val ev = EventStream.loadEvents(s, s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"))
      graft.operators.Attribution.positionBased(ev, "user_id", "ts",
          "event_id", col("event_type") === "purchase")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_touches"),
          sum(col("credit_micros")).as("credit_micros"))
    }),

    // time-series resampling with gap fill: per-user hourly grid from
    // first to last activity, missing hours at 0, running cumulative —
    // the regularization pass before any sequence model. The grid
    // generates from per-user (min, max) spans (sequence + explode),
    // never from a calendar cross join
    "q_ev_resample" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = EventStream.loadEvents(s, s"$dir/events.parquet")
        .select(col("user_id"),
          expr("unix_micros(ts) div 3600000000").as("h"))
      val cnt = ev.groupBy(col("user_id"), col("h"))
        .agg(count(lit(1)).as("n"))
      val grid = cnt.groupBy(col("user_id"))
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"))).as("h"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, 0)
      grid.join(cnt, Seq("user_id", "h"), "left")
        .withColumn("n_events", coalesce(col("n"), lit(0L)))
        .withColumn("cum_events", sum(col("n_events")).over(w))
        .select(col("user_id"), col("h"), col("n_events"),
          col("cum_events"))
    }),

    // feature hashing (hashing-trick vectorization): token → one of
    // 128 buckets via the md5 hex32 polynomial (engine-replayable),
    // per-doc bucket counts — the fixed-width featurizer that needs
    // no vocabulary broadcast at any corpus size
    "q_ml_fhash" -> ((s, dir) => {
      val bucket = conv(substring(md5(concat(lit("fh:"), col("tok"))),
        1, 8), 16, 10).cast("long") % 128
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextFunctions.tokens(col("text"))).as("tok"))
        .select(col("doc_id"), bucket.as("bucket"))
        .groupBy(col("doc_id"), col("bucket"))
        .agg(count(lit(1)).as("n"))
    }),

    // leave-one-out target encoding: each order's category statistic
    // EXCLUDING itself — the leakage-free categorical encoder. Exact
    // integer numerator/denominator (cents); a singleton category
    // yields den = 0, which the consumer treats as "no signal"
    "q_ml_target_enc" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("cat"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority").as("cat"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .withColumn("loo_num", sum(col("cents")).over(w) - col("cents"))
        .withColumn("loo_den", count(lit(1)).over(w) - 1)
        .select(col("o_orderkey"), col("cat"), col("loo_num"),
          col("loo_den"))
    }),

    // two-sample distribution drift: early-vs-late halves of the event
    // stream, 10 equal-width value buckets from the GLOBAL range, and
    // the cross-multiplied per-bucket imbalance na·Nb − nb·Na — the
    // integer-exact drift screen (no float ratios, no log); values at
    // the global max clamp into the last bucket
    "q_dq_drift" -> ((s, dir) => {
      val ev = EventStream.loadEvents(s, s"$dir/events.parquet")
        .select(unix_micros(col("ts")).as("us"),
          round(col("value") * 1000000).cast("long").as("vmic"))
      val bounds = ev.agg(min(col("us")).as("t0"), max(col("us")).as("t1"),
        min(col("vmic")).as("lo"), max(col("vmic")).as("hi"))
      val bucketed = ev.crossJoin(broadcast(bounds))
        .select(
          least(expr("((vmic - lo) * 10) div (hi - lo + 1)"), lit(9L))
            .as("bucket"),
          (col("us") * 2 < col("t0") + col("t1")).as("early"))
      val agg = bucketed.groupBy(col("bucket"))
        .agg(sum(when(col("early"), 1L).otherwise(0L)).as("na"),
          sum(when(!col("early"), 1L).otherwise(0L)).as("nb"))
      val tots = agg.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
      agg.crossJoin(broadcast(tots))
        .select(col("bucket"), col("na"), col("nb"),
          (col("na") * col("tb") - col("nb") * col("ta")).as("imbalance"))
    }),

    // user-journey paths: each user's first 3 events (total-ordered by
    // ts, event_id) folded to a '>' path, counted across users — the
    // funnel-discovery query of product analytics. collect_list is
    // unordered by contract, so the fold sorts (rn, type) structs
    // before joining — deterministic on any partitioning
    "q_ev_paths" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      EventStream.loadEvents(s, s"$dir/events.parquet")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .groupBy(col("user_id"))
        .agg(concat_ws(">", transform(
          sort_array(collect_list(struct(col("rn"), col("event_type")))),
          x => x.getField("event_type"))).as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n_users"))
    }),

    // first-order Markov transitions between consecutive event types
    // per user — the sequence-model statistics pass. ONE shuffle
    // (user), lag window, then a small-cardinality count
    "q_ev_transitions" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      EventStream.loadEvents(s, s"$dir/events.parquet")
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("event_type").as("curr"))
        .agg(count(lit(1)).as("n"))
    }),

    // vocabulary coverage / OOV rate: top-500 corpus vocabulary
    // ((count desc, token) total order), then per-doc out-of-vocab
    // token counts via ONE broadcast join on the exploded tokens —
    // the tokenizer-fit metric of a training corpus
    "q_t_oov" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text")))
          .as("tok"))
      val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok")).limit(500)
        .select(col("tok"), lit(1).as("__in"))
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
    }),

    // exact CDF transform: per-type percent-rank in integer micros —
    // (rank-1)·1e6 div (n-1), ties share a rank, single-row types pin
    // to 0. The feature-calibration pass before quantile binning
    "q_ev_cdf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("vmic"))
      EventStream.loadEvents(s, s"$dir/events.parquet")
        .select(col("event_id"), col("event_type"),
          round(col("value") * 1000000).cast("long").as("vmic"))
        .withColumn("r", rank().over(w))
        .withColumn("n", count(lit(1))
          .over(Window.partitionBy(col("event_type"))))
        .select(col("event_id"), col("event_type"),
          when(col("n") === 1, 0L)
            .otherwise(expr("((r - 1) * 1000000L) div (n - 1)"))
            .as("cdf_micros"))
    }),

    // per-type least-squares trend over (age_days, value_millis) kept
    // as EXACT integer numerator/denominator — slope = num/den with
    // num = n·Σxy − Σx·Σy, den = n·Σx² − (Σx)² (int64-safe while
    // n·Σxy < 2⁶³: ~10⁶ rows/type at day-scale x and milli-scale y;
    // callers at larger scale coarsen y). No float ever forms, so the
    // oracle replays the sums verbatim
    "q_ev_trend" -> ((s, dir) => {
      val ev = EventStream.loadEvents(s, s"$dir/events.parquet")
        .select(col("event_type"), unix_micros(col("ts")).as("us"),
          round(col("value") * 1000).cast("long").as("y"))
      val mx = ev.agg(max(col("us")).as("mx"))
      ev.crossJoin(broadcast(mx))
        .withColumn("x", expr("(mx - us) div 86400000000"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("event_type"), col("n"),
          (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
          (col("n") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
    }),

    // Benford first-digit profile of order totals — the classic
    // fabricated-numbers screen. Expected shares are the 9 hardcoded
    // log10 constants in ppm (identical literals on both engines, no
    // transcendental evaluated at query time); deviation in ppm is
    // pure integer arithmetic
    "q_dq_benford" -> ((s, dir) => {
      val exp = typedLit(Map(1 -> 301030L, 2 -> 176091L, 3 -> 124939L,
        4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 57992L,
        8 -> 51153L, 9 -> 45757L))
      val d = t(s, dir, "orders")
        .select(substring(round(col("o_totalprice") * 100).cast("long")
          .cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val tot = d.agg(sum(col("n")).as("tot"))
      d.crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          expr("(n * 1000000) div tot").as("obs_ppm"),
          abs(expr("(n * 1000000) div tot") - element_at(exp, col("digit")))
            .as("dev_ppm"))
    }),

    // blocklist content filter: ALL patterns matched in one
    // Aho–Corasick pass per document (map-only, automaton ships inside
    // the plan — no join, no shuffle, one data pass regardless of
    // pattern count). Overlapping occurrences and nested patterns
    // ("table" inside "table table") all count; the oracle replays
    // per-position substr equality
    "q_t_blocklist" -> ((s, dir) => {
      Blocklist.tag(
        t(s, dir, "documents")
          .select(col("doc_id"), coalesce(col("text"), lit("")).as("text")),
        "text", blocklistPatterns)
        .select(col("doc_id"), col("n_hits"), col("n_patterns"))
    }),

    // ranking-eval metrics: NDCG@10 + MRR per user over the event
    // stream (rank by value desc, event_id tiebreak = total order;
    // graded relevance event_id%4). DCG terms rounded to micros THEN
    // integer-summed, NDCG as integer ppm division — engine-exact.
    // ONE shuffle on user_id; the ideal ranking reuses the same
    // partitioning
    "q_ml_ndcg" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      // materialized: both the DCG and ideal-DCG branches consume it,
      // and users×10 rows is tiny next to re-running the ranking
      // window over the full event stream twice
      val top = graft.operators.Materialize.viaScratch(
        EventStream.loadEvents(s, s"$dir/events.parquet")
          .select(col("user_id"), col("event_id"), col("value"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 10)
          .withColumn("rel", col("event_id") % 4),
        "graft_ndcg_top")
      val wi = Window.partitionBy(col("user_id")).orderBy(col("rel").desc)
      // ties among equal rel values are interchangeable: the term
      // depends only on (rel, position), so the sum is order-invariant
      val ideal = top
        .withColumn("irk", row_number().over(wi))
        .select(col("user_id"),
          round(col("rel") * 1000000.0 / log(2.0, col("irk") + 1))
            .cast("long").as("iterm"))
        .groupBy(col("user_id"))
        .agg(sum(col("iterm")).as("idcg_micros"))
      top
        .select(col("user_id"),
          round(col("rel") * 1000000.0 / log(2.0, col("rk") + 1))
            .cast("long").as("term"),
          when(col("rel") > 0, col("rk")).as("hit_rk"))
        .groupBy(col("user_id"))
        .agg(sum(col("term")).as("dcg_micros"),
          min(col("hit_rk")).as("first_hit"))
        .join(ideal, "user_id")
        .select(col("user_id"), col("dcg_micros"),
          when(col("idcg_micros") === 0, 0L)
            .otherwise(expr("(dcg_micros * 1000000) div idcg_micros"))
            .as("ndcg_ppm"),
          coalesce(expr("1000000 div first_hit"), lit(0L)).as("rr_micros"))
    }),

    // mutual-information feature selection (en vs rest, token-presence
    // features): the four contingency cells from TWO counting
    // aggregates, each cell's log rounded to micros then weighted by
    // its exact count — the feature-selection pass before classifier
    // training. Top-50 by MI, token tiebreak = total order
    "q_ml_mi" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("lang"),
        TextFunctions.tokens(coalesce(col("text"), lit(""))).as("ta"))
      val counts = docs
        .select(col("lang"), explode(array_distinct(col("ta"))).as("token"))
        .groupBy(col("token"))
        .agg(count(when(col("lang") === "en", 1)).as("n11"),
          count(when(col("lang") =!= "en", 1)).as("n10"))
      val totals = docs.agg(count(lit(1)).as("nn"),
        count(when(col("lang") === "en", 1)).as("n_en"))
      def cell(c: Column, rowTot: Column, colTot: Column, n: Column) =
        when(c > 0, c * round(
          log((c.cast("double") * n) / (rowTot.cast("double") * colTot))
            * 1000000).cast("long")).otherwise(lit(0L))
      counts.crossJoin(broadcast(totals))
        .select(col("token"), col("n11"), col("n10"),
          (cell(col("n11"), col("n11") + col("n10"), col("n_en"), col("nn"))
            + cell(col("n10"), col("n11") + col("n10"),
              col("nn") - col("n_en"), col("nn"))
            + cell(col("n_en") - col("n11"),
              col("nn") - col("n11") - col("n10"), col("n_en"), col("nn"))
            + cell(col("nn") - col("n_en") - col("n10"),
              col("nn") - col("n11") - col("n10"),
              col("nn") - col("n_en"), col("nn"))).as("mi_score"))
        .orderBy(col("mi_score").desc, col("token"))
        .limit(50)
    }),

    // naive-Bayes language classifier, TRAINING: add-one-smoothed
    // per-(lang, token) log-likelihood weights in micros — classifier
    // training as pure counting aggregates (the fastText-class
    // baseline), so the oracle replays it exactly
    "q_ml_nb_train" -> ((s, dir) => {
      NaiveBayes.train(nbDocs(s, dir), col("ta"), col("lang"))._1
        .select(col("label").as("lang"), col("token"), col("c_tl"),
          col("w_micros"))
    }),

    // naive-Bayes INFERENCE over the training corpus: per doc,
    // argmax over langs of prior + Σ token weights (unseen tokens get
    // the lang's smoothed floor). Integer-micro sums → deterministic
    // argmax (score desc, lang asc tiebreak). Train/apply quality
    // classifiers entirely in counting + one join — no driver loop
    "q_ml_nb_score" -> ((s, dir) => {
      val docs = nbDocs(s, dir)
      val (weights, labelStats) = NaiveBayes.train(docs, col("ta"),
        col("lang"))
      NaiveBayes.score(docs, "doc_id", col("ta"), weights, labelStats)
        .select(col("doc_id"), col("pred_label").as("pred_lang"),
          col("score_micros"))
    }),

    // ── S32: binary-blob lake ingestion — the multimodal 100 TB
    // shape: one file per asset on the object store, read back through
    // Spark's binaryFile source (path / length / content columns,
    // distributed file listing + partitioned reads), identity carried
    // by the asset FILENAME, content integrity by md5. Blobs are
    // written executor-side (foreachPartition — producers write the
    // lake, never the driver); the gate caps the asset count at 2000
    // because the surface under test is the source path, not
    // small-file throughput (a real lake batches small assets into
    // archives long before 100 TB). Oracle: byte length + md5
    // recomputed from the source table — the round trip must preserve
    // every byte
    "q_s32_binary_ingest" -> ((s, dir) => {
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_bing_q_${graft.engine.Scratch.runToken}"
      val p = new org.apache.hadoop.fs.Path(scratch)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
      fs.mkdirs(p)
      t(s, dir, "documents").filter(col("doc_id") < 2000)
        .select(col("doc_id"), col("text"))
        .repartition(8)
        .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          val conf = new org.apache.hadoop.conf.Configuration()
          val dirPath = new org.apache.hadoop.fs.Path(scratch)
          val pfs = dirPath.getFileSystem(conf)
          rows.foreach { r =>
            val out = pfs.create(new org.apache.hadoop.fs.Path(dirPath,
              f"doc_${r.getLong(0)}%08d.txt"), true)
            try out.write(r.getString(1)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
            finally out.close()
          }
        }
      s.read.format("binaryFile").option("pathGlobFilter", "*.txt")
        .load(scratch)
        .select(
          regexp_extract(col("path"), raw"doc_(\d+)\.txt$$", 1)
            .cast("long").as("doc_id"),
          col("length").as("byte_len"),
          md5(col("content")).as("content_md5"))
    }),

    // the deployment-shape twin of q_t_blocklist: PLAIN SQL through
    // the graft_blocklist_counts registry function (zero Scala calls)
    // — proves a spark.sql.extensions-configured session gets the
    // one-pass AC filter from SQL alone. Shares q_t_blocklist's oracle
    "q_s28_sql_blocklist" -> ((s, dir) => {
      val pats = blocklistPatterns.map(p => s"'$p'").mkString(", ")
      s.sql(
        s"""SELECT doc_id,
           |  element_at(graft_blocklist_counts(coalesce(text, ''),
           |    $pats), 1) AS n_hits,
           |  element_at(graft_blocklist_counts(coalesce(text, ''),
           |    $pats), 2) AS n_patterns
           |FROM parquet.`$dir/documents.parquet`""".stripMargin)
    }),

    // ── S29: pure-SQL near-dup through the LSH kernels (round-11
    //    VERDICT #8 — the q_s28 deployment-shape proof extended to the
    //    dedup surface): an extensions-configured session runs banded
    //    MinHash candidate generation + exact-Jaccard verification
    //    with ZERO Scala calls — graft_minhash buckets (8 bands × 4
    //    values, array-valued join keys), DISTINCT pair dedup, and a
    //    graft_jaccard = 1.0 confirm. The oracle never sees the
    //    engine-specific hashes: identical shingle SETS ⟺ identical
    //    signatures ⟺ same bucket in EVERY band (seed-independent),
    //    so banding recall for jaccard-1.0 pairs is exactly 1 and the
    //    oracle replays the SEMANTIC result — pairs with equal sorted
    //    distinct string-shingle lists — in DuckDB list arithmetic.
    //    Planted copies (doc_id + 1e6, same text) make the pair list
    //    deterministically nonempty; natural exact-dups surface too,
    //    identically on both sides ───────────────────────────────────
    "q_s29_sql_neardup" -> ((s, dir) => s.sql(
      s"""WITH c AS (
         |  SELECT doc_id, coalesce(text, '') AS text
         |  FROM parquet.`$dir/documents.parquet`
         |  UNION ALL
         |  SELECT doc_id + 1000000, coalesce(text, '')
         |  FROM parquet.`$dir/documents.parquet`),
         |s AS (
         |  SELECT doc_id, graft_minhash(text) AS sig,
         |    graft_shingle_set(text) AS sh
         |  FROM c WHERE length(trim(text)) > 0),
         |bd AS (
         |  SELECT doc_id, b, slice(sig, b * 4 + 1, 4) AS bucket
         |  FROM s LATERAL VIEW explode(sequence(0, 7)) t AS b),
         |p AS (
         |  SELECT DISTINCT a.doc_id AS id_a, bb.doc_id AS id_b
         |  FROM bd a JOIN bd bb
         |  ON a.b = bb.b AND a.bucket = bb.bucket
         |    AND a.doc_id < bb.doc_id)
         |SELECT p.id_a, p.id_b
         |FROM p JOIN s sa ON sa.doc_id = p.id_a
         |  JOIN s sb ON sb.doc_id = p.id_b
         |WHERE graft_jaccard(sa.sh, sb.sh) = 1.0""".stripMargin)),

    // ── S30: pure-SQL binary-quantized ANN (the q_s29 deployment-
    //    shape proof extended to the VECTOR surface): sign-pack,
    //    popcount-hamming shortlist, exact-cosine rescore — all
    //    through registered kernels with ZERO Scala. The plain-SQL
    //    expression uses window ranks (the natural SQL shape; the
    //    Scala operator binTopK is the bounded-aggregator scale
    //    path); shares q_v_topk_bin's full-replay oracle ────────────
    "q_s30_sql_ann" -> ((s, dir) => s.sql(
      s"""WITH e AS (SELECT vec_id, embedding,
         |  graft_signpack(embedding) AS b
         |  FROM parquet.`$dir/embeddings.parquet`),
         |q AS (SELECT vec_id AS q_id, embedding AS q_vec, b AS qb
         |  FROM e WHERE vec_id < 16),
         |h AS (SELECT q.q_id, c.vec_id AS n_id, q.q_vec,
         |  c.embedding AS n_vec, graft_hamming(c.b, q.qb) AS ham
         |  FROM e c, q WHERE c.vec_id <> q.q_id),
         |s AS (SELECT q_id, n_id, q_vec, n_vec, row_number() OVER
         |  (PARTITION BY q_id ORDER BY ham ASC, n_id ASC) AS srk
         |  FROM h),
         |sc AS (SELECT q_id, n_id, graft_cosine(q_vec, n_vec) AS cos
         |  FROM s WHERE srk <= 64)
         |SELECT q_id, CAST(rnk AS INT) AS rank, n_id,
         |  round(cos, 6) AS cosine FROM (
         |  SELECT q_id, n_id, cos, row_number() OVER
         |    (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rnk
         |  FROM sc)
         |WHERE rnk <= 5""".stripMargin)),

    // ── S31: the drop LEDGER as PURE SQL (the q_s28/s29/s30
    //    deployment-shape family extended to the curation surface):
    //    an extensions-configured session reproduces q_pipe_ledger —
    //    boilerplate clean (plain regexp_replace chain, entity order
    //    = TextFunctions.entityDecodes), quality + language from the
    //    graft_text_profile registry kernel, GROUP-BY dedup keeper,
    //    graft_shingle_set decontamination, md5-bucket mixing and
    //    split — with ZERO Scala calls. Shares q_pipe_ledger's
    //    oracle. ─────────────────────────────────────────────────────
    "q_s31_sql_ledger" -> ((s, dir) => s.sql(
      s"""WITH c AS (SELECT doc_id,
         |  trim(regexp_replace(regexp_replace(regexp_replace(
         |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |    text,
         |    '<[^>]*>', ' '),
         |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
         |    '&quot;', '"'), '&amp;', '&'),
         |    '\\\\s+', ' ')) AS text
         |  FROM parquet.`$dir/documents.parquet`),
         |p AS (SELECT doc_id, text, graft_text_profile(text) AS pr FROM c),
         |q AS (SELECT doc_id, text FROM p WHERE pr.quality_micros >= 400000),
         |k AS (SELECT text, min(doc_id) AS keeper FROM q GROUP BY text),
         |corp AS (SELECT q.doc_id, q.text FROM q JOIN k ON q.text = k.text
         |         WHERE q.doc_id = k.keeper AND q.doc_id % 97 <> 0),
         |bsh AS (SELECT DISTINCT sh FROM
         |  (SELECT explode(graft_shingle_set(text)) AS sh FROM c
         |   WHERE doc_id % 97 = 0)),
         |csh AS (SELECT DISTINCT doc_id, sh FROM
         |  (SELECT doc_id, explode(graft_shingle_set(text)) AS sh FROM corp)),
         |bad AS (SELECT DISTINCT doc_id FROM csh JOIN bsh USING (sh))
         |SELECT p.doc_id,
         |  CASE WHEN p.pr.quality_micros IS NULL
         |         OR p.pr.quality_micros < 400000 THEN 'low_quality'
         |    WHEN p.doc_id <> k.keeper THEN 'dup_loser'
         |    WHEN p.doc_id % 97 = 0 THEN 'benchmark_heldout'
         |    WHEN bad.doc_id IS NOT NULL THEN 'contaminated'
         |    WHEN CAST(conv(substring(md5(concat('mix:', p.text)), 1, 2),
         |        16, 10) AS INT) >=
         |      CASE WHEN p.pr.lang_pred = 'en' THEN 192
         |           WHEN p.pr.lang_pred = 'und' THEN 64 ELSE 128 END
         |      THEN 'mix_sampled_out'
         |    ELSE concat('kept_', CASE
         |      WHEN CAST(conv(substring(md5(p.text), 1, 2), 16, 10)
         |        AS INT) < 205 THEN 'train'
         |      WHEN CAST(conv(substring(md5(p.text), 1, 2), 16, 10)
         |        AS INT) < 230 THEN 'val'
         |      ELSE 'test' END)
         |  END AS outcome
         |FROM p LEFT JOIN k ON p.text = k.text
         |  LEFT JOIN bad ON p.doc_id = bad.doc_id""".stripMargin)),

    // ── S33: sequence packing as PLAIN SQL — the s28/s29/s30/s31
    //    deployment-shape family extended to the training-batch
    //    assembler: token counts through the graft_text_profile
    //    registry kernel, the content-hash bucket and the running
    //    offset in vanilla SQL (one window sum per bucket, never a
    //    global sort). Shares q_t_pack's algorithm and oracle ────────
    "q_s33_sql_pack" -> ((s, dir) => s.sql(
      s"""WITH b AS (SELECT doc_id,
         |    CAST(conv(substring(md5(text), 1, 2), 16, 10) AS INT)
         |      AS bucket,
         |    CAST(graft_text_profile(text).n_tokens AS BIGINT)
         |      AS n_tokens
         |  FROM parquet.`$dir/documents.parquet`),
         |o AS (SELECT doc_id, bucket, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) - n_tokens AS start_offset
         |  FROM b)
         |SELECT doc_id, bucket, n_tokens, start_offset,
         |  start_offset div 1024 AS seq_id FROM o""".stripMargin)),

    // semantic packing as PURE SQL (the s28–s33 deployment-shape
    // family): the offline k-means centroids arrive as literal arrays
    // (exactly how a SQL-only consumer receives a trained router),
    // and the whole pipeline — micros quantization, k integer dot
    // products, argmax, per-cluster centrality window — is vanilla
    // Spark SQL over the path tables. Shares q_t_pack_sem's stashed
    // oracle; the stash is set here too (training is deterministic)
    // so the gate stands alone
    "q_s34_sql_pack_sem" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = Ivf.train(emb, k = 4, iters = 2)
      val cm = model.centroids.map(_.map(x => math.round(x * 1000000.0)))
      semPackCentroids = Some(cm)
      val ips = cm.map { c =>
        val arr = c.mkString("array(", "L, ", "L)")
        s"aggregate(zip_with(qm, $arr, (x, w) -> x * w), 0L, " +
          "(acc, x) -> acc + x)"
      }.mkString("array(", ", ", ")")
      s.sql(
        s"""WITH q AS (SELECT vec_id AS doc_id,
           |    transform(embedding,
           |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
           |      AS qm
           |  FROM parquet.`$dir/embeddings.parquet`),
           |a AS (SELECT doc_id, $ips AS ips FROM q),
           |c AS (SELECT doc_id,
           |    CAST(array_position(ips, array_max(ips)) - 1 AS INT)
           |      AS cluster,
           |    array_max(ips) AS ip_micros FROM a),
           |tok AS (SELECT doc_id,
           |    CAST(graft_text_profile(coalesce(text, '')).n_tokens
           |      AS BIGINT) AS n_tokens
           |  FROM parquet.`$dir/documents.parquet`),
           |o AS (SELECT c.doc_id, cluster, ip_micros, n_tokens,
           |    sum(n_tokens) OVER (PARTITION BY cluster
           |      ORDER BY ip_micros DESC, c.doc_id ASC
           |      ROWS UNBOUNDED PRECEDING) - n_tokens AS start_offset
           |  FROM c JOIN tok ON c.doc_id = tok.doc_id)
           |SELECT doc_id, cluster, ip_micros, n_tokens, start_offset,
           |  start_offset div 1024 AS seq_id FROM o""".stripMargin)
    }),

    // preference-data QA (the RLHF/DPO assembly stage): synthetic
    // annotation stream — one vote per document via modular maps
    // (prompt d%50, responses d%7 vs (3d+1)%7 — self-pairs at
    // d≡3 mod 7 exercise the malformed-drop, rater d%5). The
    // preference derives from the (prompt, pair, rater) KEY so a
    // rater's repeated submissions of a pair agree (they must
    // collapse, not cancel — a raw-d preference degenerates to an
    // empty result once every key repeats), with a rare d%97 flip
    // manufacturing REAL contradictions that exercise the
    // self-cancel path at every scale. → canonical orientation →
    // per-rater hygiene → majority resolution with exact-integer
    // margin. Full SQL oracle, stage for stage
    "q_pref_resolve" -> ((s, dir) => {
      val ann = t(s, dir, "documents").select(
        (col("doc_id") % 50).as("prompt_id"),
        (col("doc_id") % 7).as("resp_a"),
        ((col("doc_id") * 3 + 1) % 7).as("resp_b"),
        // rater decouples from prompt via div (d%5 would be a pure
        // function of d%50 — one rater per pair, no majorities); the
        // preference is keyed on (prompt, pair, rater) + the rare flip
        (expr("(doc_id % 50 + (doc_id % 7) * 2 + " +
          "((doc_id div 50) % 5) * 3) % 5 < 3") =!=
          (col("doc_id") % 97 === 0)).as("prefer_a"),
        expr("(doc_id div 50) % 5").as("rater_id"))
      graft.operators.Preference.resolveAnnotations(ann, "prompt_id",
        "resp_a", "resp_b", "prefer_a", "rater_id")
    }),

    // Bradley-Terry strengths over the same resolved votes: 3 MM
    // rounds in exact integer micros (one truncating division per
    // pair term, ghost-regularized), so the whole fit — not a
    // convergence point — replays in SQL with the rounds unrolled
    // (the HITS/LogReg discipline)
    "q_pref_bt" -> ((s, dir) => {
      val ann = t(s, dir, "documents").select(
        (col("doc_id") % 50).as("prompt_id"),
        (col("doc_id") % 7).as("resp_a"),
        ((col("doc_id") * 3 + 1) % 7).as("resp_b"),
        (expr("(doc_id % 50 + (doc_id % 7) * 2 + " +
          "((doc_id div 50) % 5) * 3) % 5 < 3") =!=
          (col("doc_id") % 97 === 0)).as("prefer_a"),
        expr("(doc_id div 50) % 5").as("rater_id"))
      graft.operators.Preference.bradleyTerry(
        graft.operators.Preference.resolveAnnotations(ann, "prompt_id",
          "resp_a", "resp_b", "prefer_a", "rater_id"),
        "prompt_id", rounds = 3)
    }),

    // DPO-pair minting on top of the BT fit: strongest-vs-weakest per
    // prompt with symmetric total-order tie-breaks, margin threshold
    // at the measured per-prompt spread median (722k at sf0.01) so
    // both keep and drop paths stay exercised at every sf. Oracle:
    // the BT chain + two rank-1 window picks
    "q_pref_dpo" -> ((s, dir) => {
      val ann = t(s, dir, "documents").select(
        (col("doc_id") % 50).as("prompt_id"),
        (col("doc_id") % 7).as("resp_a"),
        ((col("doc_id") * 3 + 1) % 7).as("resp_b"),
        (expr("(doc_id % 50 + (doc_id % 7) * 2 + " +
          "((doc_id div 50) % 5) * 3) % 5 < 3") =!=
          (col("doc_id") % 97 === 0)).as("prefer_a"),
        expr("(doc_id div 50) % 5").as("rater_id"))
      graft.operators.Preference.dpoPairs(
        graft.operators.Preference.bradleyTerry(
          graft.operators.Preference.resolveAnnotations(ann,
            "prompt_id", "resp_a", "resp_b", "prefer_a", "rater_id"),
          "prompt_id", rounds = 3),
        "prompt_id", minMarginMicros = 700000L)
    }),

    // ALL-pairs DPO minting (round-14 VERDICT #5): same BT chain,
    // every pair above a LOWER margin, capped at the 4 widest per
    // prompt with n_pairs_total carrying the exact dropped-pair
    // accounting — the maxBucketSize discipline on the n² pair space
    "q_pref_dpo_all" -> ((s, dir) => {
      val ann = t(s, dir, "documents").select(
        (col("doc_id") % 50).as("prompt_id"),
        (col("doc_id") % 7).as("resp_a"),
        ((col("doc_id") * 3 + 1) % 7).as("resp_b"),
        (expr("(doc_id % 50 + (doc_id % 7) * 2 + " +
          "((doc_id div 50) % 5) * 3) % 5 < 3") =!=
          (col("doc_id") % 97 === 0)).as("prefer_a"),
        expr("(doc_id div 50) % 5").as("rater_id"))
      graft.operators.Preference.dpoPairsAll(
        graft.operators.Preference.bradleyTerry(
          graft.operators.Preference.resolveAnnotations(ann,
            "prompt_id", "resp_a", "resp_b", "prefer_a", "rater_id"),
          "prompt_id", rounds = 3),
        "prompt_id", minMarginMicros = 300000L, maxPairsPerPrompt = 4)
    }),

    // group-relative advantage (GRPO family, mean-only per the
    // Dr. GRPO correction): exact centered numerator with NO
    // division + sign-split truncating micros — the one negative-
    // numerator division in the repo, replayed with an explicit CASE
    "q_pref_grpo" -> ((s, dir) => {
      val samples = t(s, dir, "documents").select(
        expr("doc_id div 8").as("prompt_id"),
        col("doc_id").as("resp_id"),
        ((col("doc_id") * 37) % 101).as("reward"))
      graft.operators.Preference.groupAdvantage(samples,
        "prompt_id", "resp_id", "reward")
    }),

    // reward-model calibration (reliability diagram rows): synthetic
    // scores whose outcome probability tracks the score — bins where
    // the model is honest read small gaps, the ECE is one aggregation
    // over the relation
    "q_pref_calib" -> ((s, dir) => {
      val preds = t(s, dir, "documents").select(
        (((col("doc_id") * 37) % 101) * 10000L).as("pred_micros"),
        (((col("doc_id") * 53 + 11) % 100) <
          ((col("doc_id") * 37) % 101)).as("outcome"))
      graft.operators.Preference.calibrationBins(preds,
        "pred_micros", "outcome", nBins = 10)
    }),

    // RLVR pass-rate curriculum window: prompts whose sampled
    // completions all fail or all pass carry no gradient — drop
    // them, keep the mixed middle with the group meters attached
    "q_pref_passrate" -> ((s, dir) => {
      // reward = id^2 mod 101: the stride-37 walk's three-distance
      // regularity keeps every 8-window at 2-4 passes (the filter
      // would be inert at every scale); the quadratic synth spreads
      // pass counts over 0..8 so both window edges genuinely fire
      val samples = t(s, dir, "documents").select(
        expr("doc_id div 8").as("prompt_id"),
        col("doc_id").as("resp_id"),
        ((col("doc_id") * col("doc_id")) % 101).as("reward"))
      graft.operators.Preference.passRateFilter(samples,
        "prompt_id", "resp_id", "reward", passReward = 60L,
        loMicros = 200000L, hiMicros = 800000L)
    }),

    // SFT conversation-thread assembly QA: 16-message threads
    // synthesized from documents (conv = d div 16 so the thread COUNT
    // scales with the corpus and fixed-modulus corruptions hit a
    // fixed FRACTION of threads at every sf — a fixed conv count
    // degenerates to all-corrupt as the corpus grows). d%97 shifts a
    // turn down (duplicate + implicit gap), d%211 flips a role,
    // d%139 blanks a message; roles derive from the ORIGINAL turn
    // parity so a shifted turn also misaligns. One groupBy; full SQL
    // oracle stage for stage
    "q_sft_threads" -> ((s, dir) => {
      val m = t(s, dir, "documents").select(
        expr("doc_id div 16").as("conv_id"),
        when(col("doc_id") % 97 === 0 && col("doc_id") % 16 > 0,
          col("doc_id") % 16 - 1).otherwise(col("doc_id") % 16)
          .as("turn"),
        when((col("doc_id") % 16 % 2 === 0) =!=
            (col("doc_id") % 211 === 0), lit("user"))
          .otherwise(lit("assistant")).as("role"),
        when(col("doc_id") % 139 === 0, lit(""))
          .otherwise(coalesce(col("text"), lit(""))).as("text"))
      graft.operators.Conversations.assemble(m, "conv_id", "turn",
        "role", "text")
    }),

    // STREAMING thread assembly: the same message synth fed as two
    // epochs (even doc_ids, then odd) through the thread-QA changelog
    // stream — a thread's verdict re-validates as turns arrive (the
    // gap-closing odd turns flip turn_gap→ok or →role_break), status
    // transitions are the emitted rows, full-tuple message dedup
    // makes epoch replay idempotent. The latest-wins view over the
    // changelog is bit-identical to the batch assembler over the
    // whole feed ⇒ shares q_sft_threads' oracle
    "q_sft_stream" -> ((s, dir) => {
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_ssft_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      val (feed, out, ckpt) = (s"$scratch/feed", s"$scratch/out",
        s"$scratch/ckpt")
      val m = t(s, dir, "documents").select(
        expr("doc_id div 16").as("conv_id"),
        when(col("doc_id") % 97 === 0 && col("doc_id") % 16 > 0,
          col("doc_id") % 16 - 1).otherwise(col("doc_id") % 16)
          .as("turn"),
        when((col("doc_id") % 16 % 2 === 0) =!=
            (col("doc_id") % 211 === 0), lit("user"))
          .otherwise(lit("assistant")).as("role"),
        when(col("doc_id") % 139 === 0, lit(""))
          .otherwise(coalesce(col("text"), lit(""))).as("text"),
        col("doc_id"))
      m.filter(col("doc_id") % 2 === 0).drop("doc_id")
        .coalesce(1).write.mode("append").parquet(feed)
      graft.streaming.StreamingConversations.assembleStream(
        s, feed, out, ckpt)
      m.filter(col("doc_id") % 2 === 1).drop("doc_id")
        .coalesce(1).write.mode("append").parquet(feed)
      val changelog = graft.streaming.StreamingConversations
        .assembleStream(s, feed, out, ckpt)
      graft.streaming.StreamingConversations.latest(changelog)
    }),

    // context-window truncation in pipeline order (QA gate first,
    // then truncate): ok threads keep their longest even-turn-aligned
    // suffix under a 600-token budget (median ok thread is 853 at
    // sf0.01, so both the truncate and keep-whole paths stay
    // exercised at every sf), turns reindexed to 0-based. Suffix
    // cumsum + min-fit window — full SQL replay
    "q_sft_truncate" -> ((s, dir) => {
      val m = t(s, dir, "documents").select(
        expr("doc_id div 16").as("conv_id"),
        when(col("doc_id") % 97 === 0 && col("doc_id") % 16 > 0,
          col("doc_id") % 16 - 1).otherwise(col("doc_id") % 16)
          .as("turn"),
        when((col("doc_id") % 16 % 2 === 0) =!=
            (col("doc_id") % 211 === 0), lit("user"))
          .otherwise(lit("assistant")).as("role"),
        when(col("doc_id") % 139 === 0, lit(""))
          .otherwise(coalesce(col("text"), lit(""))).as("text"))
      val ok = graft.operators.Conversations.assemble(m, "conv_id",
          "turn", "role", "text")
        .filter(col("status") === "ok").select("conv_id")
      graft.operators.Conversations.truncateToBudget(
        m.join(ok, Seq("conv_id"), "left_semi"),
        "conv_id", "turn", "role", "text", budgetTokens = 600L)
    }),

    // SFT loss-mask spans: per message, its token span in the
    // rendered thread (prefix cumsum of the SAME tokenCount the QA
    // and truncation stages use) and the assistant-only-loss mask —
    // the collator handoff between validated threads and training
    "q_sft_lossmask" -> ((s, dir) => {
      val m = t(s, dir, "documents").select(
        expr("doc_id div 16").as("conv_id"),
        when(col("doc_id") % 97 === 0 && col("doc_id") % 16 > 0,
          col("doc_id") % 16 - 1).otherwise(col("doc_id") % 16)
          .as("turn"),
        when((col("doc_id") % 16 % 2 === 0) =!=
            (col("doc_id") % 211 === 0), lit("user"))
          .otherwise(lit("assistant")).as("role"),
        when(col("doc_id") % 139 === 0, lit(""))
          .otherwise(coalesce(col("text"), lit(""))).as("text"))
      val ok = graft.operators.Conversations.assemble(m, "conv_id",
          "turn", "role", "text")
        .filter(col("status") === "ok").select("conv_id")
      graft.operators.Conversations.lossMask(
        m.join(ok, Seq("conv_id"), "left_semi"),
        "conv_id", "turn", "role", "text")
    }),

    // the SFT chain end to end: assemble → keep only validated (ok)
    // threads → pack the TRANSCRIPTS by their real token counts,
    // bucketed on transcript content (only clean threads mint
    // training sequences — the stage-ORDER proof for dialogue data,
    // the curate6 discipline). Shares sftThreadCtes' oracle chain
    "q_pipe_sft" -> ((s, dir) => {
      val m = t(s, dir, "documents").select(
        expr("doc_id div 16").as("conv_id"),
        when(col("doc_id") % 97 === 0 && col("doc_id") % 16 > 0,
          col("doc_id") % 16 - 1).otherwise(col("doc_id") % 16)
          .as("turn"),
        when((col("doc_id") % 16 % 2 === 0) =!=
            (col("doc_id") % 211 === 0), lit("user"))
          .otherwise(lit("assistant")).as("role"),
        when(col("doc_id") % 139 === 0, lit(""))
          .otherwise(coalesce(col("text"), lit(""))).as("text"))
      val ok = graft.operators.Conversations.assemble(m, "conv_id",
          "turn", "role", "text")
        .filter(col("status") === "ok")
        .select(col("conv_id"),
          graft.operators.DatasetSplit.bucket256(col("transcript"))
            .as("bucket"),
          col("n_tokens"))
      graft.operators.Packing.packOffsetsWeighted(ok, "conv_id",
        "n_tokens", seqTokens = 1024)
    }),

    // the COLLATOR handoff end to end: validated threads pack into
    // bucket streams (q_pipe_sft) and each message's loss-mask span
    // (q_sft_lossmask) re-bases onto its thread's pack offset — the
    // (global_start, global_end, mask) rows a trainer consumes.
    // Exactness is compositional: pack offsets and spans are both
    // integer cumsum of the SAME tokenCount column, so the global
    // spans of a thread tile [start_offset, start_offset + n_tokens)
    "q_pipe_sft_mask" -> ((s, dir) => {
      val m = t(s, dir, "documents").select(
        expr("doc_id div 16").as("conv_id"),
        when(col("doc_id") % 97 === 0 && col("doc_id") % 16 > 0,
          col("doc_id") % 16 - 1).otherwise(col("doc_id") % 16)
          .as("turn"),
        when((col("doc_id") % 16 % 2 === 0) =!=
            (col("doc_id") % 211 === 0), lit("user"))
          .otherwise(lit("assistant")).as("role"),
        when(col("doc_id") % 139 === 0, lit(""))
          .otherwise(coalesce(col("text"), lit(""))).as("text"))
      val ok = graft.operators.Conversations.assemble(m, "conv_id",
          "turn", "role", "text")
        .filter(col("status") === "ok")
        .select(col("conv_id"),
          graft.operators.DatasetSplit.bucket256(col("transcript"))
            .as("bucket"),
          col("n_tokens"))
      val packed = graft.operators.Packing.packOffsetsWeighted(ok,
        "conv_id", "n_tokens", seqTokens = 1024)
      val masks = graft.operators.Conversations.lossMask(
        m.join(packed.select("conv_id"), Seq("conv_id"), "left_semi"),
        "conv_id", "turn", "role", "text")
      masks.join(packed.select(col("conv_id"), col("bucket"),
          col("start_offset")), Seq("conv_id"))
        .select(col("conv_id"), col("turn"), col("role"), col("bucket"),
          (col("start_offset") + col("start_tok")).as("global_start"),
          (col("start_offset") + col("end_tok")).as("global_end"),
          col("mask"))
    }),

    // STREAMING preference resolution: the same annotation synth fed
    // as two epochs (even doc_ids, then odd) through the changelog
    // stream — per-pair monotone upd counter, per-rater side map as
    // state so a batches-apart contradiction cancels exactly like a
    // same-batch one. The latest-wins view over the changelog (the
    // CDC-consumer read) is bit-identical to the batch resolver over
    // the whole feed ⇒ shares q_pref_resolve's oracle verbatim
    "q_pref_stream" -> ((s, dir) => {
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_spref_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      val (feed, out, ckpt) = (s"$scratch/feed", s"$scratch/out",
        s"$scratch/ckpt")
      val ann = t(s, dir, "documents").select(
        (col("doc_id") % 50).as("prompt_id"),
        (col("doc_id") % 7).as("resp_a"),
        ((col("doc_id") * 3 + 1) % 7).as("resp_b"),
        (expr("(doc_id % 50 + (doc_id % 7) * 2 + " +
          "((doc_id div 50) % 5) * 3) % 5 < 3") =!=
          (col("doc_id") % 97 === 0)).as("prefer_a"),
        expr("(doc_id div 50) % 5").as("rater_id"),
        col("doc_id"))
      ann.filter(col("doc_id") % 2 === 0).drop("doc_id")
        .coalesce(1).write.mode("append").parquet(feed)
      graft.streaming.StreamingPreference.resolutionStream(
        s, feed, out, ckpt)
      ann.filter(col("doc_id") % 2 === 1).drop("doc_id")
        .coalesce(1).write.mode("append").parquet(feed)
      val changelog = graft.streaming.StreamingPreference
        .resolutionStream(s, feed, out, ckpt)
      graft.streaming.StreamingPreference.latest(changelog)
    }),

    // per-checkpoint DPO minting over the streaming resolver
    // (round-15 VERDICT #5): two annotation epochs drain through
    // resolutionStream, each followed by a mint generation (BT +
    // dpoPairsAll over the latest-wins resolution, snapshot-
    // generation discipline — a collapsed-margin pair vanishes
    // instead of resurrecting from an old generation). The post-drain
    // generation is bit-identical to the batch chain over the whole
    // feed ⇒ shares q_pref_dpo_all's oracle
    "q_pref_dpo_stream" -> ((s, dir) => {
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_sdpo_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      val (feed, out, ckpt, mint) = (s"$scratch/feed", s"$scratch/out",
        s"$scratch/ckpt", s"$scratch/mint")
      val ann = t(s, dir, "documents").select(
        (col("doc_id") % 50).as("prompt_id"),
        (col("doc_id") % 7).as("resp_a"),
        ((col("doc_id") * 3 + 1) % 7).as("resp_b"),
        (expr("(doc_id % 50 + (doc_id % 7) * 2 + " +
          "((doc_id div 50) % 5) * 3) % 5 < 3") =!=
          (col("doc_id") % 97 === 0)).as("prefer_a"),
        expr("(doc_id div 50) % 5").as("rater_id"),
        col("doc_id"))
      ann.filter(col("doc_id") % 2 === 0).drop("doc_id")
        .coalesce(1).write.mode("append").parquet(feed)
      graft.streaming.StreamingPreference.resolutionStream(
        s, feed, out, ckpt)
      graft.streaming.StreamingPreference.mintDpoStream(s, out, mint,
        rounds = 3, minMarginMicros = 300000L, maxPairsPerPrompt = 4)
      ann.filter(col("doc_id") % 2 === 1).drop("doc_id")
        .coalesce(1).write.mode("append").parquet(feed)
      graft.streaming.StreamingPreference.resolutionStream(
        s, feed, out, ckpt)
      graft.streaming.StreamingPreference.mintDpoStream(s, out, mint,
        rounds = 3, minMarginMicros = 300000L, maxPairsPerPrompt = 4)
    }),

    // the GRPO side: rollouts arrive in two epochs, the advantage
    // view recomputes per checkpoint from the deduplicated
    // accumulation (immutable rollouts ⇒ identity-max dedups
    // re-delivery exactly) ⇒ shares q_pref_grpo's oracle
    "q_pref_grpo_stream" -> ((s, dir) => {
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_sgrpo_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      val (feed, out, ckpt) = (s"$scratch/feed", s"$scratch/out",
        s"$scratch/ckpt")
      val samples = t(s, dir, "documents").select(
        expr("doc_id div 8").as("prompt_id"),
        col("doc_id").as("resp_id"),
        ((col("doc_id") * 37) % 101).as("reward"))
      samples.filter(col("resp_id") % 2 === 0)
        .coalesce(1).write.mode("append").parquet(feed)
      graft.streaming.StreamingPreference.rolloutAdvantageStream(
        s, feed, out, ckpt)
      samples.filter(col("resp_id") % 2 === 1)
        .coalesce(1).write.mode("append").parquet(feed)
      graft.streaming.StreamingPreference.rolloutAdvantageStream(
        s, feed, out, ckpt)
    }),

    // the third round-15 minter's streaming arm: pass-rate window
    // curation over the same epoch-arriving rollouts — a prompt's
    // rate recomputes per checkpoint over the deduplicated
    // accumulation, post-drain ≡ batch passRateFilter (shared oracle)
    "q_pref_passrate_stream" -> ((s, dir) => {
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_sprr_q_${graft.engine.Scratch.runToken}"
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      val (feed, out, ckpt) = (s"$scratch/feed", s"$scratch/out",
        s"$scratch/ckpt")
      val samples = t(s, dir, "documents").select(
        expr("doc_id div 8").as("prompt_id"),
        col("doc_id").as("resp_id"),
        ((col("doc_id") * col("doc_id")) % 101).as("reward"))
      samples.filter(col("resp_id") % 2 === 0)
        .coalesce(1).write.mode("append").parquet(feed)
      graft.streaming.StreamingPreference.rolloutPassRateStream(
        s, feed, out, ckpt, passReward = 60L,
        loMicros = 200000L, hiMicros = 800000L)
      samples.filter(col("resp_id") % 2 === 1)
        .coalesce(1).write.mode("append").parquet(feed)
      graft.streaming.StreamingPreference.rolloutPassRateStream(
        s, feed, out, ckpt, passReward = 60L,
        loMicros = 200000L, hiMicros = 800000L)
    }),

    // per-rater quality (annotator audit): leave-one-out agreement
    // with each pair's consensus — own vote excluded, a vote counts
    // only when the OTHER raters hold a strict majority; exact
    // truncating micros, NULL when a rater never had an independent
    // consensus to be judged against
    "q_pref_raters" -> ((s, dir) => {
      val ann = t(s, dir, "documents").select(
        (col("doc_id") % 50).as("prompt_id"),
        (col("doc_id") % 7).as("resp_a"),
        ((col("doc_id") * 3 + 1) % 7).as("resp_b"),
        (expr("(doc_id % 50 + (doc_id % 7) * 2 + " +
          "((doc_id div 50) % 5) * 3) % 5 < 3") =!=
          (col("doc_id") % 97 === 0)).as("prefer_a"),
        expr("(doc_id div 50) % 5").as("rater_id"))
      graft.operators.Preference.raterQuality(ann, "prompt_id",
        "resp_a", "resp_b", "prefer_a", "rater_id")
    }),

    // multi-rater agreement over the hygiened preference votes:
    // Fleiss' κ in the varying-raters pairwise form — items =
    // (prompt, pair), categories = the vote direction; single-vote
    // pairs drop from both sides. The chance-corrected scalar the
    // annotation project tracks next to the per-rater audit
    "q_dq_fleiss" -> ((s, dir) => {
      val ann = t(s, dir, "documents").select(
        (col("doc_id") % 50).as("prompt_id"),
        (col("doc_id") % 7).as("resp_a"),
        ((col("doc_id") * 3 + 1) % 7).as("resp_b"),
        (expr("(doc_id % 50 + (doc_id % 7) * 2 + " +
          "((doc_id div 50) % 5) * 3) % 5 < 3") =!=
          (col("doc_id") % 97 === 0)).as("prefer_a"),
        expr("(doc_id div 50) % 5").as("rater_id"))
      val votes = graft.operators.Preference.perRater(
        graft.operators.Preference.normalized(ann, "prompt_id",
          "resp_a", "resp_b", "prefer_a", "rater_id"),
        "prompt_id", "rater_id")
      graft.operators.DataQuality.fleissKappaMicros(votes,
        Seq("prompt_id", "lo", "hi"), "prefer_lo")
    }),

    // best-of-n (rejection-sampling) assembly: 8 candidates per
    // prompt, integer rewards from a multiplicative map, argmax with
    // (reward desc, id asc) tie-break, prompts whose best reward
    // misses the floor drop entirely. One struct-max aggregation
    "q_pref_bestof" -> ((s, dir) => {
      val cands = t(s, dir, "documents").select(
        expr("doc_id div 8").as("prompt_id"),
        col("doc_id").as("resp_id"),
        (col("doc_id") * 37 % 101).as("reward"))
      graft.operators.Preference.bestOfN(cands, "prompt_id", "resp_id",
        "reward", minReward = 20L)
    }),

    // SQ8 quantized top-k: int8-scan ANN (4× smaller than float32)
    // whose ranking key dot8·scale_c·scale_q is PURE int64 — unlike
    // PQ's float ADC, the whole quantized ranking hash-matches the
    // oracle, not just the id set
    "q_v_topk_sq8" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilaritySearch.sq8TopK(emb, emb.filter(col("vec_id") < 16), k = 5)
    }),

    // binary-quantized top-k: 32× compression, Hamming shortlist +
    // exact rescore — integers end to end, so the oracle replays the
    // WHOLE pipeline (shortlist selection included), not just an
    // exhaustive escape hatch
    "q_v_topk_bin" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilaritySearch.binTopK(emb, emb.filter(col("vec_id") < 16),
        k = 5, shortlistK = 64)
    }),

    // mixed-script tokenization: the han-bigram fallback over a
    // corpus with planted CJK runs (a 3-char run → 2 bigrams, an
    // arithmetic-gated lone char → unigram, and a latin-adjacent run
    // with NO space — the case whitespace tokenizers silently eat).
    // Counts per doc are engine-exact; the oracle replays the plant
    // arithmetic and the same segmentation in RE2 syntax
    "q_t_tokens_cjk" -> ((s, dir) => {
      val han = array(Seq("中", "文", "数", "据",
        "处", "理", "工", "具").map(lit): _*)
      def ch(k: Int) =
        element_at(han, ((col("doc_id") + k) % 8).cast("int") + 1)
      val planted = concat(coalesce(col("text"), lit("")),
        lit(" "), ch(0), ch(1), ch(2),
        when(col("doc_id") % 3 === 0, concat(lit(" "), ch(3)))
          .otherwise(lit("")),
        lit(" x"), ch(4), ch(5))
      val ta = TextFunctions.tokensCjk(planted)
      t(s, dir, "documents").select(col("doc_id"),
        size(ta).as("n_tok"),
        size(filter(ta, tk => TextFunctions.isCjkToken(tk))).as("n_cjk"))
    }),

    // exact second-moment (Gram) matrix of the embedding corpus — the
    // data-sized half of PCA/whitening as ONE map-side-combined
    // aggregate over integer micros (a float·1e6 product is EXACT in
    // double, so both engines round the identical value and any .5
    // landing breaks by the shared away-from-zero rule — PcaSpec)
    "q_v_gram" -> ((s, dir) =>
      Pca.gramMicros(t(s, dir, "embeddings"), col("embedding"), 64)),

    // PCA projection, ORACLE-GREEN via the q_e_fs weight-literal
    // pattern: the Jacobi eigensolve itself is not SQL-expressible,
    // but its OUTPUT is a handful of numbers — so the gate rounds the
    // fitted means/components to integer micros ONCE on the driver,
    // stashes them, and the oracle SQL (built AFTER the gate runs —
    // Verify dumps oracle_sql.json last) interpolates the identical
    // literals. Both engines then replay the DISTRIBUTED work — the
    // exact-micros quantization, centering, and 8 dot products — over
    // pure int64, and the output is scalarized to (vec_id, component,
    // proj) so the driver's row compare hashes it (the round-11 red
    // row was an array<double> column crashing pandas). PcaSpec still
    // pins the full-precision eigensolve ground truth.
    "q_v_pca_project" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = Pca.fit(emb, col("embedding"), 64, 8)
      val m = model.means.map(x => Math.round(x * 1e6))
      val w = model.components.map(_.map(x => Math.round(x * 1e6)))
      pcaLiterals = Some((m, w))
      Pca.projectMicros(emb.select(col("vec_id"), col("embedding")),
          col("embedding"), m, w)
        .select(col("vec_id"),
          posexplode(col("proj")).as(Seq("c0", "proj")))
        .select(col("vec_id"),
          (col("c0") + 1).cast("int").as("component"), col("proj"))
    }),

    // the real pipeline shape: train the classifier on the
    // content-hash TRAIN split, evaluate on held-out docs, report the
    // confusion matrix — split, train, inference, and eval all
    // engine-exact, so the oracle replays the whole composition
    "q_pipe_nb_eval" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          coalesce(col("text"), lit("")).as("text"))
        .withColumn("ta", TextFunctions.tokens(col("text")))
        .withColumn("is_train",
          graft.operators.DatasetSplit.bucket256(col("text")) < 205)
      val train = base.filter(col("is_train"))
      val test = base.filter(!col("is_train"))
      val (w, ls) = NaiveBayes.train(train, col("ta"), col("lang"))
      NaiveBayes.score(test, "doc_id", col("ta"), w, ls)
        .join(test.select(col("doc_id"), col("lang")), "doc_id")
        .select(col("lang"), col("pred_label").as("pred_lang"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
    }),

    // gradient-descent TRAINING, engine-exact: 3 full-batch logistic
    // iterations from w=0 (is-English on 4 micro features); each
    // iteration is ONE map-side-combined aggregate, the per-row σ is
    // the only float (rounded to micros, margin-probed in spec), and
    // the truncating weight update is replayed by the oracle's
    // unrolled CTE chain. The d·iters weight table is inherently
    // driver-sized output
    "q_ml_lr_train" -> ((s, dir) => {
      val hist = LogReg.train(lrFeatures(s, dir), col("y"), col("x"),
        4, 3, LrPpm)
      import s.implicits._
      hist.zipWithIndex.map { case (w, i) =>
        (i + 1, w(0), w(1), w(2), w(3)) }
        .toDF("iter", "w0_micros", "w1_micros", "w2_micros", "w3_micros")
    }),

    // scoring with the trained vector: one codegen projection per doc
    "q_ml_lr_score" -> ((s, dir) => {
      val feat = lrFeatures(s, dir)
      val w = LogReg.train(feat, col("y"), col("x"), 4, 3, LrPpm).last
      LogReg.withScore(feat, col("x"), w)
        .select(col("doc_id"), col("y"), col("p_micros"))
    })
  )

  /** LR gate learning rate (ppm). */
  private val LrPpm = 300000L

  /** The LR gate's featurizer — 4 integer-micro features (bias,
    * capped length, capped token count, a held-out pseudo feature) +
    * is-English label, mirrored literally by the oracle SQL.
    */
  private def lrFeatures(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      when(col("lang") === "en", 1000000L).otherwise(0L).as("y"),
      array(
        lit(1000000L),
        least(coalesce(col("n_chars"), lit(0L)), lit(500L)) * 2000L,
        least(size(TextFunctions.tokens(coalesce(col("text"), lit(""))))
          .cast("long") * 20000L, lit(1000000L)),
        (coalesce(col("n_chars"), lit(0L)) % 7) * 142857L
      ).as("x"))

  /** The blocklist gate's pattern set: nested patterns ("table" inside
    * "table table"/"fast table") exercise AC output links; "zzqx"
    * never occurs. Shared with the oracle SQL so both engines filter
    * the same list.
    */
  private[graft] val blocklistPatterns: Seq[String] =
    Seq("fast table", "table table", "table", "scan slow",
      "value part", "zzqx")

  /** The NB gates' tokenized training corpus (doc_id, lang, ta) — one
    * definition for both gates so train and inference can never drift.
    */
  private def nbDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), col("lang"),
      TextFunctions.tokens(coalesce(col("text"), lit(""))).as("ta"))

  private val tokensSql =
    raw"list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> length(t) > 0)"

  /** Shared SFT thread-QA CTE chain (the q_sft_* synth + the one
    * GROUP BY), ending in `g(conv_id, n_msgs, n_turns, max_turn,
    * n_tokens, mismatches, empties, tx)` — one definition for the
    * thread gate and the packing composition.
    */
  private lazy val sftThreadCtes: String =
    (s"""m AS (SELECT doc_id // 16 AS conv_id,
       |    CASE WHEN doc_id % 97 = 0 AND doc_id % 16 > 0
       |      THEN doc_id % 16 - 1 ELSE doc_id % 16 END AS turn,
       |    CASE WHEN ((doc_id % 16) % 2 = 0) <> (doc_id % 211 = 0)
       |      THEN 'user' ELSE 'assistant' END AS role,
       |    CASE WHEN doc_id % 139 = 0 THEN ''
       |      ELSE coalesce(text, '') END AS text
       |  FROM documents),
       |g AS (SELECT conv_id,
       |    CAST(count(*) AS BIGINT) AS n_msgs,
       |    CAST(count(DISTINCT turn) AS BIGINT) AS n_turns,
       |    CAST(max(turn) AS BIGINT) AS max_turn,
       |    CAST(sum(len($tokensSql)) AS BIGINT) AS n_tokens,
       |    CAST(sum(CASE WHEN role <> (CASE WHEN turn % 2 = 0
       |      THEN 'user' ELSE 'assistant' END) THEN 1 ELSE 0 END)
       |      AS BIGINT) AS mismatches,
       |    CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 1 ELSE 0
       |      END) AS BIGINT) AS empties,
       |    string_agg(role || ': ' || text, chr(10) ORDER BY turn ASC)
       |      AS tx
       |  FROM m GROUP BY conv_id)""".stripMargin)
      .replaceAll(raw"\s+", " ")

  /** Shared preference-vote CTE chain (the q_pref_* synth + the
    * normalize/hygiene/tally stages), ending in `votes(prompt_id, lo,
    * hi, prefer_lo)` and `res(prompt_id, lo, hi, n_votes, n_lo)` —
    * one definition for the resolver and rater-audit oracles.
    */
  private val prefVotesCtes: String =
    ("""ann AS (SELECT doc_id % 50 AS prompt_id,
       |    doc_id % 7 AS a, (doc_id*3+1) % 7 AS b,
       |    (((doc_id % 50 + (doc_id % 7) * 2 + ((doc_id // 50) % 5) * 3)
       |      % 5 < 3) <> (doc_id % 97 = 0)) AS pa,
       |    (doc_id // 50) % 5 AS rater
       |  FROM documents),
       |norm AS (SELECT prompt_id, rater,
       |    least(a, b) AS lo, greatest(a, b) AS hi,
       |    CASE WHEN a < b THEN pa ELSE NOT pa END AS prefer_lo
       |  FROM ann WHERE a <> b),
       |pr AS (SELECT rater, prompt_id, lo, hi,
       |    max(prefer_lo) AS anyv, min(prefer_lo) AS allv
       |  FROM norm GROUP BY 1, 2, 3, 4),
       |votes AS (SELECT rater, prompt_id, lo, hi, anyv AS prefer_lo
       |  FROM pr WHERE anyv = allv),
       |res AS (SELECT prompt_id, lo, hi,
       |    CAST(count(*) AS BIGINT) AS n_votes,
       |    CAST(sum(CASE WHEN prefer_lo THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_lo
       |  FROM votes GROUP BY 1, 2, 3)""".stripMargin)
      .replaceAll(raw"\s+", " ")

  /** The Bradley-Terry gate's unrolled MM chain over `res`:
    * `it` (per-item win/comparison tallies), `s0` (uniform micros),
    * then per round k: `t{k}` (pair terms — ONE truncating division
    * each), `d{k}` (per-item denominator sums), `s{k}` (the
    * ghost-regularized update). All operands positive, so DuckDB `//`
    * ≡ Spark `div`.
    */
  private lazy val btOracleSql: String = {
    s"WITH $btOracleCtes " +
      "SELECT prompt_id, resp, strength_micros, n_wins, n_comparisons " +
      "FROM bt"
  }

  /** The CTE chain behind [[btOracleSql]], ending in
    * `bt(prompt_id, resp, strength_micros, n_wins, n_comparisons)` —
    * shared by the strengths gate and the DPO-pair composition.
    */
  private lazy val btOracleCtes: String = {
    val rounds = (1 to 3).map { k =>
      s"""t$k AS (SELECT r.prompt_id, r.lo, r.hi,
         |    CAST((r.n_votes * 1000000000000) // (sl.s + sh.s)
         |      AS BIGINT) AS term
         |  FROM pr2 r
         |  JOIN s${k - 1} sl ON sl.prompt_id = r.prompt_id
         |    AND sl.resp = r.lo
         |  JOIN s${k - 1} sh ON sh.prompt_id = r.prompt_id
         |    AND sh.resp = r.hi),
         |d$k AS (SELECT prompt_id, resp, CAST(sum(term) AS BIGINT) AS d
         |  FROM (SELECT prompt_id, lo AS resp, term FROM t$k
         |        UNION ALL SELECT prompt_id, hi, term FROM t$k)
         |  GROUP BY 1, 2),
         |s$k AS (SELECT i.prompt_id, i.resp,
         |    CAST(((i.n_wins + 1) * 1000000000000) //
         |      greatest(d.d + (2000000000000 // (p.s + 1000000)), 1)
         |      AS BIGINT) AS s
         |  FROM it i
         |  JOIN d$k d ON d.prompt_id = i.prompt_id AND d.resp = i.resp
         |  JOIN s${k - 1} p ON p.prompt_id = i.prompt_id
         |    AND p.resp = i.resp)""".stripMargin
    }.mkString(",\n")
    (s"""$prefVotesCtes,
       |pr2 AS (SELECT prompt_id, lo, hi, n_votes, n_lo,
       |  n_votes - n_lo AS n_hi FROM res),
       |it AS (SELECT prompt_id, resp, CAST(sum(w) AS BIGINT) AS n_wins,
       |    CAST(sum(nv) AS BIGINT) AS n_comparisons
       |  FROM (SELECT prompt_id, lo AS resp, n_lo AS w, n_votes AS nv
       |          FROM pr2
       |        UNION ALL SELECT prompt_id, hi, n_hi, n_votes FROM pr2)
       |  GROUP BY 1, 2),
       |s0 AS (SELECT prompt_id, resp, CAST(1000000 AS BIGINT) AS s
       |  FROM it),
       |$rounds,
       |bt AS (SELECT i.prompt_id, i.resp, s3.s AS strength_micros,
       |  i.n_wins, i.n_comparisons
       |FROM it i JOIN s3 ON s3.prompt_id = i.prompt_id
       |  AND s3.resp = i.resp)""".stripMargin)
      .replaceAll(raw"\s+", " ")
  }

  /** Truncate-toward-zero division in DuckDB — mirrors Long division /
    * Spark `div` regardless of `//`'s rounding mode on negatives.
    */
  private def tdSql(a: String, b: String): String =
    s"(CASE WHEN ($a) >= 0 THEN ($a) // ($b) ELSE -((-($a)) // ($b)) END)"

  /** The LR gates' unrolled training chain: featurization + 3
    * iterations, each `p_k` (per-row σ micros under the previous
    * weights) → `g_k` (exact gradient sums) → `wi_k` (truncating
    * update) — the SQL replay of `LogReg.train`.
    */
  private lazy val lrOracleCtes: String = {
    val feat =
      s"""feat AS (SELECT doc_id,
         |  CAST(CASE WHEN lang = 'en' THEN 1000000 ELSE 0 END AS BIGINT)
         |    AS y,
         |  CAST(1000000 AS BIGINT) AS x0,
         |  CAST(least(coalesce(n_chars, 0), 500) * 2000 AS BIGINT) AS x1,
         |  CAST(least(CAST(len($tokensSql) AS BIGINT) * 20000, 1000000)
         |    AS BIGINT) AS x2,
         |  CAST((coalesce(n_chars, 0) % 7) * 142857 AS BIGINT) AS x3
         |  FROM (SELECT doc_id, lang, n_chars, coalesce(text, '') AS text
         |        FROM documents))""".stripMargin
    val w0 = "wi0 AS (SELECT CAST(0 AS BIGINT) AS a0, " +
      "CAST(0 AS BIGINT) AS a1, CAST(0 AS BIGINT) AS a2, " +
      "CAST(0 AS BIGINT) AS a3)"
    val iters = (1 to 3).map { k =>
      val p =
        s"""p$k AS (SELECT y, x0, x1, x2, x3,
           |  CAST(round(1000000.0 / (1.0 + exp(-(CAST(x0*a0 + x1*a1
           |    + x2*a2 + x3*a3 AS DOUBLE)) / 1000000000000.0)))
           |    AS BIGINT) AS p FROM feat, wi${k - 1})""".stripMargin
      val g =
        s"""g$k AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |  ${(0 to 3).map(j =>
                s"CAST(sum((p - y) * x$j) AS BIGINT) AS g$j")
                .mkString(", ")}
           |  FROM p$k)""".stripMargin
      val upd = (0 to 3).map { j =>
        s"a$j - ${tdSql(s"${tdSql(s"g$j", "n")} * $LrPpm",
          "1000000000000")} AS a$j"
      }.mkString(", ")
      Seq(p, g, s"wi$k AS (SELECT $upd FROM wi${k - 1}, g$k)")
        .mkString(", ")
    }.mkString(", ")
    Seq(feat, w0, iters).mkString(", ")
  }

  /** Unrolled BPE trainer oracle (the lrOracleCtes pattern applied to
    * the tokenizer-training loop): 16 merge rounds, each = adjacent-
    * pair count over the evolving vocabulary → argmax with the
    * trainer's total tie-break (n DESC, a, b — DuckDB's default
    * BINARY collation is UTF-8 byte order, exactly
    * `BpeTrainer.utf8Compare`) → one merge application.
    *
    * Representation: a word's symbol sequence rides as ONE string of
    * delimiter-wrapped symbols (`chr(1) sym chr(2)` …). `replace()`
    * scans left-to-right without rescanning replaced text, which IS
    * the kernel's non-overlapping merge semantics, and a pattern
    * anchored by both delimiters can only match a COMPLETE symbol
    * (chr(1)/chr(2) never occur inside document text). Every w/m CTE
    * is MATERIALIZED: each round references the previous one twice
    * (pair counts + merge application), so inlined CTEs would expand
    * 2¹⁶-fold.
    */
  private lazy val bpeMergeCtes: String = {
    val d = "chr(1)"
    val e = "chr(2)"
    val head = Seq(
      s"wc AS MATERIALIZED (SELECT word, count(*) AS cnt FROM " +
        s"(SELECT unnest($tokensSql) AS word FROM documents) GROUP BY 1)",
      s"w0 AS MATERIALIZED (SELECT cnt, array_to_string(list_transform(" +
        s"list_append([substring(word, i, 1) for i in " +
        s"range(1, len(word)+1)], '</w>'), s -> $d || s || $e), '') " +
        s"AS r FROM wc)")
    val rounds = (1 to 16).flatMap { k => Seq(
      s"p$k AS (SELECT cnt, unnest([struct_pack(a := l[i], b := l[i+1]) " +
        s"for i in range(1, len(l))], recursive := true) FROM " +
        s"(SELECT cnt, string_split(r[2:len(r)-1], $e || $d) AS l " +
        s"FROM w${k - 1}))",
      s"m$k AS MATERIALIZED (SELECT a, b FROM (SELECT a, b, " +
        s"CAST(sum(cnt) AS BIGINT) AS n FROM p$k GROUP BY a, b) " +
        s"ORDER BY n DESC, a, b LIMIT 1)",
      s"w$k AS MATERIALIZED (SELECT cnt, replace(r, " +
        s"$d || a || $e || $d || b || $e, $d || a || b || $e) AS r " +
        s"FROM w${k - 1}, m$k)")
    }
    (head ++ rounds).mkString(", ")
  }

  /** The encode replay on top of [[bpeMergeCtes]]: held-out docs'
    * token sequences become one wrapped-symbol string per doc, and
    * the same 16 merges apply as chained replaces. Per-doc ≡ per-word
    * because no learned merge's LEFT element contains '</w>' (a
    * symbol containing the end marker is always word-final, so such
    * pairs never occur in training counts), and every cross-boundary
    * adjacent pair has a '</w>'-bearing left element.
    */
  private lazy val bpeEncodeSql: String = {
    val d = "chr(1)"
    val e = "chr(2)"
    val enc = Seq(
      s"tq2 AS (SELECT doc_id, $tokensSql AS ta FROM documents)",
      s"e0 AS MATERIALIZED (SELECT doc_id, array_to_string(" +
        s"list_transform(flatten(list_transform(ta, w -> list_append(" +
        s"[substring(w, i, 1) for i in range(1, len(w)+1)], '</w>'))), " +
        s"s -> $d || s || $e), '') AS r FROM tq2 " +
        s"WHERE doc_id % 37 = 0 AND len(ta) > 0)") ++
      (1 to 16).map { k =>
        s"e$k AS MATERIALIZED (SELECT doc_id, replace(r, " +
          s"$d || a || $e || $d || b || $e, $d || a || b || $e) AS r " +
          s"FROM e${k - 1}, m$k)"
      }
    s"WITH $bpeMergeCtes, ${enc.mkString(", ")} " +
      s"SELECT doc_id, array_to_string(l, ' ') AS bpe, " +
      s"CAST(len(l) AS INT) AS n_subwords FROM " +
      s"(SELECT doc_id, string_split(r[2:len(r)-1], $e || $d) AS l " +
      s"FROM e16)"
  }

  /** One integer-micros Viterbi pass replayed in SQL: candidates =
    * (word × start × len ≤ 4) pieces found in `scoreCte`, DP unrolled
    * over positions 1..16 (each `udp{tag}_j` takes the row_number-1
    * candidate by `ORDER BY score DESC, piece-length DESC` over the
    * up-to-4 reachable predecessors — exactly UnigramLm.segment's
    * tie-break), then the argmax PATH recovered by an unrolled
    * backtrack walk over the stored best piece lengths. Everything is
    * MATERIALIZED: dp_j feeds up to 4 later dp CTEs plus the
    * backtrack, and inlined CTEs would expand exponentially (the
    * bpeMergeCtes lesson). `upc{tag}` ends with (word, piece, ep) —
    * the path pieces with their end positions.
    */
  private def ugViterbiCtes(tag: String, scoreCte: String): Seq[String] = {
    val cand = s"ucand$tag AS MATERIALIZED (SELECT w.word, t1.i, t2.l, " +
      s"sc.s FROM uw w CROSS JOIN range(1, 17) t1(i) " +
      s"CROSS JOIN range(1, 5) t2(l) " +
      s"JOIN $scoreCte sc ON sc.piece = substr(w.word, t1.i, t2.l) " +
      s"WHERE t1.i + t2.l - 1 <= length(w.word))"
    val dp0 = s"udp${tag}_0 AS MATERIALIZED (SELECT word, " +
      s"CAST(0 AS BIGINT) AS sc, CAST(0 AS BIGINT) AS l FROM uw)"
    val dps = (1 to 16).map { j =>
      val prevs = (math.max(0, j - 4) until j).map(jp =>
        s"SELECT word, sc, CAST($jp AS BIGINT) AS pos FROM udp${tag}_$jp")
        .mkString(" UNION ALL ")
      s"udp${tag}_$j AS MATERIALIZED (SELECT word, sc, l FROM (" +
        s"SELECT c.word, p.sc + c.s AS sc, c.l, " +
        s"row_number() OVER (PARTITION BY c.word " +
        s"ORDER BY p.sc + c.s DESC, c.l DESC) AS rn " +
        s"FROM ucand$tag c JOIN ($prevs) p ON p.word = c.word " +
        s"AND c.i = p.pos + 1 AND c.i + c.l - 1 = $j) WHERE rn = 1)"
    }
    val dpa = s"udpa$tag AS MATERIALIZED (" + (1 to 16).map(j =>
      s"SELECT word, CAST($j AS BIGINT) AS pos, sc, l FROM udp${tag}_$j")
      .mkString(" UNION ALL ") + ")"
    val bt1 = s"ubt${tag}_1 AS MATERIALIZED (SELECT word, pos AS ep, l " +
      s"FROM udpa$tag WHERE pos = length(word))"
    val bts = (2 to 16).map { k =>
      s"ubt${tag}_$k AS MATERIALIZED (SELECT d.word, d.pos AS ep, d.l " +
        s"FROM ubt${tag}_${k - 1} b JOIN udpa$tag d ON d.word = b.word " +
        s"AND d.pos = b.ep - b.l WHERE b.ep - b.l > 0)"
    }
    val pieces = s"upc$tag AS MATERIALIZED (SELECT word, " +
      s"substr(word, ep - l + 1, l) AS piece, ep FROM (" +
      (1 to 16).map(k => s"SELECT word, ep, l FROM ubt${tag}_$k")
        .mkString(" UNION ALL ") + "))"
    Seq(cand, dp0) ++ dps ++ Seq(dpa, bt1) ++ bts ++ Seq(pieces)
  }

  /** score CTE: s = round(1e6 · ln(cnt/C)), C = Σ cnt — the same
    * once-per-piece rounding UnigramLm.train's rescore does with Spark
    * round/log (both engines: IEEE double division, ≤1-ulp ln,
    * half-away-from-zero round; the boundary margin is probed in
    * NOTES like the vocab-drift gate's).
    */
  private def ugScoreCte(name: String, vocabCte: String): String =
    s"$name AS MATERIALIZED (SELECT piece, cnt, CAST(round(1000000.0 * " +
      s"ln(cnt * 1.0 / (SELECT CAST(sum(cnt) AS BIGINT) FROM $vocabCte)))" +
      s" AS BIGINT) AS s FROM $vocabCte)"

  /** The full unigram-LM trainer unrolled: word table → substring
    * seed (top-512 by (cnt, piece) + all single chars) → per EM round
    * r ∈ {1, 2}: Viterbi pass under s{r−1}, frequency-weighted path
    * counts, M-step (zero-count pieces drop, single chars floor at 1;
    * with `targetV` set, prune to the top-V by (cnt, piece) with
    * single chars exempt — the vocabulary budget of UnigramLm.train's
    * M-step), rescore. Ends with `us2(piece, cnt, s)`.
    */
  private def unigramTrainCtesOf(targetV: Option[Int]): String = {
    val head = Seq(
      s"uw AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS f " +
        s"FROM (SELECT unnest($tokensSql) AS word FROM documents) u " +
        s"WHERE length(word) <= 16 GROUP BY 1)",
      s"useed AS MATERIALIZED (SELECT substr(word, i, l) AS piece, " +
        s"CAST(sum(f) AS BIGINT) AS cnt FROM uw " +
        s"CROSS JOIN range(1, 17) t1(i) CROSS JOIN range(1, 5) t2(l) " +
        s"WHERE i + l - 1 <= length(word) GROUP BY 1)",
      s"uv0 AS MATERIALIZED (SELECT piece, CAST(max(cnt) AS BIGINT) " +
        s"AS cnt FROM ((SELECT piece, cnt FROM useed " +
        s"ORDER BY cnt DESC, piece ASC LIMIT 512) UNION ALL " +
        s"SELECT piece, cnt FROM useed WHERE length(piece) = 1) " +
        s"GROUP BY 1)",
      ugScoreCte("us0", "uv0"))
    val rounds = (1 to 2).flatMap { r =>
      ugViterbiCtes(r.toString, s"us${r - 1}") ++ Seq(
        s"ucc$r AS MATERIALIZED (SELECT p.piece, " +
          s"CAST(sum(w.f) AS BIGINT) AS cnt FROM upc$r p " +
          s"JOIN uw w USING (word) GROUP BY 1)",
        {
          val base = s"SELECT v.piece, CAST(CASE WHEN " +
            s"length(v.piece) = 1 THEN greatest(coalesce(c.cnt, 0), 1) " +
            s"ELSE coalesce(c.cnt, 0) END AS BIGINT) AS cnt " +
            s"FROM uv${r - 1} v LEFT JOIN ucc$r c USING (piece) " +
            s"WHERE length(v.piece) = 1 OR coalesce(c.cnt, 0) > 0"
          targetV match {
            case None => s"uv$r AS MATERIALIZED ($base)"
            case Some(v) =>
              s"uv$r AS MATERIALIZED (SELECT piece, cnt FROM (" +
                s"SELECT piece, cnt, row_number() OVER (ORDER BY cnt " +
                s"DESC, piece ASC) AS rn FROM ($base)) " +
                s"WHERE rn <= $v OR length(piece) = 1)"
          }
        },
        ugScoreCte(s"us$r", s"uv$r"))
    }
    (head ++ rounds).mkString(", ")
  }

  private lazy val unigramTrainCtes: String = unigramTrainCtesOf(None)

  private lazy val unigramVocabSql: String =
    s"WITH $unigramTrainCtes SELECT piece, cnt, s AS score_micros FROM us2"

  private lazy val unigramPrunedSql: String =
    s"WITH ${unigramTrainCtesOf(Some(24))} " +
      s"SELECT piece, cnt, s AS score_micros FROM us2"

  /** The documents' token stream with per-doc token indexes —
    * `utd(doc_id, word, ti)`.
    */
  private lazy val ugDocTokensCte: String =
    s"utd AS MATERIALIZED (SELECT doc_id, w AS word, ti FROM " +
      s"(SELECT doc_id, unnest([struct_pack(w := ta[i], ti := i) " +
      s"for i in range(1, len(ta) + 1)], recursive := true) " +
      s"FROM (SELECT doc_id, $tokensSql AS ta FROM documents)))"

  /** Encode replay: one more Viterbi pass under the replayed round-2
    * scores, each document's token stream re-joined in (token index,
    * piece end position) order; docs with no tokens emit ('', 0).
    */
  private lazy val unigramEncodeSql: String = {
    val enc = ugViterbiCtes("e", "us2") ++ Seq(
      ugDocTokensCte,
      s"uenc AS MATERIALIZED (SELECT d.doc_id, " +
        s"string_agg(p.piece, ' ' ORDER BY d.ti ASC, p.ep ASC) " +
        s"AS encoded, CAST(count(*) AS BIGINT) AS n_pieces " +
        s"FROM utd d JOIN upce p ON p.word = d.word GROUP BY d.doc_id)")
    s"WITH $unigramTrainCtes, ${enc.mkString(", ")} " +
      s"SELECT t.doc_id, coalesce(e.encoded, '') AS encoded, " +
      s"CAST(coalesce(e.n_pieces, 0) AS BIGINT) AS n_pieces " +
      s"FROM documents t LEFT JOIN uenc e ON e.doc_id = t.doc_id"
  }

  /** Surprisal replay: the per-word DP FINAL value (score at
    * pos = word length) is exactly the path's score sum, so the doc
    * score reads straight off the replayed dp tables — no re-walk;
    * piece counts come from the backtracked path lengths.
    */
  private lazy val unigramSurprisalSql: String = {
    val ctes = ugViterbiCtes("e", "us2") ++ Seq(
      ugDocTokensCte,
      s"ufin AS MATERIALIZED (SELECT word, sc FROM udpae " +
        s"WHERE pos = length(word))",
      s"uws AS MATERIALIZED (SELECT f.word, f.sc, n.np FROM ufin f " +
        s"JOIN (SELECT word, CAST(count(*) AS BIGINT) AS np FROM upce " +
        s"GROUP BY 1) n USING (word))",
      s"udoc AS MATERIALIZED (SELECT d.doc_id, " +
        s"CAST(sum(w.np) AS BIGINT) AS n_pieces, " +
        s"CAST(sum(w.sc) AS BIGINT) AS score_micros " +
        s"FROM utd d JOIN uws w USING (word) GROUP BY 1)")
    s"WITH $unigramTrainCtes, ${ctes.mkString(", ")} " +
      s"SELECT t.doc_id, CAST(coalesce(u.n_pieces, 0) AS BIGINT) " +
      s"AS n_pieces, CAST(coalesce(u.score_micros, 0) AS BIGINT) " +
      s"AS score_micros FROM documents t " +
      s"LEFT JOIN udoc u ON u.doc_id = t.doc_id"
  }

  /** Curriculum replay: the surprisal result + per-piece score
    * (truncate-toward-zero division — Spark `div`) + exact ntile
    * banding over the (ppl, doc_id) total order.
    */
  private lazy val unigramCurriculumSql: String = {
    val i = unigramSurprisalSql.indexOf(" SELECT t.doc_id")
    unigramSurprisalSql.take(i) +
      s", ub AS (SELECT t.doc_id, CAST(coalesce(u.n_pieces, 0) " +
      s"AS BIGINT) AS n_pieces, CAST(coalesce(u.score_micros, 0) " +
      s"AS BIGINT) AS score_micros FROM documents t " +
      s"LEFT JOIN udoc u ON u.doc_id = t.doc_id), " +
      s"up AS (SELECT doc_id, n_pieces, score_micros, " +
      s"CAST(CASE WHEN n_pieces = 0 THEN 0 ELSE " +
      tdSql("score_micros", "n_pieces") +
      s" END AS BIGINT) AS ppl_micros FROM ub) " +
      s"SELECT doc_id, n_pieces, score_micros, ppl_micros, " +
      s"CAST(ntile(10) OVER (ORDER BY ppl_micros DESC, doc_id ASC) " +
      s"AS INT) AS decile FROM up"
  }

  /** The encode replay fed through q_t_pack's window arithmetic —
    * packing by REAL tokenizer piece counts, bucketed on the encoded
    * string.
    */
  private lazy val unigramPackSql: String = {
    val encf = s"(SELECT t.doc_id, coalesce(e.encoded, '') AS encoded, " +
      s"CAST(coalesce(e.n_pieces, 0) AS BIGINT) AS n_pieces " +
      s"FROM documents t LEFT JOIN uenc e ON e.doc_id = t.doc_id)"
    val i = unigramEncodeSql.indexOf(" SELECT t.doc_id")
    unigramEncodeSql.take(i) +
      s", encf AS (SELECT doc_id, CAST(${bucketSqlOf("encoded")} AS INT)" +
      s" AS bucket, n_pieces FROM $encf), " +
      s"o AS (SELECT doc_id, bucket, n_pieces, " +
      s"CAST(sum(n_pieces) OVER (PARTITION BY bucket ORDER BY doc_id " +
      s"ROWS UNBOUNDED PRECEDING) - n_pieces AS BIGINT) AS start_offset" +
      s" FROM encf) " +
      s"SELECT doc_id, bucket, n_pieces, start_offset, " +
      s"start_offset // 1024 AS seq_id FROM o"
  }

  /** Fertility replay: the encode CTEs (piece counts per doc from the
    * replayed Viterbi paths) aggregated per language with the same
    * truncating-micros ratios. Word/char counts re-derive from the
    * shared tokenization (the gopher sumlen pattern).
    */
  private lazy val unigramFertilitySql: String = {
    val i = unigramEncodeSql.indexOf(" SELECT t.doc_id")
    unigramEncodeSql.take(i) +
      s", ftq AS (SELECT doc_id, lang, coalesce(text, '') AS text " +
      s"FROM documents), " +
      s"fta AS (SELECT doc_id, lang, $tokensSql AS ta FROM ftq), " +
      s"fb AS (SELECT f.doc_id, f.lang, CAST(len(ta) AS BIGINT) " +
      s"AS n_words, CAST(coalesce(list_sum(list_transform(ta, " +
      s"t -> length(t))), 0) AS BIGINT) AS n_chars, " +
      s"CAST(coalesce(e.n_pieces, 0) AS BIGINT) AS n_pieces " +
      s"FROM fta f LEFT JOIN uenc e ON e.doc_id = f.doc_id), " +
      s"fg AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, " +
      s"CAST(sum(n_words) AS BIGINT) AS n_words, " +
      s"CAST(sum(n_pieces) AS BIGINT) AS n_pieces, " +
      s"CAST(sum(n_chars) AS BIGINT) AS n_chars FROM fb GROUP BY lang) " +
      s"SELECT lang, n_docs, n_words, n_pieces, n_chars, " +
      s"CAST(CASE WHEN n_words = 0 THEN 0 ELSE " +
      s"(n_pieces * 1000000) // n_words END AS BIGINT) " +
      s"AS fertility_micros, " +
      s"CAST(CASE WHEN n_pieces = 0 THEN 0 ELSE " +
      s"(n_chars * 1000000) // n_pieces END AS BIGINT) AS cpp_micros " +
      s"FROM fg"
  }

  /** Shared DSIR CTE chain ending in `wt(doc_id, n_tokens,
    * logw_micros)` — the weights relation the q_t_dsir* gates and the
    * curation composition all build on (one definition, zero drift).
    */
  private lazy val dsirWtCtes: String =
    s"""tq AS (SELECT doc_id, $tokensSql AS ta FROM documents),
       |occ AS (SELECT doc_id, w, count(*) AS n FROM
       |  (SELECT doc_id, unnest(ta) AS w FROM tq) GROUP BY doc_id, w),
       |occr AS (SELECT * FROM occ WHERE doc_id % 97 <> 0),
       |occt AS (SELECT * FROM occ WHERE doc_id % 97 = 0),
       |cr AS (SELECT w, sum(n) AS cr FROM occr GROUP BY w),
       |ct AS (SELECT w, sum(n) AS ct FROM occt GROUP BY w),
       |v AS (SELECT count(*) AS v FROM
       |  (SELECT w FROM cr UNION SELECT w FROM ct)),
       |nt AS (SELECT coalesce(sum(n), 0) AS nt FROM occt),
       |nr AS (SELECT coalesce(sum(n), 0) AS nr FROM occr),
       |s AS (SELECT w, CAST(round(1000000.0 * (
       |    ln(CAST(coalesce(ct, 0) + 1 AS DOUBLE) / CAST(nt + v AS DOUBLE))
       |  - ln(CAST(cr + 1 AS DOUBLE) / CAST(nr + v AS DOUBLE))))
       |  AS BIGINT) AS s FROM cr LEFT JOIN ct USING (w), v, nt, nr),
       |wt AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
       |  CAST(sum(n * s) AS BIGINT) AS logw_micros
       |  FROM occr JOIN s USING (w) GROUP BY doc_id)""".stripMargin

  private def hitsSql(words: Seq[String]): String = {
    val list = words.map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter($tokensSql, t -> list_contains($list, t)))"
  }

  // factored oracle sub-expressions (shared by several queries so the
  // Spark-side and SQL-side definitions can never diverge per query)
  private lazy val qualityMicrosSql: String = {
    val lenM = "least(length(text) * 2000, 1000000)"
    val punctM =
      raw"(1000000 - least(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) * 5000000 // greatest(length(text), 1), 1000000))"
    val tokCount = s"len($tokensSql)"
    val swM = s"least(${hitsSql(TextFunctions.stopwords("en"))} * 5000000 // greatest($tokCount, 1), 1000000)"
    s"CAST(($lenM * 4 + $punctM * 3 + $swM * 3) // 10 AS BIGINT)"
  }

  private lazy val langCaseSql: String = {
    val langs = Seq("en", "de", "es", "fr", "zh")
    val hitExprs = langs.map(l => l -> hitsSql(TextFunctions.stopwords(l))).toMap
    val best = "greatest(" + langs.map(hitExprs).mkString(", ") + ")"
    val cases = langs.map(l =>
      s"WHEN $best > 0 AND ${hitExprs(l)} = $best THEN '$l'").mkString(" ")
    s"CASE $cases ELSE 'und' END"
  }

  private def bucketSqlOf(inner: String): String =
    s"(strpos('0123456789abcdef', substr(md5($inner), 1, 1)) - 1) * 16 + " +
      s"(strpos('0123456789abcdef', substr(md5($inner), 2, 1)) - 1)"

  /** The 16-bit sibling of [[bucketSqlOf]] (first four md5 hex
    * digits) — DatasetSplit.bucket65536 replayed in DuckDB.
    */
  private def bucket65536SqlOf(inner: String): String =
    (1 to 4).map { i =>
      val w = math.pow(16, 4 - i).toInt
      s"(strpos('0123456789abcdef', substr(md5($inner), $i, 1)) - 1) * $w"
    }.mkString(" + ")

  /** Sketch.hash48 replayed in DuckDB: the first 12 md5 hex digits
    * read as a big-endian base-16 integer (hex-digit polynomial,
    * weights 16¹¹ … 16⁰ — max sum 2⁴⁸−1, comfortably int64).
    */
  private def hash48SqlOf(inner: String): String =
    (1 to 12).map { i =>
      val w = 1L << (4 * (12 - i))
      s"(strpos('0123456789abcdef', substr(md5($inner), $i, 1)) - 1) * $w"
    }.mkString("(", " + ", ")")

  private val bucketSql: String = bucketSqlOf("text")

  /** The salted mixing bucket (independent of the split bucket). */
  private val mixBucketSql: String = bucketSqlOf("'mix:' || text")

  /** cleanBoilerplate mirrored in DuckDB SQL over expression `inner`
    * (same pass ORDER as TextFunctions.entityDecodes — `&amp;` last).
    */
  private def cleanSql(inner: String): String =
    s"""trim(regexp_replace(regexp_replace(regexp_replace(
       |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |  $inner,
       |  '<[^>]*>', ' ', 'g'),
       |  '&nbsp;', ' ', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'),
       |  '&quot;', '"', 'g'), '&amp;', '&', 'g'),
       |  '\\s+', ' ', 'g'))""".stripMargin.replaceAll(raw"\s+", " ")

  private val shinglesSqlA = shinglesSql("ta")
  private val shinglesSqlB = shinglesSql("tb")
  private def shinglesSql(v: String): String =
    s"CASE WHEN len($v) <= 3 THEN [array_to_string($v, ' ')] " +
      s"ELSE list_transform(range(1, len($v) - 1), i -> array_to_string($v[i:i+2], ' ')) END"

  def oracleSql: Map[String, String] =
    oracleSqlMap +
      ("q_v_topk_ivf" -> oracleSqlMap("q_v_topk")) +
      ("q_v_topk_lsh" -> oracleSqlMap("q_v_topk")) +
      // exhaustive-shortlist MRL ≡ brute force (full-dim rescore of
      // the whole corpus, same total order)
      ("q_v_topk_mrl" -> oracleSqlMap("q_v_topk")) +
      ("q_v_topk_ivf_inc" -> oracleSqlMap("q_v_topk")) +
      ("q_v_topk_ivf_idx" -> oracleSqlMap("q_v_topk")) +
      // stored-prefix MRL, full probe + exhaustive rescore ≡ brute
      ("q_v_topk_mrl_idx" -> oracleSqlMap("q_v_topk")) +
      // incremental MRL growth: append slices the stored width
      ("q_v_topk_mrl_inc" -> oracleSqlMap("q_v_topk")) +
      // filtered MRL: predicate at the prefix shortlist scan, full
      // probe + exhaustive rescore ≡ brute over the filtered corpus
      ("q_v_topk_mrl_flt" -> oracleSqlMap("q_v_topk_flt")) +
      // CDC into the MRL artifact drains to the same latest snapshot
      ("q_v_stream_mrl" -> oracleSqlMap("q_v_stream_cdc")) +
      // CDC into the q8/bin artifacts: the code-column append
      // branches under the same latest-snapshot relation
      ("q_v_stream_sq8" -> oracleSqlMap("q_v_stream_cdc")) +
      ("q_v_stream_bin" -> oracleSqlMap("q_v_stream_cdc")) +
      // full-probe filtered search ≡ brute force over the matching
      // set: the per-query arm shares the positives oracle outright;
      // the static-predicate arm gets its own WHERE'd brute force
      ("q_v_topk_pos_idx" -> oracleSqlMap("q_v_topk_pos")) +
      // exhaustive filtered graph search ≡ brute force over the
      // label<5 slice — the same filtered oracle as the IVF arm
      ("q_v_topk_hnsw_flt" -> oracleSqlMap("q_v_topk_flt")) +
      // latest-wins over the streaming changelog ≡ the batch resolver
      // over the whole feed (per-rater side map makes cross-batch
      // hygiene exact; StreamingSpec-style pins in PreferenceSpec)
      ("q_pref_stream" -> oracleSqlMap("q_pref_resolve")) +
      // post-drain mint generation ≡ the batch BT+dpoPairsAll chain;
      // post-drain advantage view ≡ batch groupAdvantage
      ("q_pref_dpo_stream" -> oracleSqlMap("q_pref_dpo_all")) +
      ("q_pref_grpo_stream" -> oracleSqlMap("q_pref_grpo")) +
      ("q_pref_passrate_stream" -> oracleSqlMap("q_pref_passrate")) +
      // latest-wins over the thread-QA changelog ≡ the batch
      // assembler over the accumulated feed (per-tuple multiplicity
      // max-merge makes epoch replay idempotent while within-epoch
      // duplicates still count; pins in ConversationsSpec)
      ("q_sft_stream" -> oracleSqlMap("q_sft_threads")) +
      // deterministic training ⇒ the shipped-artifact encode is
      // bit-identical to the in-memory arm (UnigramLmSpec pins the
      // roundtrip); the gate exercises persist + cold reload + meta
      ("q_t_unigram_ship" -> oracleSqlMap("q_t_unigram_encode")) +
      ("q_v_topk_hnsw" -> oracleSqlMap("q_v_topk")) +
      ("q_v_topk_hnsw_inc" -> oracleSqlMap("q_v_topk")) +
      ("q_v_hnsw_split" -> oracleSqlMap("q_v_topk")) +
      // filtered search AFTER a hot-shard split: exhaustive over the
      // 5 post-split shards ⇒ the same filtered brute-force relation
      ("q_v_hnsw_split_flt" -> oracleSqlMap("q_v_topk_flt")) +
      // deletion gates: exhaustive search over the survivors of a
      // label≥5 delete ≡ brute force over the label<5 slice
      ("q_v_topk_ivf_del" -> oracleSqlMap("q_v_topk_flt")) +
      ("q_v_hnsw_del" -> oracleSqlMap("q_v_topk_flt")) +
      // both streaming-upsert arms drain to the same latest snapshot
      ("q_v_stream_hnsw" -> oracleSqlMap("q_v_stream_index")) +
      // CDC into the residual-PQ artifact: full probe + exhaustive
      // rescore ≡ brute force over latest-minus-tombstones — the
      // same relation q_v_stream_cdc replays
      ("q_v_stream_pq" -> oracleSqlMap("q_v_stream_cdc")) +
      // post-drain maintenance is content-invisible: the compacted
      // index answers exactly like the freshly drained one
      ("q_v_stream_maint" -> oracleSqlMap("q_v_stream_index")) +
      // the graph twin: post-drain Hnsw.maintain is content-invisible
      ("q_v_stream_hnsw_maint" -> oracleSqlMap("q_v_stream_index")) +
      // compaction is content-invisible: the compacted index answers
      // exactly like the fresh-built one
      ("q_v_topk_ivf_cpt" -> oracleSqlMap("q_v_topk")) +
      ("q_v_hnsw_cpt" -> oracleSqlMap("q_v_topk")) +
      // the autopilot compacts and reports — never mutates content —
      // so the maintained index shares the plain brute-force oracle
      ("q_v_hnsw_maint" -> oracleSqlMap("q_v_topk")) +
      ("q_v_topk_ivf_c" -> oracleSqlMap("q_v_topk")) +
      ("q_v_topk_pq" -> oracleSqlMap("q_v_topk")) +
      ("q_v_topk_pq_res" -> oracleSqlMap("q_v_topk")) +
      ("q_v_topk_pq_res_idx" -> oracleSqlMap("q_v_topk")) +
      ("q_v_topk_pq_idx" -> oracleSqlMap("q_v_topk")) +
      // full probe + exhaustive rescore makes the predicate-aware PQ
      // arms exactly brute force over the label<5 slice — the same
      // filtered oracle as the IVF/HNSW/binary filtered arms
      ("q_v_topk_pq_flt" -> oracleSqlMap("q_v_topk_flt")) +
      ("q_v_topk_pqr_flt" -> oracleSqlMap("q_v_topk_flt")) +
      ("q_v_topk_ivfc_flt" -> oracleSqlMap("q_v_topk_flt")) +
      ("q_ev_sessions_et" -> oracleSqlMap("q_ev_sessions")) +
      ("q_ev_transitions_stream" -> oracleSqlMap("q_ev_transitions")) +
      ("q_s28_sql_blocklist" -> oracleSqlMap("q_t_blocklist")) +
      // the Scala production arms at threshold 1.0 compute the same
      // SEMANTIC relation as the pure-SQL deployment gate: equal
      // sorted distinct shingle lists (see q_d_minhash_confirmed /
      // q_d_stream_confirmed comments for the recall-exactly-1
      // argument)
      ("q_d_minhash_confirmed" -> oracleSqlMap("q_s29_sql_neardup")) +
      ("q_d_stream_confirmed" -> oracleSqlMap("q_s29_sql_neardup")) +
      ("q_s31_sql_ledger" -> oracleSqlMap("q_pipe_ledger")) +
      // same algorithm (content-hash bucket, per-bucket running token
      // offset, div 1024) expressed in plain SQL through the registry
      ("q_s33_sql_pack" -> oracleSqlMap("q_t_pack")) +
      // the micro-batch fold is bit-identical to the one-shot sketch
      // (idempotent merge) — same oracle as the batch gate
      ("q_t_kmv_stream" -> oracleSqlMap("q_t_kmv")) +
      ("q_t_cms_stream" -> oracleSqlMap("q_t_cms")) +
      ("q_s30_sql_ann" -> oracleSqlMap("q_v_topk_bin")) +
      ("q_v_topk_bin_idx" -> oracleSqlMap("q_v_topk_bin")) +
      // the maintenance lifecycle replayed from parity counts: base =
      // even ids, appended = odd ids; the trigger arithmetic is the
      // integer ppm the engine computes from index metadata (both
      // sides ≈ 1.0 appended fraction, nowhere near the 0.5 boundary)
      ("q_v_hnsw_rebuild" ->
        ("""WITH c AS (SELECT
           |  CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n0,
           |  CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n1 FROM embeddings)
           |SELECT metric, CAST(value AS BIGINT) AS value FROM (
           |  SELECT 'appended_ppm_before' AS metric,
           |    n1 * 1000000 // n0 AS value FROM c
           |  UNION ALL SELECT 'fires_before',
           |    CASE WHEN n1 * 1000000 // n0 > 500000 THEN 1 ELSE 0 END
           |    FROM c
           |  UNION ALL SELECT 'rows_after', n0 + n1 FROM c
           |  UNION ALL SELECT 'appended_ppm_after', 0 FROM c
           |  UNION ALL SELECT 'fires_after', 0 FROM c)"""
          .stripMargin).replaceAll(raw"\s+", " ")) +
      ("q_v_pca_project" -> pcaProjectOracle) +
      ("q_t_temp_mix" -> tempMixOracle) +
      ("q_t_pack_sem" -> semPackOracle) +
      ("q_s34_sql_pack_sem" -> semPackOracle) +
      ("q_t_temp_epochs" -> tempEpochOracle) +
      ("q_pipe_curate6" -> curate6Oracle)

  /** Oracle for the round-12 capstone: blocklist clean (per-position
    * substr replay) → mix filter with the stashed post-filter rate
    * literals → per-language card. A def — the stash only exists
    * after the gate runs.
    */
  private def curate6Oracle: String = curate6Rates match {
    case None => "SELECT 1 AS never WHERE 1 = 0"
    case Some(rates) =>
      val values = rates.map { case (g, r) =>
        s"('${g.replace("'", "''")}', $r)"
      }.mkString(", ")
      val pats = blocklistPatterns.map(p => s"('$p')").mkString(", ")
      val h = "md5('tmix:' || text)"
      val bucket = (1 to 4).map { i =>
        val w = math.pow(16, 4 - i).toInt
        s"(strpos('0123456789abcdef', substr($h, $i, 1)) - 1) * $w"
      }.mkString(" + ")
      (s"""WITH p(pat) AS (SELECT * FROM (VALUES $pats)),
         |d AS (SELECT doc_id, lang, coalesce(text, '') AS text
         |  FROM documents),
         |i AS (SELECT CAST(range AS INT) AS i FROM range(1, 2049)),
         |hit AS (SELECT DISTINCT d.doc_id
         |  FROM d CROSS JOIN p CROSS JOIN i
         |  WHERE i.i + len(p.pat) - 1 <= len(d.text)
         |    AND substr(d.text, i.i, len(p.pat)) = p.pat),
         |c AS (SELECT d.doc_id, d.lang, d.text FROM d
         |  LEFT JOIN hit ON d.doc_id = hit.doc_id
         |  WHERE hit.doc_id IS NULL),
         |r AS (SELECT * FROM (VALUES $values) t(lang, rate)),
         |m AS (SELECT c.doc_id, c.lang, c.text FROM c
         |  JOIN r USING (lang) WHERE $bucket < rate),
         |tk AS (SELECT lang,
         |  CAST(len($tokensSql) AS BIGINT) AS nt FROM m)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(nt) AS BIGINT) AS n_tokens
         |FROM tk GROUP BY 1""".stripMargin).replaceAll(raw"\s+", " ")
  }

  /** Oracle for q_t_temp_mix from the stashed driver-computed rates
    * (see tempMixRates); replays the salted 16-bit md5-bucket filter
    * with the identical rate literals. Must be a def — the stash only
    * exists after the gate runs.
    */
  private def tempMixOracle: String = tempMixRates match {
    case None => "SELECT 1 AS never WHERE 1 = 0"
    case Some(rates) =>
      val values = rates.map { case (g, r) =>
        s"('${g.replace("'", "''")}', $r)"
      }.mkString(", ")
      val h = "md5('tmix:' || text)"
      val bucket = (1 to 4).map { i =>
        val w = math.pow(16, 4 - i).toInt
        s"(strpos('0123456789abcdef', substr($h, $i, 1)) - 1) * $w"
      }.mkString(" + ")
      s"WITH d AS (SELECT doc_id, lang, coalesce(text, '') AS text " +
        "FROM documents), " +
        s"r AS (SELECT * FROM (VALUES $values) t(lang, rate)) " +
        "SELECT d.doc_id, d.lang FROM d JOIN r USING (lang) " +
        s"WHERE $bucket < rate"
  }

  /** Oracle for q_t_temp_epochs from the stashed driver-computed
    * epoch factors: VALUES-literal factor table, identical md5 16-bit
    * bucket, integer floor/mod split, range-exploded copy index.
    * Must be a def — the stash only exists after the gate runs.
    */
  private def tempEpochOracle: String = tempEpochFactors match {
    case None => "SELECT 1 AS never WHERE 1 = 0"
    case Some(fs) =>
      val values = fs.map { case (g, r) =>
        s"('${g.replace("'", "''")}', $r)"
      }.mkString(", ")
      s"WITH d AS (SELECT doc_id, lang, coalesce(text, '') AS text " +
        "FROM documents WHERE lang IS NOT NULL), " +
        s"r AS (SELECT * FROM (VALUES $values) t(lang, f)), " +
        "c AS (SELECT doc_id, d.lang AS lang, (f // 65536) + " +
        s"CASE WHEN ${bucket65536SqlOf("'rep:' || text")} < (f % 65536) " +
        "THEN 1 ELSE 0 END AS n FROM d JOIN r USING (lang)) " +
        "SELECT doc_id, lang, CAST(u AS INT) AS copy FROM " +
        "(SELECT doc_id, lang, unnest(range(1, n + 1)) AS u FROM c " +
        "WHERE n > 0)"
  }

  /** Oracle for q_v_pca_project, built from the gate's stashed
    * driver-fitted literals (see pcaLiterals). Replays the distributed
    * half — micros quantization, literal-mean centering, literal-
    * weight dot products — in pure BIGINT; one UNION ALL branch per
    * component. Must be a def: the literals only exist after the gate
    * runs.
    */
  /** Oracle for q_t_pack_sem from the stashed centroid-micros
    * literals: quantize embeddings the PCA way, k integer dot
    * products per row, argmax via list_position (first occurrence =
    * lowest cluster, the engine's tie-break), then the per-cluster
    * (ip desc, id) window packing. Must be a def — the stash only
    * exists after the gate runs.
    */
  private def semPackOracle: String = semPackCentroids match {
    case None => "SELECT 1 AS never WHERE 1 = 0"
    case Some(cm) =>
      val d = cm.head.length
      val ips = cm.map { c =>
        val wl = c.mkString("[", ", ", "]")
        s"CAST(list_sum(list_transform(range(1, ${d + 1}), " +
          s"j -> qm[j] * (($wl)[j]))) AS BIGINT)"
      }.mkString("[", ", ", "]")
      "WITH q AS (SELECT vec_id AS doc_id, list_transform(embedding, " +
        "x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qm " +
        "FROM embeddings), " +
        s"a AS MATERIALIZED (SELECT doc_id, $ips AS ips FROM q), " +
        "c AS (SELECT doc_id, CAST(list_position(ips, list_max(ips)) - 1 " +
        "AS INT) AS cluster, list_max(ips) AS ip_micros FROM a), " +
        "src AS (SELECT doc_id, coalesce(text, '') AS text FROM documents), " +
        s"tok AS (SELECT doc_id, CAST(len($tokensSql) AS BIGINT) " +
        "AS n_tokens FROM src), " +
        "o AS (SELECT c.doc_id, cluster, ip_micros, n_tokens, " +
        "CAST(sum(n_tokens) OVER (PARTITION BY cluster " +
        "ORDER BY ip_micros DESC, c.doc_id ASC ROWS UNBOUNDED PRECEDING) " +
        "- n_tokens AS BIGINT) AS start_offset " +
        "FROM c JOIN tok ON c.doc_id = tok.doc_id) " +
        "SELECT doc_id, cluster, ip_micros, n_tokens, start_offset, " +
        "start_offset // 1024 AS seq_id FROM o"
  }

  private def pcaProjectOracle: String = pcaLiterals match {
    case None => "SELECT 1 AS never WHERE 1 = 0"
    case Some((m, w)) =>
      val ml = m.mkString("[", ", ", "]")
      val d = m.length
      val comps = w.zipWithIndex.map { case (row, c) =>
        val wl = row.mkString("[", ", ", "]")
        s"SELECT vec_id, ${c + 1} AS component, " +
          s"CAST(list_sum(list_transform(range(1, ${d + 1}), " +
          s"j -> (q[j] - ($ml)[j]) * (($wl)[j]))) AS BIGINT) AS proj " +
          "FROM q"
      }.mkString(" UNION ALL ")
      "WITH q AS (SELECT vec_id, list_transform(embedding, x -> " +
        "CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q " +
        s"FROM embeddings) $comps"
  }

  /** The q_t_gopher report, shared so compositions can CTE it. */
  private lazy val gopherReportSql: String =
    (s"""WITH src AS (SELECT doc_id, coalesce(text, '') AS text
         |  FROM documents),
         |m AS (SELECT doc_id, $tokensSql AS tk,
         |  list_filter(list_transform(string_split(text, chr(10)),
         |    x -> trim(x)), x -> length(x) > 0) AS ln,
         |  (length(text) - length(replace(text, '#', ''))) +
         |  (length(text) - length(replace(text, '…', ''))) +
         |  ((length(replace(text, '…', '')) -
         |    length(regexp_replace(replace(text, '…', ''),
         |      '\\.\\.\\.', '', 'g'))) // 3) AS symbols
         |  FROM src),
         |a AS (SELECT doc_id,
         |  CAST(len(tk) AS BIGINT) AS n_words,
         |  CAST(len(ln) AS BIGINT) AS n_lines,
         |  coalesce(list_sum(list_transform(tk, x -> length(x))), 0)
         |    AS sumlen,
         |  symbols,
         |  len(list_filter(ln, x -> starts_with(x, '-')
         |    OR starts_with(x, '*') OR starts_with(x, '•'))) AS bullets,
         |  len(list_filter(ln, x -> ends_with(x, '...')
         |    OR ends_with(x, '…'))) AS ellipses,
         |  len(list_filter(tk, x -> regexp_matches(x, '[a-z]'))) AS alpha,
         |  len(list_intersect(tk, ['the', 'be', 'to', 'of', 'and',
         |    'that', 'have', 'with'])) AS stops,
         |  len(list_distinct(ln)) AS ndistinct
         |  FROM m)
         |SELECT doc_id, n_words, n_lines,
         |  (n_words >= 50 AND n_words <= 100000) AS r_wordcount,
         |  (n_words > 0 AND sumlen >= n_words * 3
         |    AND sumlen <= n_words * 10) AS r_meanlen,
         |  (n_words > 0 AND symbols * 10 <= n_words) AS r_symbol,
         |  (n_lines = 0 OR bullets * 10 <= n_lines * 9) AS r_bullet,
         |  (n_lines = 0 OR ellipses * 10 <= n_lines * 3) AS r_ellipsis,
         |  (n_words > 0 AND alpha * 10 >= n_words * 8) AS r_alpha,
         |  (stops >= 2) AS r_stop,
         |  (n_lines = 0 OR (n_lines - ndistinct) * 10 <= n_lines * 3)
         |    AS r_dupline,
         |  ((n_words >= 50 AND n_words <= 100000)
         |    AND (n_words > 0 AND sumlen >= n_words * 3
         |      AND sumlen <= n_words * 10)
         |    AND (n_words > 0 AND symbols * 10 <= n_words)
         |    AND (n_lines = 0 OR bullets * 10 <= n_lines * 9)
         |    AND (n_lines = 0 OR ellipses * 10 <= n_lines * 3)
         |    AND (n_words > 0 AND alpha * 10 >= n_words * 8)
         |    AND (stops >= 2)
         |    AND (n_lines = 0 OR (n_lines - ndistinct) * 10 <= n_lines * 3))
         |    AS pass
         |FROM a""".stripMargin)
        .replaceAll(raw"\s+", " ")

  private lazy val oracleSqlMap: Map[String, String] = Map(
    "q_t_token_count" ->
      raw"""SELECT doc_id, CAST(len($tokensSql) AS INT) AS n_tokens,
        CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS INT) AS n_bpe
        FROM documents""".replaceAll(raw"\s+", " "),

    "q_t_quality" ->
      (s"SELECT doc_id, $qualityMicrosSql AS quality_micros FROM documents")
        .replaceAll(raw"\s+", " "),

    // per-type smoothed-KL replay: integer counts, the ONE ln/round
    // site per type (the dsirWtCtes precedent for ln parity)
    "q_dq_vocab_drift" ->
      (s"""WITH cr AS (SELECT token, count(*) AS n FROM
         |  (SELECT unnest($tokensSql) AS token FROM documents
         |   WHERE doc_id % 2 = 0) GROUP BY 1),
         |cc AS (SELECT token, count(*) AS n FROM
         |  (SELECT unnest($tokensSql) AS token FROM documents
         |   WHERE doc_id % 2 = 1) GROUP BY 1),
         |j AS (SELECT coalesce(cr.token, cc.token) AS token,
         |  coalesce(cr.n, 0) AS n_ref, coalesce(cc.n, 0) AS n_cur
         |  FROM cr FULL OUTER JOIN cc ON cr.token = cc.token),
         |t AS (SELECT coalesce(sum(n_ref), 0) AS nr,
         |  coalesce(sum(n_cur), 0) AS nc, count(*) AS v FROM j)
         |SELECT token, CAST(n_ref AS BIGINT) AS n_ref,
         |  CAST(n_cur AS BIGINT) AS n_cur,
         |  CAST(round(1000000.0 *
         |    ((n_cur + 1) / CAST(nc + v AS DOUBLE)) *
         |    ln(((n_cur + 1) / CAST(nc + v AS DOUBLE)) /
         |       ((n_ref + 1) / CAST(nr + v AS DOUBLE))))
         |    AS BIGINT) AS kl_micros
         |FROM j, t""".stripMargin).replaceAll(raw"\s+", " "),

    "q_t_langid" ->
      s"SELECT doc_id, $langCaseSql AS lang_pred FROM documents"
        .replaceAll(raw"\s+", " "),

    // κ replayed: the langid CASE supplies annotator 2, then the
    // exact (agree·N − S)/(N² − S) rational with one micros rounding
    "q_dq_kappa" ->
      (s"""WITH p0 AS (SELECT lang AS a, $langCaseSql AS b
         |  FROM documents),
         |p AS (SELECT a, b FROM p0
         |  WHERE a IS NOT NULL AND b IS NOT NULL),
         |n1 AS (SELECT a AS l, CAST(count(*) AS BIGINT) AS n1
         |  FROM p GROUP BY 1),
         |n2 AS (SELECT b AS l, CAST(count(*) AS BIGINT) AS n2
         |  FROM p GROUP BY 1),
         |s AS (SELECT CAST(coalesce(sum(n1 * n2), 0) AS BIGINT)
         |  AS s_prod FROM n1 JOIN n2 USING (l)),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(coalesce(sum(CASE WHEN a = b THEN 1 ELSE 0 END), 0)
         |    AS BIGINT) AS agree FROM p)
         |SELECT n, agree, s_prod,
         |  CASE WHEN n * n = s_prod THEN NULL
         |    ELSE CAST(round(1000000.0 *
         |      (CAST(agree * n - s_prod AS DOUBLE) /
         |       CAST(n * n - s_prod AS DOUBLE))) AS BIGINT) END
         |  AS kappa_micros
         |FROM t, s""".stripMargin).replaceAll(raw"\s+", " "),

    "q_t_quota" ->
      (s"WITH d AS (SELECT doc_id, $langCaseSql AS lang, " +
        s"CAST($qualityMicrosSql AS DOUBLE) AS quality FROM documents), " +
        "r AS (SELECT lang, doc_id, quality, row_number() OVER " +
        "(PARTITION BY lang ORDER BY quality DESC, doc_id ASC) AS rnk FROM d) " +
        "SELECT lang, CAST(rnk AS INT) AS rank, doc_id, quality FROM r " +
        "WHERE rnk <= 20").replaceAll(raw"\s+", " "),

    "q_t_stats" ->
      (s"WITH d AS (SELECT $langCaseSql AS lang, " +
        s"CAST(len($tokensSql) AS INT) AS nt, $qualityMicrosSql AS qm " +
        "FROM documents) " +
        "SELECT lang, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS total_tokens, " +
        "CAST(sum(qm) AS BIGINT) AS sum_quality_micros FROM d " +
        "GROUP BY ROLLUP(lang)").replaceAll(raw"\s+", " "),

    "q_t_sample" ->
      s"SELECT doc_id FROM documents WHERE $bucketSql < 64",

    // components are closed-form (chain decades); the split hashes the
    // component id exactly like q_t_split hashes the text
    "q_t_split_leakfree" ->
      (s"""WITH c AS (SELECT doc_id, doc_id - doc_id % 10 AS component
         |  FROM documents),
         |b AS (SELECT doc_id, component,
         |  CAST(${bucketSqlOf("CAST(component AS VARCHAR)")} AS INT)
         |    AS bk FROM c)
         |SELECT doc_id, component, CASE WHEN bk < 205 THEN 'train'
         |  WHEN bk < 230 THEN 'val' ELSE 'test' END AS split FROM b"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_pipe_funnel" ->
      (s"""WITH d AS (SELECT $qualityMicrosSql AS qm,
         |  $langCaseSql AS lang, CAST(len($tokensSql) AS BIGINT) AS nt
         |  FROM documents)
         |SELECT count(*) AS n_all,
         |  CAST(sum(CASE WHEN qm >= 400000 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_quality,
         |  CAST(sum(CASE WHEN qm >= 400000 AND lang = 'en' THEN 1 ELSE 0
         |    END) AS BIGINT) AS n_lang,
         |  CAST(sum(CASE WHEN qm >= 400000 AND lang = 'en' AND nt >= 20
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_length
         |FROM d""".stripMargin).replaceAll(raw"\s+", " "),

    "q_pipe_curate" ->
      (s"""WITH f AS (SELECT doc_id, text FROM documents
         |  WHERE $qualityMicrosSql >= 400000),
         |d AS (SELECT text, min(doc_id) AS doc_id FROM f GROUP BY text),
         |l AS (SELECT CASE WHEN $bucketSql < 205 THEN 'train'
         |  WHEN $bucketSql < 230 THEN 'val' ELSE 'test' END AS split,
         |  CAST(len($tokensSql) AS INT) AS nt FROM d)
         |SELECT split, count(*) AS n_docs,
         |  CAST(sum(nt) AS BIGINT) AS total_tokens FROM l GROUP BY 1"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // the stream's winner set is pure arithmetic: per distinct cleaned
    // text among quality-passers, the min EVEN id if one exists (batch
    // 0 emitted it), else the min id + 1e6 (first seen in batch 1 as a
    // copy); lang/split recomputed over the winner's cleaned text
    "q_pipe_stream_curate" ->
      (s"""WITH c AS (SELECT doc_id,
         |    ${cleanSql("coalesce(text, '')")} AS text FROM documents),
         |q AS (SELECT doc_id, text FROM c WHERE $qualityMicrosSql >= 400000),
         |w AS (SELECT text,
         |    coalesce(min(CASE WHEN doc_id % 2 = 0 THEN doc_id END),
         |      min(doc_id) + 1000000) AS doc_id
         |  FROM q GROUP BY text)
         |SELECT doc_id, $langCaseSql AS lang,
         |  CASE WHEN $bucketSql < 205 THEN 'train'
         |    WHEN $bucketSql < 230 THEN 'val' ELSE 'test' END AS split
         |FROM w""".stripMargin.replaceAll(raw"\s+", " ")),

    "q_pipe_curate2" ->
      (s"""WITH c AS (SELECT doc_id, ${cleanSql("text")} AS text FROM documents),
         |q AS (SELECT doc_id, text FROM c WHERE $qualityMicrosSql >= 400000),
         |d AS (SELECT min(doc_id) AS doc_id, text FROM q GROUP BY text),
         |corp AS (SELECT doc_id, text FROM d WHERE doc_id % 97 <> 0),
         |bt AS (SELECT $tokensSql AS ta FROM c WHERE doc_id % 97 = 0),
         |bsh AS (SELECT DISTINCT unnest($shinglesSqlA) AS sh FROM bt),
         |ct AS (SELECT doc_id, $tokensSql AS ta FROM corp),
         |csh AS (SELECT doc_id, unnest(list_distinct($shinglesSqlA)) AS sh FROM ct),
         |bad AS (SELECT DISTINCT doc_id FROM csh JOIN bsh USING (sh)),
         |decon AS (SELECT doc_id, text FROM corp
         |          WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
         |m AS (SELECT doc_id, text, $langCaseSql AS lang,
         |      $bucketSql AS bucket, $mixBucketSql AS mixb FROM decon),
         |mixed AS (SELECT * FROM m WHERE mixb <
         |  CASE WHEN lang = 'en' THEN 192 WHEN lang = 'und' THEN 64
         |  ELSE 128 END)
         |SELECT CASE WHEN bucket < 205 THEN 'train'
         |  WHEN bucket < 230 THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n_docs,
         |  CAST(sum(len($tokensSql)) AS BIGINT) AS total_tokens
         |FROM mixed GROUP BY 1""".stripMargin).replaceAll(raw"\s+", " "),

    // curate7 replay: curate2's chain, then the fractional-epoch
    // explode (identical md5 16-bit bucket) before the split rollup
    "q_pipe_curate7" -> {
      val f = "CASE WHEN lang = 'en' THEN 150733 WHEN lang = 'de' " +
        "THEN 98304 ELSE 65536 END"
      (s"""WITH c AS (SELECT doc_id, ${cleanSql("text")} AS text FROM documents),
         |q AS (SELECT doc_id, text FROM c WHERE $qualityMicrosSql >= 400000),
         |d AS (SELECT min(doc_id) AS doc_id, text FROM q GROUP BY text),
         |corp AS (SELECT doc_id, text FROM d WHERE doc_id % 97 <> 0),
         |bt AS (SELECT $tokensSql AS ta FROM c WHERE doc_id % 97 = 0),
         |bsh AS (SELECT DISTINCT unnest($shinglesSqlA) AS sh FROM bt),
         |ct AS (SELECT doc_id, $tokensSql AS ta FROM corp),
         |csh AS (SELECT doc_id, unnest(list_distinct($shinglesSqlA)) AS sh
         |        FROM ct),
         |bad AS (SELECT DISTINCT doc_id FROM csh JOIN bsh USING (sh)),
         |decon AS (SELECT doc_id, text FROM corp
         |          WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
         |e AS (SELECT doc_id, text, $langCaseSql AS lang FROM decon),
         |n AS (SELECT doc_id, text, ($f // 65536) +
         |  CASE WHEN ${bucket65536SqlOf("'rep:' || text")} < ($f % 65536)
         |  THEN 1 ELSE 0 END AS n FROM e),
         |x AS (SELECT doc_id, text FROM
         |  (SELECT doc_id, text, unnest(range(1, n + 1)) FROM n
         |   WHERE n > 0))
         |SELECT CASE WHEN $bucketSql < 205 THEN 'train'
         |  WHEN $bucketSql < 230 THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n_copies, count(DISTINCT doc_id) AS n_docs,
         |  CAST(sum(len($tokensSql)) AS BIGINT) AS total_tokens
         |FROM x GROUP BY 1""".stripMargin).replaceAll(raw"\s+", " ")
    },

    // the ledger replay: curate2's CTE chain kept per-doc, outcome =
    // first-failing-stage CASE in the same order the engine computes
    "q_pipe_ledger" ->
      (s"""WITH c AS (SELECT doc_id, ${cleanSql("text")} AS text FROM documents),
         |p AS (SELECT doc_id, text,
         |  CASE WHEN $qualityMicrosSql >= 400000 THEN 1 ELSE 0 END AS qok
         |  FROM c),
         |q AS (SELECT doc_id, text FROM p WHERE qok = 1),
         |k AS (SELECT text, min(doc_id) AS keeper FROM q GROUP BY text),
         |corp AS (SELECT q.doc_id, q.text FROM q JOIN k USING (text)
         |         WHERE q.doc_id = k.keeper AND q.doc_id % 97 <> 0),
         |bt AS (SELECT $tokensSql AS ta FROM c WHERE doc_id % 97 = 0),
         |bsh AS (SELECT DISTINCT unnest($shinglesSqlA) AS sh FROM bt),
         |ct AS (SELECT doc_id, $tokensSql AS ta FROM corp),
         |csh AS (SELECT doc_id, unnest(list_distinct($shinglesSqlA)) AS sh
         |        FROM ct),
         |bad AS (SELECT DISTINCT doc_id FROM csh JOIN bsh USING (sh))
         |SELECT p.doc_id,
         |  CASE WHEN p.qok = 0 THEN 'low_quality'
         |    WHEN p.doc_id <> k.keeper THEN 'dup_loser'
         |    WHEN p.doc_id % 97 = 0 THEN 'benchmark_heldout'
         |    WHEN p.doc_id IN (SELECT doc_id FROM bad) THEN 'contaminated'
         |    WHEN $mixBucketSql >= CASE WHEN $langCaseSql = 'en' THEN 192
         |      WHEN $langCaseSql = 'und' THEN 64 ELSE 128 END
         |      THEN 'mix_sampled_out'
         |    ELSE 'kept_' || CASE WHEN $bucketSql < 205 THEN 'train'
         |      WHEN $bucketSql < 230 THEN 'val' ELSE 'test' END
         |  END AS outcome
         |FROM p LEFT JOIN k USING (text)"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_t_heavy" ->
      (s"SELECT u.token AS token, count(*) AS n FROM " +
        s"(SELECT unnest($tokensSql) AS token FROM documents) u " +
        "GROUP BY 1 HAVING count(*) >= 500"),

    "q_t_postings" ->
      (s"""WITH t AS (SELECT doc_id, $tokensSql AS tk FROM documents),
         |p AS (SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1),
         |  i -> struct_pack(pos := i, tok := tk[i]))) AS u FROM t)
         |SELECT u.tok AS token, doc_id, count(*) AS n_occ,
         |  array_to_string(list(u.pos ORDER BY u.pos), ',') AS positions_csv
         |FROM p GROUP BY 1, 2""".stripMargin).replaceAll(raw"\s+", " "),

    "q_t_tfidf" ->
      (s"""WITH tok AS (SELECT doc_id, unnest($tokensSql) AS token FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM documents)
         |SELECT tf.doc_id, tf.token, tf.tf,
         |  tf.tf * CAST(round(1000000.0 * ln(CAST(n.n AS DOUBLE) / df)) AS BIGINT)
         |    AS tfidf_micros
         |FROM tf, dfreq, n WHERE tf.token = dfreq.token""".stripMargin)
        .replaceAll(raw"\s+", " "),

    // mirrors TfIdf.bm25's integer identity: score = idf·22·tf·T /
    // (10·tf·T + 3·T + 9·dl·N), half-up-rounded via integer division.
    // DuckDB `//` and Spark `div` both floor; all operands positive.
    "q_t_bm25" ->
      (s"""WITH tok AS (SELECT doc_id, unnest($tokensSql) AS token FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM documents),
         |tt AS (SELECT CAST(sum(dl) AS BIGINT) AS t FROM dl)
         |SELECT tf.doc_id, tf.token, tf.tf,
         |  (2 * (CAST(round(1000000.0 * ln(CAST(nn.n AS DOUBLE) / df)) AS BIGINT)
         |        * 22 * tf.tf * tt.t)
         |   + (10 * tf.tf * tt.t + 3 * tt.t + 9 * nn.n * dl.dl))
         |  // (2 * (10 * tf.tf * tt.t + 3 * tt.t + 9 * nn.n * dl.dl))
         |  AS bm25_micros
         |FROM tf JOIN dl ON tf.doc_id = dl.doc_id
         |JOIN dfreq ON tf.token = dfreq.token, nn, tt""".stripMargin)
        .replaceAll(raw"\s+", " "),

    "q_t_fingerprint" ->
      ("SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(string_split(text, ''), ch -> CAST(ascii(ch) AS BIGINT))), " +
        "(acc, x) -> (acc * 31 + x) % 1000000007) AS fp FROM documents"),

    "q_t_redact" ->
      (raw"SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(" +
        raw"text || ' contact admin@example.com or 555-123-4567 / (555) 123-4567" +
        raw" / +1 555 123 4567 at 10.0.0.1 build 999.1.2.3', " +
        raw"'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
        raw"'(\+?1[-. ])?(\([0-9]{3}\)|\b[0-9]{3})[-. ][0-9]{3}[-. ][0-9]{4}\b', '<PHONE>', 'g'), " +
        raw"'\b(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])(\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}\b', '<IP>', 'g') " +
        "AS clean_text FROM documents"),

    "q_t_vocab" ->
      (s"SELECT u.token AS token, count(*) AS n FROM (SELECT unnest($tokensSql) " +
        "AS token FROM documents) u GROUP BY 1 " +
        "ORDER BY n DESC, token ASC LIMIT 100"),

    "q_t_cms" ->
      (s"SELECT u.token AS token, count(*) AS est_count FROM " +
        s"(SELECT unnest($tokensSql) AS token FROM documents) u GROUP BY 1 " +
        "ORDER BY est_count DESC, token ASC LIMIT 100"),

    // the full KMV estimator replayed: distinct (lang, hash48) pairs,
    // rank within lang, exact count below saturation, else
    // (k−1)·2⁴⁸ // h_k — integer arithmetic end to end (k = 16,
    // 15·2⁴⁸ ≈ 4.2e15 < 2⁶³)
    "q_t_kmv" ->
      (s"""WITH tok AS (SELECT $langCaseSql AS lang,
         |    unnest(list_distinct($tokensSql)) AS token FROM documents),
         |  d AS (SELECT DISTINCT lang, ${hash48SqlOf("token")} AS h FROM tok),
         |  r AS (SELECT lang, h,
         |    row_number() OVER (PARTITION BY lang ORDER BY h) AS rn,
         |    count(*) OVER (PARTITION BY lang) AS nd FROM d)
         |SELECT lang,
         |  CAST(CASE WHEN max(nd) < 16 THEN max(nd)
         |    ELSE (15 * ${Sketch.Kmv.HashSpace}) //
         |      max(CASE WHEN rn = 16 THEN h END) END AS BIGINT)
         |    AS est_distinct,
         |  CAST(least(max(nd), 16) AS BIGINT) AS sketch_rows
         |FROM r GROUP BY lang ORDER BY lang""".stripMargin
        .replaceAll(raw"\s+", " ")),

    // the blob round trip must preserve every byte: length + md5 of
    // the UTF-8 encoding, straight from the source table
    "q_s32_binary_ingest" ->
      ("SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) " +
        "AS byte_len, md5(text) AS content_md5 FROM documents " +
        "WHERE doc_id < 2000"),

    "q_t_docfreq" ->
      (s"SELECT u.token AS token, count(*) AS n_docs FROM " +
        s"(SELECT unnest(list_distinct($tokensSql)) AS token FROM documents) u " +
        "GROUP BY 1"),

    "q_t_split" ->
      (s"WITH b AS (SELECT doc_id, CAST($bucketSql AS INT) AS bucket " +
        "FROM documents) " +
        "SELECT doc_id, bucket, CASE WHEN bucket < 205 THEN 'train' " +
        "WHEN bucket < 230 THEN 'val' ELSE 'test' END AS split FROM b"),

    // stratified split replayed: distinct (lang, md5) ranked in hash
    // order, exact integer thresholds, null-safe re-join
    "q_t_split_strat" ->
      ("""WITH h AS (SELECT doc_id, lang,
         |  md5(coalesce(text, '')) AS hh FROM documents),
         |d AS (SELECT DISTINCT lang, hh FROM h),
         |r AS (SELECT lang, hh,
         |  row_number() OVER (PARTITION BY lang ORDER BY hh) AS rk,
         |  CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS nd
         |  FROM d),
         |lbl AS (SELECT lang, hh,
         |  CASE WHEN rk * 1000000 <= nd * 800000 THEN 'train'
         |       WHEN rk * 1000000 <= nd * 900000 THEN 'val'
         |       ELSE 'test' END AS split FROM r)
         |SELECT h.doc_id, h.lang, lbl.split
         |FROM h JOIN lbl ON h.lang IS NOT DISTINCT FROM lbl.lang
         |  AND h.hh = lbl.hh""".stripMargin)
        .replaceAll(raw"\s+", " "),

    // range end = first window reaching the last token (chunk 32,
    // stride 24) — mirrors chunkStructs' duplicate-tail suppression
    "q_t_chunks" ->
      (s"WITH t AS (SELECT doc_id, $tokensSql AS tk, " +
        "1 + 24 * ((greatest(len(" + tokensSql + ") - 32, 0) + 23) // 24) AS last_start " +
        "FROM documents) " +
        "SELECT doc_id, CAST(u.chunk_start AS INT) AS chunk_start, u.chunk AS chunk " +
        "FROM (SELECT doc_id, unnest(list_transform(range(1, last_start + 1, 24), " +
        "x -> struct_pack(chunk_start := x, chunk := array_to_string(tk[x:x+31], ' ')))) AS u " +
        "FROM t WHERE len(tk) > 0)"),

    "q_t_clean" ->
      (s"SELECT doc_id, ${cleanSql(
        "'<div class=\"x\"><p>Hello&nbsp;world &amp; <b>friends</b></p> '" +
          " || text || ' &lt;tag&gt; &quot;q&quot; <br/> tail</div>'")}" +
        " AS clean_text FROM documents"),

    // mirrors LangModel.bigramSurprisal: one rounding site per bigram
    // TYPE (round-half-away on a positive double in both engines),
    // then exact integer sums; sum(BIGINT) → HUGEINT casts back
    "q_t_surprisal" ->
      (s"""WITH t AS (SELECT doc_id, $tokensSql AS ta FROM documents),
         |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ta)),
         |    i -> struct_pack(w1 := ta[i], w2 := ta[i+1]))) AS b
         |  FROM t WHERE len(ta) >= 2),
         |occ AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2, count(*) AS tf
         |  FROM bg GROUP BY 1, 2, 3),
         |c12 AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS c12
         |  FROM occ GROUP BY 1, 2),
         |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
         |s AS (SELECT c12.w1, c12.w2,
         |    CAST(round(1000000.0 * ln(CAST(c1 AS DOUBLE) / c12)) AS BIGINT) AS s
         |  FROM c12 JOIN c1 ON c12.w1 = c1.w1)
         |SELECT occ.doc_id, CAST(sum(occ.tf) AS BIGINT) AS n_bigrams,
         |  CAST(sum(occ.tf * s.s) AS BIGINT) AS surprisal_micros
         |FROM occ JOIN s ON occ.w1 = s.w1 AND occ.w2 = s.w2
         |GROUP BY 1""".stripMargin).replaceAll(raw"\s+", " "),

    // the KN composition replayed end to end: split → count tables
    // (c12, c1+n1f, ne, nt) → per-type micros (ln of the identical
    // int64 ratio) → held-out scoring with LEFT-join OOV accounting
    "q_t_kn_surprisal" ->
      (s"""WITH d0 AS (SELECT doc_id, coalesce(text, '') AS text
         |  FROM documents),
         |d AS (SELECT doc_id, $tokensSql AS ta,
         |  CAST($bucketSql AS INT) AS bucket FROM d0),
         |bgt AS (SELECT doc_id, unnest(list_transform(range(1, len(ta)),
         |    i -> struct_pack(w1 := ta[i], w2 := ta[i+1]))) AS b
         |  FROM d WHERE bucket < 205 AND len(ta) >= 2),
         |c12 AS (SELECT b.w1 AS w1, b.w2 AS w2,
         |  CAST(count(*) AS BIGINT) AS c12 FROM bgt GROUP BY 1, 2),
         |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
         |  CAST(count(*) AS BIGINT) AS n1f FROM c12 GROUP BY 1),
         |ne AS (SELECT w2, CAST(count(*) AS BIGINT) AS ne
         |  FROM c12 GROUP BY 1),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM c12),
         |sm AS (SELECT c12.w1, c12.w2, CAST(round(1000000.0 *
         |    ln(CAST(c1.c1 * 4 * nt.nt AS DOUBLE) /
         |       CAST(greatest(c12.c12 * 4 - 3, 0) * nt.nt
         |         + c1.n1f * 3 * ne.ne AS DOUBLE))) AS BIGINT) AS s
         |  FROM c12 JOIN c1 ON c12.w1 = c1.w1
         |  JOIN ne ON c12.w2 = ne.w2, nt),
         |bgs AS (SELECT doc_id, unnest(list_transform(range(1, len(ta)),
         |    i -> struct_pack(w1 := ta[i], w2 := ta[i+1]))) AS b
         |  FROM d WHERE bucket >= 205 AND len(ta) >= 2),
         |occ AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2,
         |  CAST(count(*) AS BIGINT) AS tf FROM bgs GROUP BY 1, 2, 3),
         |j AS (SELECT occ.doc_id, occ.tf, sm.s FROM occ
         |  LEFT JOIN sm ON occ.w1 = sm.w1 AND occ.w2 = sm.w2)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
         |  CAST(coalesce(sum(CASE WHEN s IS NULL THEN tf END), 0)
         |    AS BIGINT) AS n_oov,
         |  CAST(coalesce(sum(tf * s), 0) AS BIGINT) AS kn_micros
         |FROM j GROUP BY 1""".stripMargin).replaceAll(raw"\s+", " "),

    // the interpolated order-3 replay: trigram/bigram type tables,
    // continuation counts at both orders, ONE ln per trigram type
    // over the composed int64 rational, held-out scoring with OOV
    "q_t_kn3_surprisal" ->
      (s"""WITH d0 AS (SELECT doc_id, coalesce(text, '') AS text
         |  FROM documents),
         |d AS (SELECT doc_id, $tokensSql AS ta,
         |  CAST($bucketSql AS INT) AS bucket FROM d0),
         |tg AS (SELECT doc_id, unnest(list_transform(range(1, len(ta) - 1),
         |    i -> struct_pack(w1 := ta[i], w2 := ta[i+1],
         |      w3 := ta[i+2]))) AS b
         |  FROM d WHERE bucket < 205 AND len(ta) >= 3),
         |c123 AS (SELECT b.w1 AS w1, b.w2 AS w2, b.w3 AS w3,
         |  CAST(count(*) AS BIGINT) AS c123 FROM tg GROUP BY 1, 2, 3),
         |h12 AS (SELECT w1, w2, CAST(sum(c123) AS BIGINT) AS h12,
         |  CAST(count(*) AS BIGINT) AS f3 FROM c123 GROUP BY 1, 2),
         |t23 AS (SELECT w2, w3, CAST(count(*) AS BIGINT) AS t23
         |  FROM c123 GROUP BY 1, 2),
         |t2 AS (SELECT w2, CAST(count(*) AS BIGINT) AS t2,
         |  CAST(count(DISTINCT w3) AS BIGINT) AS f2
         |  FROM c123 GROUP BY 1),
         |bg AS (SELECT unnest(list_transform(range(1, len(ta)),
         |    i -> struct_pack(w1 := ta[i], w2 := ta[i+1]))) AS b
         |  FROM d WHERE bucket < 205 AND len(ta) >= 2),
         |bt AS (SELECT DISTINCT b.w1 AS w1, b.w2 AS w2 FROM bg),
         |ne AS (SELECT w2 AS w3, CAST(count(*) AS BIGINT) AS ne
         |  FROM bt GROUP BY 1),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM bt),
         |sm AS (SELECT c123.w1, c123.w2, c123.w3, CAST(round(1000000.0 *
         |    ln(CAST(h12.h12 * 16 * t2.t2 * nt.nt AS DOUBLE) /
         |       CAST(greatest(c123.c123 * 4 - 3, 0) * 4 * t2.t2 * nt.nt
         |         + h12.f3 * 3 * (greatest(t23.t23 * 4 - 3, 0) * nt.nt
         |           + t2.f2 * 3 * ne.ne) AS DOUBLE))) AS BIGINT) AS s
         |  FROM c123 JOIN h12 ON c123.w1 = h12.w1 AND c123.w2 = h12.w2
         |  JOIN t23 ON c123.w2 = t23.w2 AND c123.w3 = t23.w3
         |  JOIN t2 ON c123.w2 = t2.w2
         |  JOIN ne ON c123.w3 = ne.w3, nt),
         |tgs AS (SELECT doc_id, unnest(list_transform(range(1, len(ta) - 1),
         |    i -> struct_pack(w1 := ta[i], w2 := ta[i+1],
         |      w3 := ta[i+2]))) AS b
         |  FROM d WHERE bucket >= 205 AND len(ta) >= 3),
         |occ AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2, b.w3 AS w3,
         |  CAST(count(*) AS BIGINT) AS tf FROM tgs GROUP BY 1, 2, 3, 4),
         |j AS (SELECT occ.doc_id, occ.tf, sm.s FROM occ
         |  LEFT JOIN sm ON occ.w1 = sm.w1 AND occ.w2 = sm.w2
         |    AND occ.w3 = sm.w3)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_trigrams,
         |  CAST(coalesce(sum(CASE WHEN s IS NULL THEN tf END), 0)
         |    AS BIGINT) AS n_oov,
         |  CAST(coalesce(sum(tf * s), 0) AS BIGINT) AS kn3_micros
         |FROM j GROUP BY 1""".stripMargin).replaceAll(raw"\s+", " "),

    // the KN composition at corpus scope: model CTEs shared with
    // q_t_kn_surprisal, every doc scored, integer avg surprisal,
    // rank-threshold keep (r·10 ≤ n·9) per language
    "q_pipe_ppl_filter" ->
      (s"""WITH d0 AS (SELECT doc_id, lang, coalesce(text, '') AS text
         |  FROM documents),
         |d AS (SELECT doc_id, lang, $tokensSql AS ta,
         |  CAST($bucketSql AS INT) AS bucket FROM d0),
         |bgt AS (SELECT doc_id, unnest(list_transform(range(1, len(ta)),
         |    i -> struct_pack(w1 := ta[i], w2 := ta[i+1]))) AS b
         |  FROM d WHERE bucket < 205 AND len(ta) >= 2),
         |c12 AS (SELECT b.w1 AS w1, b.w2 AS w2,
         |  CAST(count(*) AS BIGINT) AS c12 FROM bgt GROUP BY 1, 2),
         |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
         |  CAST(count(*) AS BIGINT) AS n1f FROM c12 GROUP BY 1),
         |ne AS (SELECT w2, CAST(count(*) AS BIGINT) AS ne
         |  FROM c12 GROUP BY 1),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM c12),
         |sm AS (SELECT c12.w1, c12.w2, CAST(round(1000000.0 *
         |    ln(CAST(c1.c1 * 4 * nt.nt AS DOUBLE) /
         |       CAST(greatest(c12.c12 * 4 - 3, 0) * nt.nt
         |         + c1.n1f * 3 * ne.ne AS DOUBLE))) AS BIGINT) AS s
         |  FROM c12 JOIN c1 ON c12.w1 = c1.w1
         |  JOIN ne ON c12.w2 = ne.w2, nt),
         |bga AS (SELECT doc_id, unnest(list_transform(range(1, len(ta)),
         |    i -> struct_pack(w1 := ta[i], w2 := ta[i+1]))) AS b
         |  FROM d WHERE len(ta) >= 2),
         |occ AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2,
         |  CAST(count(*) AS BIGINT) AS tf FROM bga GROUP BY 1, 2, 3),
         |j AS (SELECT occ.doc_id, occ.tf, sm.s FROM occ
         |  LEFT JOIN sm ON occ.w1 = sm.w1 AND occ.w2 = sm.w2),
         |sc AS (SELECT doc_id,
         |  CAST(coalesce(sum(tf * s), 0) AS BIGINT) AS kn,
         |  CAST(sum(CASE WHEN s IS NOT NULL THEN tf END) AS BIGINT)
         |    AS known
         |  FROM j GROUP BY 1),
         |k AS (SELECT sc.doc_id, d0.lang,
         |  CAST(kn // known AS BIGINT) AS ppl_q
         |  FROM sc JOIN d0 ON sc.doc_id = d0.doc_id WHERE known > 0),
         |r AS (SELECT doc_id, lang, ppl_q,
         |  row_number() OVER (PARTITION BY lang
         |    ORDER BY ppl_q ASC, doc_id ASC) AS r,
         |  count(*) OVER (PARTITION BY lang) AS n FROM k)
         |SELECT doc_id, lang, ppl_q FROM r WHERE r * 10 <= n * 9"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_t_mix" ->
      (s"WITH d AS (SELECT doc_id, $langCaseSql AS lang, " +
        s"$mixBucketSql AS bucket FROM documents) " +
        "SELECT doc_id, lang FROM d WHERE bucket < " +
        "CASE WHEN lang = 'en' THEN 192 WHEN lang = 'und' THEN 64 " +
        "ELSE 128 END").replaceAll(raw"\s+", " "),

    // fractional-epoch replay: identical md5 16-bit bucket, integer
    // floor/mod split of the factor, range-exploded copy index
    "q_t_epochs" -> {
      val f = "CASE WHEN lang = 'en' THEN 150733 WHEN lang = 'de' " +
        "THEN 98304 ELSE 65536 END"
      (s"""WITH d AS (SELECT doc_id, coalesce(text, '') AS text, lang
         |  FROM documents),
         |c AS (SELECT doc_id, ($f // 65536) +
         |  CASE WHEN ${bucket65536SqlOf("'rep:' || text")} < ($f % 65536)
         |  THEN 1 ELSE 0 END AS n FROM d)
         |SELECT doc_id, CAST(u AS INT) AS copy FROM
         |  (SELECT doc_id, unnest(range(1, n + 1)) AS u FROM c
         |   WHERE n > 0)""".stripMargin).replaceAll(raw"\s+", " ")
    },

    // sum(BIGINT) is HUGEINT in DuckDB — cast back to Spark's long
    "q_t_pack" ->
      (s"""WITH b AS (SELECT doc_id, CAST($bucketSql AS INT) AS bucket,
         |  CAST(len($tokensSql) AS BIGINT) AS n_tokens FROM documents),
         |o AS (SELECT doc_id, bucket, n_tokens,
         |  CAST(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_offset
         |  FROM b)
         |SELECT doc_id, bucket, n_tokens, start_offset,
         |  start_offset // 1024 AS seq_id FROM o""".stripMargin)
        .replaceAll(raw"\s+", " "),

    "q_t_rep_ratio" ->
      (s"WITH t AS (SELECT doc_id, $tokensSql AS ta FROM documents) " +
        s"SELECT doc_id, round(1.0 - len(list_distinct($shinglesSqlA)) * 1.0 " +
        s"/ len($shinglesSqlA), 6) AS rep_ratio FROM t"),

    // string shingles on the oracle side vs 64-bit shingle hashes on
    // the engine side: equivalent unless xxhash64 collides between a
    // corpus and a benchmark shingle (~|shingles|²/2⁶⁴)
    "q_t_decontam" ->
      (s"""WITH tq AS (SELECT doc_id, $tokensSql AS ta FROM documents),
         |bsh AS (SELECT DISTINCT unnest($shinglesSqlA) AS sh FROM tq
         |        WHERE doc_id % 97 = 0),
         |csh AS (SELECT doc_id, unnest(list_distinct($shinglesSqlA)) AS sh
         |        FROM tq WHERE doc_id % 97 <> 0),
         |bad AS (SELECT DISTINCT doc_id FROM csh JOIN bsh USING (sh))
         |SELECT doc_id FROM documents WHERE doc_id % 97 <> 0
         |AND doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin)
        .replaceAll(raw"\s+", " "),

    // embedding arm: flagged corpus rows ≡ the exact cross-relation
    // cosine threshold (the LSH blocking must be invisible)
    "q_t_decontam_sem" ->
      ("""SELECT DISTINCT c.vec_id FROM embeddings c JOIN embeddings b
         |ON b.vec_id % 7 = 3 AND
         |  list_sum(list_transform(range(1, len(c.embedding) + 1),
         |    i -> CAST(c.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
         |  (sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1),
         |    i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))) *
         |   sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
         |    i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))))
         |  >= 0.8""".stripMargin).replaceAll(raw"\s+", " "),

    "q_t_bottomk" ->
      (s"WITH d AS (SELECT doc_id, $langCaseSql AS lang, " +
        "(doc_id * 2654435761) % 4294967296 AS h FROM documents) " +
        "SELECT lang, CAST(rnk AS INT) AS rank, doc_id, h FROM " +
        "(SELECT lang, doc_id, h, row_number() OVER " +
        "(PARTITION BY lang ORDER BY h, doc_id) AS rnk FROM d) " +
        "WHERE rnk <= 8"),

    // the HLL gate's engine-independent half: exact per-lang distinct
    // tokens replayed in full; hll_ok is the Spark side's own
    // envelope verdict — TRUE here means the claim itself is what the
    // hash-compare checks (a drifted register layout flips it)
    "q_t_hll" ->
      (s"WITH d AS (SELECT $langCaseSql AS lang, " +
        s"unnest($tokensSql) AS token FROM documents) " +
        "SELECT lang, CAST(count(DISTINCT token) AS BIGINT) " +
        "AS exact_distinct, TRUE AS hll_ok FROM d GROUP BY lang"),

    "q_inc_agg" ->
      ("SELECT o_orderpriority, count(*) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) " +
        "AS rev_cents, min(o_orderkey) AS min_key, " +
        "max(o_orderkey) AS max_key FROM orders GROUP BY o_orderpriority"),

    // DSIR: the exact smoothed log-ratio formula, token for token —
    // each token type rounds to micros once, then integer dot products
    "q_t_dsir" ->
      (s"WITH $dsirWtCtes SELECT doc_id, n_tokens, logw_micros FROM wt")
        .replaceAll(raw"\s+", " "),

    "q_t_dsir_sel" ->
      (s"""WITH $dsirWtCtes
         |SELECT doc_id, n_tokens, logw_micros FROM wt,
         |  (SELECT percentile_cont(0.5) WITHIN GROUP
         |    (ORDER BY logw_micros) AS thr FROM wt)
         |WHERE CAST(logw_micros AS DOUBLE) >= thr""".stripMargin)
        .replaceAll(raw"\s+", " "),

    // curation composition v4: DSIR top-half selection → deterministic
    // content-hash split → per-split doc/token accounting
    "q_pipe_curate4" ->
      (s"""WITH $dsirWtCtes,
         |thr AS (SELECT percentile_cont(0.5) WITHIN GROUP
         |  (ORDER BY logw_micros) AS thr FROM wt),
         |keep AS (SELECT doc_id FROM wt, thr
         |  WHERE CAST(logw_micros AS DOUBLE) >= thr),
         |sel AS (SELECT d.doc_id, d.text FROM documents d
         |  JOIN keep USING (doc_id)),
         |lab AS (SELECT doc_id,
         |  CASE WHEN $bucketSql < 205 THEN 'train'
         |       WHEN $bucketSql < 230 THEN 'val' ELSE 'test' END AS split,
         |  CAST(len($tokensSql) AS BIGINT) AS nt FROM sel)
         |SELECT split, count(*) AS n_docs,
         |  CAST(sum(nt) AS BIGINT) AS total_tokens
         |FROM lab GROUP BY split""".stripMargin)
        .replaceAll(raw"\s+", " "),

    // components are closed-form; the split hashes the component id
    // (q_t_split_leakfree's arithmetic) and the per-split stats
    // replay the profile formulas
    "q_pipe_curate5" ->
      (s"""WITH c AS (SELECT doc_id, doc_id - doc_id % 10 AS component,
         |  $qualityMicrosSql AS qm,
         |  CAST(len($tokensSql) AS BIGINT) AS nt FROM documents),
         |b AS (SELECT qm, nt,
         |  CAST(${bucketSqlOf("CAST(component AS VARCHAR)")} AS INT)
         |    AS bk FROM c)
         |SELECT CASE WHEN bk < 205 THEN 'train'
         |  WHEN bk < 230 THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n_docs,
         |  CAST(sum(qm) AS BIGINT) AS sum_quality_micros,
         |  CAST(sum(nt) AS BIGINT) AS total_tokens
         |FROM b GROUP BY 1"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // both MV-maintenance oracles are the FULL aggregate over the
    // after-state relation — the maintenance identity itself
    "q_mv_retract" ->
      ("""WITH a AS (SELECT p_partkey, p_brand,
         |  CAST(round(p_retailprice * 100) AS BIGINT) +
         |  CASE WHEN p_partkey % 5 = 0 THEN 100 ELSE 0 END AS price_cents
         |  FROM part WHERE p_size <= 48)
         |SELECT p_brand, count(*) AS n_parts,
         |  CAST(sum(price_cents) AS BIGINT) AS sum_cents
         |FROM a GROUP BY p_brand""".stripMargin).replaceAll(raw"\s+", " "),

    "q_mv_stream" ->
      ("""WITH a AS (SELECT p_partkey, p_brand,
         |  CAST(round(p_retailprice * 100) AS BIGINT) +
         |  CASE WHEN p_partkey % 5 = 0 THEN 100 ELSE 0 END AS price_cents
         |  FROM part WHERE p_size <= 48)
         |SELECT p_brand, count(*) AS n_parts,
         |  CAST(sum(price_cents) AS BIGINT) AS sum_cents
         |FROM a GROUP BY p_brand""".stripMargin).replaceAll(raw"\s+", " "),

    "q_mv_dirty" ->
      ("""WITH a AS (SELECT p_partkey, p_brand,
         |  CAST(round(p_retailprice * 100) AS BIGINT) +
         |  CASE WHEN p_partkey % 5 = 0 THEN 100 ELSE 0 END AS price_cents
         |  FROM part WHERE p_size <= 48)
         |SELECT p_brand, CAST(min(price_cents) AS BIGINT) AS min_cents,
         |  CAST(max(price_cents) AS BIGINT) AS max_cents,
         |  count(*) AS n_parts
         |FROM a GROUP BY p_brand""".stripMargin).replaceAll(raw"\s+", " "),

    "q_dq_expect" ->
      ("SELECT 'qty_in_range' AS rule, count(*) FILTER (WHERE NOT " +
        "coalesce(l_quantity BETWEEN 1 AND 50, false)) AS violations, " +
        "count(*) AS n_rows FROM lineitem UNION ALL " +
        "SELECT 'price_positive', count(*) FILTER (WHERE NOT " +
        "coalesce(l_extendedprice > 0, false)), count(*) FROM lineitem " +
        "UNION ALL SELECT 'qty_small', count(*) FILTER (WHERE NOT " +
        "coalesce(l_quantity <= 30, false)), count(*) FROM lineitem " +
        "UNION ALL SELECT 'ship_known', count(*) FILTER (WHERE " +
        "l_shipdate IS NULL), count(*) FROM lineitem"),

    // the identical per-claim rollup: distinct dependents (+1 when a
    // NULL dependent appears), keys with fan-out > 1
    "q_dq_fd" ->
      ("""WITH c1 AS (SELECT o_orderkey AS det,
         |  count(DISTINCT o_custkey) +
         |    max(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nv,
         |  count(*) AS nr FROM orders WHERE o_orderkey IS NOT NULL
         |  GROUP BY 1),
         |v1 AS (SELECT CAST(count(*) AS BIGINT) AS k,
         |  CAST(coalesce(sum(nr), 0) AS BIGINT) AS r,
         |  CAST(coalesce(max(nv), 0) AS BIGINT) AS f FROM c1
         |  WHERE nv > 1),
         |c2 AS (SELECT o_custkey AS det,
         |  count(DISTINCT o_orderpriority) +
         |    max(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
         |    AS nv,
         |  count(*) AS nr FROM orders WHERE o_custkey IS NOT NULL
         |  GROUP BY 1),
         |v2 AS (SELECT CAST(count(*) AS BIGINT) AS k,
         |  CAST(coalesce(sum(nr), 0) AS BIGINT) AS r,
         |  CAST(coalesce(max(nv), 0) AS BIGINT) AS f FROM c2
         |  WHERE nv > 1)
         |SELECT 'o_orderkey->o_custkey' AS claim,
         |  k AS n_violating_keys, r AS n_rows_covered, f AS max_fanout
         |  FROM v1
         |UNION ALL SELECT 'o_custkey->o_orderpriority', k, r, f
         |  FROM v2"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // round 13: the merge LIST itself — the full 16-round training
    // loop unrolled in SQL (see [[bpeMergeCtes]]); formerly rows-only
    "q_t_bpe" ->
      (s"WITH $bpeMergeCtes " + (1 to 16).map(k =>
        s"SELECT CAST(${k - 1} AS INT) AS rank, a, b FROM m$k")
        .mkString(" UNION ALL ")),

    "q_t_bpe_encode" -> bpeEncodeSql,

    // the unigram-LM trainer replayed END TO END: substring seed,
    // two hard-EM rounds of unrolled integer-micros Viterbi DP +
    // backtrack, count M-steps, rescoring (see [[unigramTrainCtes]])
    "q_t_unigram" -> unigramVocabSql,

    "q_t_unigram_encode" -> unigramEncodeSql,
    "q_t_fertility" -> unigramFertilitySql,

    // the thread-QA pipeline replayed: the same synthetic corruption
    // maps, per-message parity expectation, one GROUP BY with the
    // ranked status CASE, string_agg ORDER BY turn for ok threads
    // (turn is unique there, so the order is total)
    "q_sft_threads" ->
      (s"""WITH $sftThreadCtes
         |SELECT conv_id, n_msgs, n_turns, max_turn, n_tokens,
         |  CASE WHEN n_msgs <> n_turns THEN 'duplicate_turn'
         |       WHEN max_turn <> n_turns - 1 THEN 'turn_gap'
         |       WHEN mismatches > 0 THEN 'role_break'
         |       WHEN empties > 0 THEN 'empty_message'
         |       ELSE 'ok' END AS status,
         |  CASE WHEN n_msgs = n_turns AND max_turn = n_turns - 1
         |       AND mismatches = 0 AND empties = 0 THEN tx END
         |    AS transcript
         |FROM g""".stripMargin).replaceAll(raw"\s+", " "),

    // the SFT composition replayed: ok threads only, transcript-hash
    // bucket, the q_t_pack window over validated token counts
    "q_pipe_sft" ->
      (s"""WITH $sftThreadCtes,
         |ok AS (SELECT conv_id, n_tokens,
         |    CAST(${bucketSqlOf("tx")} AS INT) AS bucket
         |  FROM g WHERE n_msgs = n_turns AND max_turn = n_turns - 1
         |    AND mismatches = 0 AND empties = 0),
         |o AS (SELECT conv_id, bucket, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY bucket
         |      ORDER BY conv_id ROWS UNBOUNDED PRECEDING) - n_tokens
         |      AS BIGINT) AS start_offset
         |  FROM ok)
         |SELECT conv_id, bucket, n_tokens, start_offset,
         |  start_offset // 1024 AS seq_id FROM o""".stripMargin)
        .replaceAll(raw"\s+", " "),

    // the collator composition replayed: the q_pipe_sft pack chain +
    // the q_sft_lossmask span chain, spans re-based per thread
    "q_pipe_sft_mask" ->
      (s"""WITH $sftThreadCtes,
         |ok AS (SELECT conv_id, n_tokens,
         |    CAST(${bucketSqlOf("tx")} AS INT) AS bucket
         |  FROM g WHERE n_msgs = n_turns AND max_turn = n_turns - 1
         |    AND mismatches = 0 AND empties = 0),
         |o AS (SELECT conv_id, bucket,
         |    CAST(sum(n_tokens) OVER (PARTITION BY bucket
         |      ORDER BY conv_id ROWS UNBOUNDED PRECEDING) - n_tokens
         |      AS BIGINT) AS start_offset
         |  FROM ok),
         |mm AS (SELECT m.conv_id, m.turn, m.role,
         |  CAST(len($tokensSql) AS BIGINT) AS n_tok
         |  FROM m JOIN o USING (conv_id)),
         |sp AS (SELECT conv_id, turn, role, n_tok,
         |  CAST(sum(n_tok) OVER (PARTITION BY conv_id ORDER BY turn)
         |    AS BIGINT) AS end_tok FROM mm)
         |SELECT s.conv_id, CAST(s.turn AS BIGINT) AS turn, s.role,
         |  o.bucket,
         |  o.start_offset + s.end_tok - s.n_tok AS global_start,
         |  o.start_offset + s.end_tok AS global_end,
         |  s.role = 'assistant' AS mask
         |FROM sp s JOIN o USING (conv_id)""".stripMargin)
        .replaceAll(raw"\s+", " "),

    // best-of-n replayed: row_number over the (reward desc, id asc)
    // total order per prompt, rank-1 rows, audit aggregates, floor
    "q_pref_bestof" ->
      ("""WITH c AS (SELECT doc_id // 8 AS prompt_id, doc_id AS resp_id,
         |    (doc_id * 37) % 101 AS reward FROM documents),
         |r AS (SELECT prompt_id, resp_id, reward, row_number() OVER
         |    (PARTITION BY prompt_id ORDER BY reward DESC, resp_id ASC)
         |    AS rk FROM c),
         |a AS (SELECT prompt_id, CAST(count(*) AS BIGINT)
         |    AS n_candidates, CAST(min(reward) AS BIGINT) AS min_reward
         |  FROM c GROUP BY prompt_id)
         |SELECT r.prompt_id, r.resp_id AS best_resp,
         |  CAST(r.reward AS BIGINT) AS best_reward,
         |  a.n_candidates, a.min_reward
         |FROM r JOIN a ON r.prompt_id = a.prompt_id
         |WHERE r.rk = 1 AND r.reward >= 20""".stripMargin)
        .replaceAll(raw"\s+", " "),

    // the preference pipeline replayed stage for stage: orientation
    // normalization (flip on swap), per-rater dedup/self-cancel
    // (max = min over the rater's booleans), majority + margin
    "q_pref_resolve" ->
      (s"""WITH $prefVotesCtes
         |SELECT prompt_id, lo, hi, n_votes, n_lo,
         |  n_votes - n_lo AS n_hi,
         |  CASE WHEN n_lo*2 > n_votes THEN 'lo'
         |       WHEN n_lo*2 < n_votes THEN 'hi' END AS winner,
         |  (n_lo <> 0 AND n_lo <> n_votes) AS conflict,
         |  CAST((abs(n_lo*2 - n_votes) * 1000000) // n_votes AS BIGINT)
         |    AS margin_micros
         |FROM res""".stripMargin).replaceAll(raw"\s+", " "),

    // Bradley-Terry replayed: items/wins from the pair tallies, then
    // 3 MM rounds unrolled — each round one pair-term CTE (single
    // truncating division), one per-item denominator sum, one
    // ghost-regularized update. Exact int64 end to end
    "q_pref_bt" -> btOracleSql,

    // DPO pairs replayed: the BT chain + two rank-1 picks over the
    // same total orders (strength desc/resp asc for chosen, strength
    // asc/resp desc for rejected), margin threshold
    "q_pref_dpo" ->
      (s"""WITH $btOracleCtes,
         |ranked AS (SELECT prompt_id, resp, strength_micros,
         |  row_number() OVER (PARTITION BY prompt_id
         |    ORDER BY strength_micros DESC, resp ASC) AS rc,
         |  row_number() OVER (PARTITION BY prompt_id
         |    ORDER BY strength_micros ASC, resp DESC) AS rr,
         |  CAST(count(*) OVER (PARTITION BY prompt_id) AS BIGINT)
         |    AS n_responses
         |  FROM bt)
         |SELECT c.prompt_id, c.resp AS chosen_resp,
         |  r.resp AS rejected_resp,
         |  c.strength_micros AS chosen_strength,
         |  r.strength_micros AS rejected_strength,
         |  c.strength_micros - r.strength_micros AS margin_micros,
         |  c.n_responses
         |FROM ranked c JOIN ranked r ON c.prompt_id = r.prompt_id
         |  AND c.rc = 1 AND r.rr = 1
         |WHERE c.n_responses >= 2
         |  AND c.strength_micros - r.strength_micros >= 700000"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // all-pairs DPO replayed: the BT chain + the pair self-join
    // (strict-inequality or tie-broken-once orientation), margin
    // floor, widest-4 window with the total count carried
    "q_pref_dpo_all" ->
      (s"""WITH $btOracleCtes,
         |pairs AS (SELECT c.prompt_id, c.resp AS chosen_resp,
         |  r.resp AS rejected_resp,
         |  c.strength_micros AS chosen_strength,
         |  r.strength_micros AS rejected_strength,
         |  c.strength_micros - r.strength_micros AS margin_micros
         |  FROM bt c JOIN bt r ON c.prompt_id = r.prompt_id
         |  WHERE (c.strength_micros > r.strength_micros
         |     OR (c.strength_micros = r.strength_micros
         |         AND c.resp < r.resp))
         |    AND c.strength_micros - r.strength_micros >= 300000),
         |rk AS (SELECT prompt_id, chosen_resp, rejected_resp,
         |  chosen_strength, rejected_strength, margin_micros,
         |  CAST(row_number() OVER (PARTITION BY prompt_id
         |    ORDER BY margin_micros DESC, chosen_resp ASC,
         |    rejected_resp ASC) AS INT) AS pair_rank,
         |  CAST(count(*) OVER (PARTITION BY prompt_id) AS BIGINT)
         |    AS n_pairs_total
         |  FROM pairs)
         |SELECT * FROM rk WHERE pair_rank <= 4""".stripMargin)
        .replaceAll(raw"\s+", " "),

    // mean-centered group advantage replayed: the exact n-scaled
    // numerator, then the sign-split truncating division (DuckDB //
    // floors on negatives where Spark div truncates — the CASE keeps
    // both engines on |x| where they agree)
    "q_pref_grpo" ->
      ("""WITH c AS (SELECT doc_id // 8 AS prompt_id, doc_id AS resp_id,
         |  CAST((doc_id * 37) % 101 AS BIGINT) AS reward
         |  FROM documents),
         |g AS (SELECT prompt_id, CAST(sum(reward) AS BIGINT) AS s,
         |  CAST(count(*) AS BIGINT) AS n_samples FROM c GROUP BY 1)
         |SELECT c.prompt_id, c.resp_id, c.reward, g.n_samples,
         |  c.reward * g.n_samples - g.s AS adv_num,
         |  CAST(CASE WHEN c.reward * g.n_samples - g.s < 0
         |    THEN -((abs(c.reward * g.n_samples - g.s) * 1000000)
         |      // g.n_samples)
         |    ELSE ((c.reward * g.n_samples - g.s) * 1000000)
         |      // g.n_samples END AS BIGINT) AS adv_micros
         |FROM c JOIN g USING (prompt_id)""".stripMargin)
        .replaceAll(raw"\s+", " "),

    // calibration bins replayed: closed right edge via least(), all
    // divisions truncating on non-negative numerators
    "q_pref_calib" ->
      ("""WITH c AS (SELECT ((doc_id * 37) % 101) * 10000 AS p,
         |  ((doc_id * 53 + 11) % 100) < ((doc_id * 37) % 101) AS o
         |  FROM documents),
         |b AS (SELECT least((p * 10) // 1000000, 9) AS bin,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN o THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pos,
         |  CAST(sum(p) AS BIGINT) AS sp
         |  FROM c GROUP BY 1)
         |SELECT CAST(bin AS BIGINT) AS bin, n, n_pos,
         |  CAST(sp // n AS BIGINT) AS mean_pred_micros,
         |  CAST((n_pos * 1000000) // n AS BIGINT) AS emp_micros,
         |  CAST(abs(sp // n - (n_pos * 1000000) // n) AS BIGINT)
         |    AS gap_micros
         |FROM b""".stripMargin).replaceAll(raw"\s+", " "),

    // pass-rate window replayed: group pass tally, truncating-micros
    // rate, BETWEEN filter, sample rows re-joined with the meters
    "q_pref_passrate" ->
      ("""WITH c AS (SELECT doc_id // 8 AS prompt_id, doc_id AS resp_id,
         |  CAST((doc_id * doc_id) % 101 AS BIGINT) AS reward
         |  FROM documents),
         |g AS (SELECT prompt_id, CAST(count(*) AS BIGINT) AS n_samples,
         |  CAST(sum(CASE WHEN reward >= 60 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_pass FROM c GROUP BY 1),
         |f AS (SELECT prompt_id, n_samples, n_pass,
         |  CAST((n_pass * 1000000) // n_samples AS BIGINT)
         |    AS pass_rate_micros FROM g)
         |SELECT c.prompt_id, c.resp_id, c.reward, f.n_samples,
         |  f.n_pass, f.pass_rate_micros
         |FROM c JOIN f USING (prompt_id)
         |WHERE f.pass_rate_micros BETWEEN 200000 AND 800000"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // truncation replayed: the QA chain's ok gate, per-row token
    // counts (the same split-regex), suffix cumsum over turn desc
    // (turns unique within ok threads → total order), min even-turn
    // fit, filter + reindex
    "q_sft_truncate" ->
      (s"""WITH $sftThreadCtes,
         |okc AS (SELECT conv_id FROM g WHERE n_msgs = n_turns
         |  AND max_turn = n_turns - 1 AND mismatches = 0
         |  AND empties = 0),
         |mm AS (SELECT m.conv_id, m.turn, m.role, m.text,
         |  CAST(len($tokensSql) AS BIGINT) AS n_tok
         |  FROM m JOIN okc USING (conv_id)),
         |suf AS (SELECT conv_id, turn, role, text, n_tok,
         |  CAST(sum(n_tok) OVER (PARTITION BY conv_id
         |    ORDER BY turn DESC) AS BIGINT) AS suf_tokens FROM mm),
         |cut AS (SELECT conv_id, min(CASE WHEN turn % 2 = 0
         |    AND suf_tokens <= 600 THEN turn END) AS c
         |  FROM suf GROUP BY 1)
         |SELECT s.conv_id, CAST(s.turn AS BIGINT) AS orig_turn,
         |  CAST(s.turn - cut.c AS BIGINT) AS new_turn, s.role, s.text,
         |  s.n_tok
         |FROM suf s JOIN cut ON cut.conv_id = s.conv_id
         |WHERE cut.c IS NOT NULL AND s.turn >= cut.c"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // loss-mask spans replayed: ok threads, the same token counts,
    // one prefix-cumsum window, assistant-only mask
    "q_sft_lossmask" ->
      (s"""WITH $sftThreadCtes,
         |okc AS (SELECT conv_id FROM g WHERE n_msgs = n_turns
         |  AND max_turn = n_turns - 1 AND mismatches = 0
         |  AND empties = 0),
         |mm AS (SELECT m.conv_id, m.turn, m.role,
         |  CAST(len($tokensSql) AS BIGINT) AS n_tok
         |  FROM m JOIN okc USING (conv_id))
         |SELECT conv_id, CAST(turn AS BIGINT) AS turn, role, n_tok,
         |  CAST(sum(n_tok) OVER (PARTITION BY conv_id ORDER BY turn)
         |    - n_tok AS BIGINT) AS start_tok,
         |  CAST(sum(n_tok) OVER (PARTITION BY conv_id ORDER BY turn)
         |    AS BIGINT) AS end_tok,
         |  role = 'assistant' AS mask
         |FROM mm""".stripMargin).replaceAll(raw"\s+", " "),

    // Fleiss replayed over the same vote chain: per-item-category
    // counts, kept items (≥2 assignments), prevalence over kept
    // assignments, the exact int64 A/B/D/E scalars, and the
    // cohen-kappa double-division shape for the final micros
    "q_dq_fleiss" ->
      (s"""WITH $prefVotesCtes,
         |nic AS (SELECT prompt_id, lo, hi,
         |    CAST(prefer_lo AS VARCHAR) AS c,
         |    CAST(count(*) AS BIGINT) AS n_ic
         |  FROM votes GROUP BY 1, 2, 3, 4),
         |item AS (SELECT prompt_id, lo, hi,
         |    CAST(sum(n_ic) AS BIGINT) AS n_i,
         |    CAST(sum(n_ic * (n_ic - 1)) AS BIGINT) AS a_i
         |  FROM nic GROUP BY 1, 2, 3 HAVING sum(n_ic) >= 2),
         |knic AS (SELECT nic.c, nic.n_ic FROM nic
         |  JOIN item USING (prompt_id, lo, hi)),
         |lc AS (SELECT c, CAST(sum(n_ic) AS BIGINT) AS l_c
         |  FROM knic GROUP BY c),
         |ab AS (SELECT CAST(coalesce(sum(a_i), 0) AS BIGINT) AS a,
         |    CAST(coalesce(sum(n_i * (n_i - 1)), 0) AS BIGINT) AS b,
         |    CAST(count(*) AS BIGINT) AS n_items FROM item),
         |de AS (SELECT CAST(coalesce(sum(l_c), 0) AS BIGINT) AS d,
         |    CAST(coalesce(sum(l_c * l_c), 0) AS BIGINT) AS e FROM lc)
         |SELECT n_items, d AS n_assign,
         |  CASE WHEN b = 0 THEN NULL ELSE CAST(round(1000000.0 *
         |    (CAST(a AS DOUBLE) / CAST(b AS DOUBLE))) AS BIGINT) END
         |    AS po_micros,
         |  CASE WHEN d = 0 THEN NULL ELSE CAST(round(1000000.0 *
         |    (CAST(e AS DOUBLE) / CAST(d * d AS DOUBLE))) AS BIGINT)
         |    END AS pe_micros,
         |  CASE WHEN b * (d * d - e) = 0 THEN NULL
         |    ELSE CAST(round(1000000.0 *
         |      (CAST(a * d * d - b * e AS DOUBLE) /
         |       CAST(b * (d * d - e) AS DOUBLE))) AS BIGINT) END
         |    AS kappa_micros
         |FROM ab, de""".stripMargin).replaceAll(raw"\s+", " "),

    // the rater audit replayed: the same vote chain, leave-one-out
    // recount by subtracting each vote's own indicator from its
    // pair's tallies, strict-majority 'decided', per-rater rollup
    "q_pref_raters" ->
      (s"""WITH $prefVotesCtes,
         |j AS (SELECT v.rater,
         |    (res.n_lo - CASE WHEN v.prefer_lo THEN 1 ELSE 0 END)
         |      AS r_lo,
         |    ((res.n_votes - res.n_lo) -
         |      CASE WHEN v.prefer_lo THEN 0 ELSE 1 END) AS r_hi,
         |    v.prefer_lo
         |  FROM votes v JOIN res ON v.prompt_id = res.prompt_id
         |    AND v.lo = res.lo AND v.hi = res.hi),
         |d AS (SELECT rater, (r_lo <> r_hi) AS decided,
         |    (CASE WHEN prefer_lo THEN r_lo > r_hi
         |      ELSE r_hi > r_lo END) AS agree FROM j)
         |SELECT rater AS rater_id,
         |  CAST(count(*) AS BIGINT) AS n_votes,
         |  CAST(sum(CASE WHEN decided THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_decided,
         |  CAST(sum(CASE WHEN decided AND agree THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_agree,
         |  CASE WHEN sum(CASE WHEN decided THEN 1 ELSE 0 END) = 0
         |    THEN NULL
         |    ELSE CAST((sum(CASE WHEN decided AND agree THEN 1 ELSE 0
         |      END) * 1000000) // sum(CASE WHEN decided THEN 1 ELSE 0
         |      END) AS BIGINT) END AS agree_micros
         |FROM d GROUP BY rater""".stripMargin).replaceAll(raw"\s+", " "),

    "q_t_unigram_pruned" -> unigramPrunedSql,

    "q_t_unigram_surprisal" -> unigramSurprisalSql,

    "q_t_curriculum" -> unigramCurriculumSql,

    "q_pipe_tokenize_pack" -> unigramPackSql,

    // windows = ceil(total/seq) per bucket; waste = the final partial
    // window's padding — plain integer arithmetic over the pack base
    "q_t_pack_eff" ->
      (s"""WITH b AS (SELECT doc_id, CAST($bucketSql AS INT) AS bucket,
         |  CAST(len($tokensSql) AS BIGINT) AS n_tokens FROM documents)
         |SELECT bucket, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST((sum(n_tokens) + 1023) // 1024 AS BIGINT) AS n_seqs,
         |  CAST(((sum(n_tokens) + 1023) // 1024) * 1024
         |    - sum(n_tokens) AS BIGINT) AS waste_tokens
         |FROM b GROUP BY 1""".stripMargin.replaceAll(raw"\s+", " ")),

    "q_t_bpe_pairs" ->
      (s"""WITH t AS (SELECT $tokensSql AS ta FROM documents),
         |wc AS (SELECT word, count(*) AS cnt FROM
         |       (SELECT unnest(ta) AS word FROM t) GROUP BY 1),
         |syms AS (SELECT cnt, list_append(
         |  [substring(word, i, 1) for i in range(1, len(word)+1)],
         |  '</w>') AS s FROM wc),
         |p AS (SELECT cnt, unnest(
         |  [struct_pack(a := s[i], b := s[i+1]) for i in range(1, len(s))],
         |  recursive := true) FROM syms)
         |SELECT a, b, CAST(sum(cnt) AS BIGINT) AS n FROM p GROUP BY a, b
         |ORDER BY n DESC, a, b LIMIT 30""".stripMargin)
        .replaceAll(raw"\s+", " "),

    // identical relation to q_t_decontam — the Bloom prefilter is a
    // pure data-movement optimization
    "q_t_bloom_decontam" ->
      (s"""WITH tq AS (SELECT doc_id, $tokensSql AS ta FROM documents),
         |bsh AS (SELECT DISTINCT unnest($shinglesSqlA) AS sh FROM tq
         |        WHERE doc_id % 97 = 0),
         |csh AS (SELECT doc_id, unnest(list_distinct($shinglesSqlA)) AS sh
         |        FROM tq WHERE doc_id % 97 <> 0),
         |bad AS (SELECT DISTINCT doc_id FROM csh JOIN bsh USING (sh))
         |SELECT doc_id FROM documents WHERE doc_id % 97 <> 0
         |AND doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin)
        .replaceAll(raw"\s+", " "),

    // the null filter mirrors Dedup.exactByHash: null content is
    // unknown, not equal (latent until a testdata generation carries
    // null texts, but the two sides must pin the same semantics)
    "q_d_exact" ->
      ("SELECT md5(text) AS content_hash, min(doc_id) AS doc_id FROM documents " +
        "WHERE text IS NOT NULL GROUP BY 1"),

    // chain components of 10 consecutive ids → component = floor(id/10)*10
    "q_d_resolve" ->
      "SELECT doc_id AS id, doc_id - doc_id % 10 AS component FROM documents",

    "q_d_keep_best" ->
      (s"""WITH c AS (SELECT doc_id AS id, doc_id - doc_id % 10 AS component,
         |  $qualityMicrosSql AS qm FROM documents),
         |r AS (SELECT component, id, qm,
         |  row_number() OVER (PARTITION BY component
         |    ORDER BY qm DESC, id ASC) AS rk,
         |  count(*) OVER (PARTITION BY component) AS n FROM c)
         |SELECT component, id AS keep_id, qm AS keep_quality_micros,
         |  CAST(n AS BIGINT) AS n_members FROM r WHERE rk = 1"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // ALL set-identical pairs of the planted stream corpus — the
    // union-over-epochs identity (every pair reports once, in its
    // latest member's epoch)
    "q_d_stream_inc" ->
      (("""WITH corpus AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
         |  UNION ALL SELECT doc_id + 1000000, text FROM documents
         |    WHERE doc_id % 10 = 0
         |), tk AS (SELECT doc_id, """ + tokensSql + raw""" AS ta FROM corpus
         |), s AS (SELECT doc_id, list_sort(list_distinct(list_transform(
         |  """ + shinglesSqlA + raw""", x -> coalesce(x, '')))) AS ss FROM tk)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(1.0 AS DOUBLE) AS jaccard
         |FROM s a JOIN s b ON a.ss = b.ss AND a.doc_id < b.doc_id""")
        .stripMargin).replaceAll(raw"\s+", " "),

    // set-identical pairs (the threshold-1.0 survivors) with >= 1 new
    // member, replayed from the same corpus construction; list equality
    // on sorted distinct shingles is the engine-independent twin of
    // "jaccard exactly 1.0"
    "q_d_incremental" ->
      ("""WITH corpus AS (
         |  SELECT doc_id, text, false AS is_new FROM documents WHERE doc_id % 2 = 0
         |  UNION ALL SELECT doc_id + 2000000, text, false FROM documents WHERE doc_id % 20 = 0
         |  UNION ALL SELECT doc_id, text, true FROM documents WHERE doc_id % 2 = 1
         |  UNION ALL SELECT doc_id + 1000000, text, true FROM documents WHERE doc_id % 10 = 0
         |  UNION ALL SELECT doc_id + 3000000, text, true FROM documents WHERE doc_id % 10 = 3
         |), tk AS (SELECT doc_id, is_new, """ + tokensSql + raw""" AS ta FROM corpus
         |), s AS (SELECT doc_id, is_new,
         |  list_sort(list_distinct(list_transform(""" + shinglesSqlA + raw""", x -> coalesce(x, '')))) AS ss FROM tk)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(1.0 AS DOUBLE) AS jaccard
         |FROM s a JOIN s b ON a.ss = b.ss AND a.doc_id < b.doc_id
         |WHERE a.is_new OR b.is_new""").stripMargin.replaceAll(raw"\s+", " "),

    "q_d_ngram_jaccard" -> {
      val withTok =
        raw"WITH t AS (SELECT doc_id, " +
          s"$tokensSql AS ta, " +
          raw"list_filter(string_split_regex(trim(lower(text || ' planted near duplicate')), '\s+'), t -> length(t) > 0) AS tb " +
          "FROM documents), s AS (SELECT doc_id, " +
          s"list_distinct($shinglesSqlA) AS sa, list_distinct($shinglesSqlB) AS sb FROM t) " +
          "SELECT doc_id, round(CASE WHEN len(list_distinct(list_concat(sa, sb))) = 0 THEN 0.0 " +
          "ELSE len(list_intersect(sa, sb)) * 1.0 / len(list_distinct(list_concat(sa, sb))) END, 6) AS jaccard FROM s"
      withTok.replaceAll(raw"\s+", " ")
    },

    // the SEMANTIC result of the engine's banded-minhash + jaccard=1
    // pipeline: pairs whose sorted distinct string-shingle lists are
    // EQUAL (identical sets ⟺ identical signatures ⟺ caught in every
    // band; the = 1.0 confirm rejects everything else), replayed
    // without the engine-specific hash values
    // the SEMANTIC result of hamming-0 SimHash blocking + multiset
    // confirm: pairs with EQUAL sorted token lists (the fingerprint
    // is a pure function of the token multiset, so equal multisets
    // can never be missed; collisions between different multisets
    // are rejected by the confirm) — replayed without the
    // engine-specific 64-bit fingerprints
    "q_d_simhash_confirmed" ->
      (s"""WITH c AS (
         |  SELECT doc_id, coalesce(text, '') AS text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, coalesce(text, '') FROM documents),
         |t AS (SELECT doc_id, list_sort($tokensSql) AS key FROM c
         |  WHERE length(trim(text)) > 0)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM t a JOIN t b ON a.key = b.key AND a.doc_id < b.doc_id"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // winnowed span overlap replayed: the same canonical tokens,
    // 7-gram strings with the short-doc whole-text case, gram
    // equi-join, distinct shared-window count per pair
    "q_d_winnow_confirmed" ->
      (s"""WITH c AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text || ' planted near duplicate'
         |  FROM documents),
         |t AS (SELECT doc_id, $tokensSql AS ta FROM c
         |  WHERE text IS NOT NULL AND length(trim(text)) > 0),
         |g AS (SELECT doc_id, list_distinct(CASE WHEN len(ta) <= 7
         |    THEN [array_to_string(ta, ' ')]
         |    ELSE list_transform(range(1, len(ta) - 5),
         |      i -> array_to_string(ta[i:i+6], ' ')) END) AS gs
         |  FROM t),
         |e AS (SELECT doc_id, unnest(gs) AS gram FROM g),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.gram
         |  FROM e a JOIN e b ON a.gram = b.gram
         |    AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b,
         |  CAST(count(DISTINCT gram) AS BIGINT) AS n_shared
         |FROM p GROUP BY 1, 2""".stripMargin)
        .replaceAll(raw"\s+", " "),

    "q_s29_sql_neardup" -> {
      (s"""WITH c AS (
         |  SELECT doc_id, coalesce(text, '') AS text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, coalesce(text, '') FROM documents),
         |t AS (SELECT doc_id, $tokensSql AS ta FROM c
         |  WHERE length(trim(text)) > 0),
         |s AS (SELECT doc_id,
         |  list_sort(list_distinct($shinglesSqlA)) AS key FROM t)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM s a JOIN s b ON a.key = b.key AND a.doc_id < b.doc_id"""
        .stripMargin).replaceAll(raw"\s+", " ")
    },

    // the full cross-split cosine relation at the 0.9 threshold —
    // pair identities and rounded values (same double cosine formula
    // as q_v_topk; the blocked arm's recall-1 argument for exact
    // copies is in the gate comment)
    "q_v_split_leaks" ->
      ("""WITH te AS (
         |  SELECT vec_id + 1000000 AS test_id, embedding FROM embeddings
         |  WHERE vec_id % 20 = 0
         |  UNION ALL
         |  SELECT vec_id + 2000000,
         |    list_transform(embedding, x -> -x) FROM embeddings
         |  WHERE vec_id % 20 = 10),
         |s AS (SELECT te.test_id, tr.vec_id AS train_id,
         |  round(
         |   list_sum(list_transform(range(1, len(te.embedding) + 1),
         |     i -> CAST(te.embedding[i] AS DOUBLE) *
         |          CAST(tr.embedding[i] AS DOUBLE))) /
         |   (sqrt(list_sum(list_transform(range(1, len(te.embedding) + 1),
         |     i -> CAST(te.embedding[i] AS DOUBLE) *
         |          CAST(te.embedding[i] AS DOUBLE)))) *
         |    sqrt(list_sum(list_transform(range(1, len(tr.embedding) + 1),
         |     i -> CAST(tr.embedding[i] AS DOUBLE) *
         |          CAST(tr.embedding[i] AS DOUBLE))))), 6) AS cosine
         |  FROM te, embeddings tr)
         |SELECT test_id, train_id, cosine FROM s WHERE cosine >= 0.9"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // every planted copy resolves to its original (min id in the
    // 2-member component); no natural pair crosses the threshold —
    // kept ≡ the original corpus
    "q_v_semdedup" -> "SELECT vec_id FROM embeddings",

    // the hierarchical path must resolve the same planted corpus to
    // the same survivors (construction oracle, like q_v_semdedup)
    "q_v_semdedup2" -> "SELECT vec_id FROM embeddings",

    "q_v_project" ->
      ("""WITH p AS (SELECT vec_id, unnest(
         |  [struct_pack(j := CAST(j AS INT),
         |     p6 := round(list_sum(
         |       [CAST(embedding[i + 1] AS DOUBLE) *
         |        (CAST((i * 2654435761 + j * 40503) % 65536 AS DOUBLE)
         |         / 65536.0 - 0.5)
         |        for i in range(0, len(embedding))]), 6))
         |   for j in range(0, 16)], recursive := true) FROM embeddings)
         |SELECT vec_id, j, p6 FROM p""".stripMargin)
        .replaceAll(raw"\s+", " "),

    // list comprehension + struct unnest ≡ posexplode (0-based pos);
    // micros cast BEFORE summation on both sides
    "q_v_centroid" ->
      ("""WITH p AS (SELECT vec_id % 8 AS grp, unnest(
         |  [struct_pack(pos := CAST(i - 1 AS INT),
         |     m := CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000)
         |          AS BIGINT))
         |   for i in range(1, len(embedding) + 1)],
         |  recursive := true) FROM embeddings)
         |SELECT grp, pos, CAST(sum(m) AS BIGINT) AS sum_micros,
         |  count(*) AS n FROM p GROUP BY 1, 2""".stripMargin)
        .replaceAll(raw"\s+", " "),

    "q_v_quantize" ->
      ("""WITH m AS (SELECT vec_id, embedding,
         |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
         |  FROM embeddings)
         |SELECT vec_id,
         |  array_to_string(CASE WHEN mx = 0
         |    THEN list_transform(embedding, x -> CAST(0 AS INT))
         |    ELSE list_transform(embedding,
         |      x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / mx) AS INT)) END,
         |    ',') AS q8_csv,
         |  mx AS q_scale FROM m""".stripMargin).replaceAll(raw"\s+", " "),

    "q_v_topk" ->
      ("""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 16),
         | scored AS (SELECT q.q_id, c.vec_id AS n_id,
         |   list_sum(list_transform(range(1, len(q.q_vec) + 1),
         |     i -> CAST(q.q_vec[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) /
         |   (sqrt(list_sum(list_transform(range(1, len(q.q_vec) + 1),
         |     i -> CAST(q.q_vec[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE)))) *
         |    sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1),
         |     i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))))) AS cos
         |  FROM embeddings c, q WHERE c.vec_id <> q.q_id)
         |SELECT q_id, CAST(rnk AS INT) AS rank, n_id, round(cos, 6) AS cosine FROM (
         |  SELECT q_id, n_id, cos, row_number() OVER
         |    (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rnk FROM scored)
         |WHERE rnk <= 5""".stripMargin).replaceAll(raw"\s+", " "),

    // the streaming-upsert snapshot replayed: the latest corpus is a
    // CASE over the deterministic epoch transforms (negate %7 unless
    // %14 reverted it; reversed-vector inserts), then the standard
    // cosine top-k over it — queries drawn from the same snapshot
    "q_v_stream_index" ->
      ("""WITH latest AS (
         |  SELECT vec_id,
         |    CASE WHEN vec_id % 7 = 0 AND vec_id % 14 <> 0
         |      THEN list_transform(embedding, x -> -x)
         |      ELSE embedding END AS embedding
         |  FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000, list_reverse(embedding)
         |  FROM embeddings WHERE vec_id % 5 = 3),
         |q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM latest
         |  WHERE vec_id < 16),
         |scored AS (SELECT q.q_id, c.vec_id AS n_id,
         |   list_sum(list_transform(range(1, len(q.q_vec) + 1),
         |     i -> CAST(q.q_vec[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) /
         |   (sqrt(list_sum(list_transform(range(1, len(q.q_vec) + 1),
         |     i -> CAST(q.q_vec[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE)))) *
         |    sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1),
         |     i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))))) AS cos
         |  FROM latest c, q WHERE c.vec_id <> q.q_id)
         |SELECT q_id, CAST(rnk AS INT) AS rank, n_id, round(cos, 6) AS cosine FROM (
         |  SELECT q_id, n_id, cos, row_number() OVER
         |    (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rnk FROM scored)
         |WHERE rnk <= 5""".stripMargin).replaceAll(raw"\s+", " "),

    // the CDC variant: latest snapshot minus the tombstoned ids
    "q_v_stream_cdc" ->
      ("""WITH latest AS (
         |  SELECT vec_id,
         |    CASE WHEN vec_id % 7 = 0 AND vec_id % 14 <> 0
         |      THEN list_transform(embedding, x -> -x)
         |      ELSE embedding END AS embedding
         |  FROM embeddings
         |  WHERE NOT (vec_id % 11 = 5 AND vec_id % 7 <> 0)
         |  UNION ALL
         |  SELECT vec_id + 1000000, list_reverse(embedding)
         |  FROM embeddings WHERE vec_id % 5 = 3),
         |q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM latest
         |  WHERE vec_id < 16),
         |scored AS (SELECT q.q_id, c.vec_id AS n_id,
         |   list_sum(list_transform(range(1, len(q.q_vec) + 1),
         |     i -> CAST(q.q_vec[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) /
         |   (sqrt(list_sum(list_transform(range(1, len(q.q_vec) + 1),
         |     i -> CAST(q.q_vec[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE)))) *
         |    sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1),
         |     i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))))) AS cos
         |  FROM latest c, q WHERE c.vec_id <> q.q_id)
         |SELECT q_id, CAST(rnk AS INT) AS rank, n_id, round(cos, 6) AS cosine FROM (
         |  SELECT q_id, n_id, cos, row_number() OVER
         |    (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rnk FROM scored)
         |WHERE rnk <= 5""".stripMargin).replaceAll(raw"\s+", " "),

    // q_v_topk restricted to the label<5 slice of the corpus — the
    // static-predicate filtered-search oracle (full probe ⇒ the
    // engine's index arm is exhaustive over exactly this set)
    "q_v_topk_flt" ->
      ("""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 16),
         | scored AS (SELECT q.q_id, c.vec_id AS n_id,
         |   list_sum(list_transform(range(1, len(q.q_vec) + 1),
         |     i -> CAST(q.q_vec[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) /
         |   (sqrt(list_sum(list_transform(range(1, len(q.q_vec) + 1),
         |     i -> CAST(q.q_vec[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE)))) *
         |    sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1),
         |     i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))))) AS cos
         |  FROM embeddings c, q WHERE c.vec_id <> q.q_id AND c.label < 5)
         |SELECT q_id, CAST(rnk AS INT) AS rank, n_id, round(cos, 6) AS cosine FROM (
         |  SELECT q_id, n_id, cos, row_number() OVER
         |    (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rnk FROM scored)
         |WHERE rnk <= 5""".stripMargin).replaceAll(raw"\s+", " "),

    // the FULL binary-quantized pipeline replayed: sign-disagreement
    // hamming (≡ popcount of XORed sign-packs, packing-free), the
    // 64-candidate shortlist with the engine's (ham asc, id asc)
    // tie-break, exact-cosine rescore, final (cos desc, id asc) rank
    "q_v_topk_bin" ->
      ("""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
         |  FROM embeddings WHERE vec_id < 16),
         |h AS (SELECT q.q_id, c.vec_id AS n_id, q.q_vec,
         |  c.embedding AS n_vec,
         |  CAST(list_sum(list_transform(range(1, len(q.q_vec) + 1),
         |    i -> CASE WHEN (CAST(q.q_vec[i] AS DOUBLE) > 0)
         |      <> (CAST(c.embedding[i] AS DOUBLE) > 0)
         |      THEN 1 ELSE 0 END)) AS INT) AS ham
         |  FROM embeddings c, q WHERE c.vec_id <> q.q_id),
         |s AS (SELECT q_id, n_id, q_vec, n_vec, row_number() OVER
         |  (PARTITION BY q_id ORDER BY ham ASC, n_id ASC) AS srk FROM h),
         |sc AS (SELECT q_id, n_id,
         |  list_sum(list_transform(range(1, len(q_vec) + 1),
         |    i -> CAST(q_vec[i] AS DOUBLE) * CAST(n_vec[i] AS DOUBLE))) /
         |  (sqrt(list_sum(list_transform(range(1, len(q_vec) + 1),
         |    i -> CAST(q_vec[i] AS DOUBLE) * CAST(q_vec[i] AS DOUBLE)))) *
         |   sqrt(list_sum(list_transform(range(1, len(n_vec) + 1),
         |    i -> CAST(n_vec[i] AS DOUBLE) * CAST(n_vec[i] AS DOUBLE)))))
         |  AS cos
         |  FROM s WHERE srk <= 64)
         |SELECT q_id, CAST(rnk AS INT) AS rank, n_id,
         |  round(cos, 6) AS cosine FROM (
         |  SELECT q_id, n_id, cos, row_number() OVER
         |    (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rnk
         |  FROM sc)
         |WHERE rnk <= 5""".stripMargin).replaceAll(raw"\s+", " "),

    // the binary pipeline replayed over the FILTERED candidate set:
    // identical to q_v_topk_bin with the label predicate inside the
    // Hamming stage, so both the shortlist and the rescore see only
    // qualifying vectors
    "q_v_topk_bin_flt" ->
      ("""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
         |  FROM embeddings WHERE vec_id < 16),
         |h AS (SELECT q.q_id, c.vec_id AS n_id, q.q_vec,
         |  c.embedding AS n_vec,
         |  CAST(list_sum(list_transform(range(1, len(q.q_vec) + 1),
         |    i -> CASE WHEN (CAST(q.q_vec[i] AS DOUBLE) > 0)
         |      <> (CAST(c.embedding[i] AS DOUBLE) > 0)
         |      THEN 1 ELSE 0 END)) AS INT) AS ham
         |  FROM embeddings c, q
         |  WHERE c.vec_id <> q.q_id AND c.label < 5),
         |s AS (SELECT q_id, n_id, q_vec, n_vec, row_number() OVER
         |  (PARTITION BY q_id ORDER BY ham ASC, n_id ASC) AS srk FROM h),
         |sc AS (SELECT q_id, n_id,
         |  list_sum(list_transform(range(1, len(q_vec) + 1),
         |    i -> CAST(q_vec[i] AS DOUBLE) * CAST(n_vec[i] AS DOUBLE))) /
         |  (sqrt(list_sum(list_transform(range(1, len(q_vec) + 1),
         |    i -> CAST(q_vec[i] AS DOUBLE) * CAST(q_vec[i] AS DOUBLE)))) *
         |   sqrt(list_sum(list_transform(range(1, len(n_vec) + 1),
         |    i -> CAST(n_vec[i] AS DOUBLE) * CAST(n_vec[i] AS DOUBLE)))))
         |  AS cos
         |  FROM s WHERE srk <= 64)
         |SELECT q_id, CAST(rnk AS INT) AS rank, n_id,
         |  round(cos, 6) AS cosine FROM (
         |  SELECT q_id, n_id, cos, row_number() OVER
         |    (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rnk
         |  FROM sc)
         |WHERE rnk <= 5""".stripMargin).replaceAll(raw"\s+", " "),

    // q_v_topk with the label anti-filter: negatives must outrank the
    // same-label neighbors they displace
    "q_v_hard_negatives" ->
      ("""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label
         |  FROM embeddings WHERE vec_id < 16),
         | scored AS (SELECT q.q_id, c.vec_id AS n_id,
         |   list_sum(list_transform(range(1, len(q.q_vec) + 1),
         |     i -> CAST(q.q_vec[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) /
         |   (sqrt(list_sum(list_transform(range(1, len(q.q_vec) + 1),
         |     i -> CAST(q.q_vec[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE)))) *
         |    sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1),
         |     i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))))) AS cos
         |  FROM embeddings c, q
         |  WHERE c.vec_id <> q.q_id AND c.label <> q.q_label)
         |SELECT q_id, CAST(rnk AS INT) AS rank, n_id, round(cos, 6) AS cosine FROM (
         |  SELECT q_id, n_id, cos, row_number() OVER
         |    (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rnk FROM scored)
         |WHERE rnk <= 5""".stripMargin).replaceAll(raw"\s+", " "),

    // hard_negatives with the equality filter — the positive miner
    "q_v_topk_pos" ->
      ("""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label
         |  FROM embeddings WHERE vec_id < 16),
         | scored AS (SELECT q.q_id, c.vec_id AS n_id,
         |   list_sum(list_transform(range(1, len(q.q_vec) + 1),
         |     i -> CAST(q.q_vec[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) /
         |   (sqrt(list_sum(list_transform(range(1, len(q.q_vec) + 1),
         |     i -> CAST(q.q_vec[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE)))) *
         |    sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1),
         |     i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))))) AS cos
         |  FROM embeddings c, q
         |  WHERE c.vec_id <> q.q_id AND c.label = q.q_label)
         |SELECT q_id, CAST(rnk AS INT) AS rank, n_id, round(cos, 6) AS cosine FROM (
         |  SELECT q_id, n_id, cos, row_number() OVER
         |    (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rnk FROM scored)
         |WHERE rnk <= 5""".stripMargin).replaceAll(raw"\s+", " "),

    // the Matryoshka pipeline replayed: 16-dim-prefix cosine
    // shortlist (ties n_id asc), full-dim exact rescore, final rank
    "q_v_topk_trunc" ->
      ("""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
         |  FROM embeddings WHERE vec_id < 16),
         |h AS (SELECT q.q_id, c.vec_id AS n_id, q.q_vec,
         |  c.embedding AS n_vec,
         |  list_sum(list_transform(range(1, 17),
         |    i -> CAST(q.q_vec[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) /
         |  (sqrt(list_sum(list_transform(range(1, 17),
         |    i -> CAST(q.q_vec[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE)))) *
         |   sqrt(list_sum(list_transform(range(1, 17),
         |    i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))))
         |  AS tcos
         |  FROM embeddings c, q WHERE c.vec_id <> q.q_id),
         |s AS (SELECT q_id, n_id, q_vec, n_vec, row_number() OVER
         |  (PARTITION BY q_id ORDER BY tcos DESC, n_id ASC) AS srk FROM h),
         |sc AS (SELECT q_id, n_id,
         |  list_sum(list_transform(range(1, len(q_vec) + 1),
         |    i -> CAST(q_vec[i] AS DOUBLE) * CAST(n_vec[i] AS DOUBLE))) /
         |  (sqrt(list_sum(list_transform(range(1, len(q_vec) + 1),
         |    i -> CAST(q_vec[i] AS DOUBLE) * CAST(q_vec[i] AS DOUBLE)))) *
         |   sqrt(list_sum(list_transform(range(1, len(n_vec) + 1),
         |    i -> CAST(n_vec[i] AS DOUBLE) * CAST(n_vec[i] AS DOUBLE)))))
         |  AS cos
         |  FROM s WHERE srk <= 64)
         |SELECT q_id, CAST(rnk AS INT) AS rank, n_id,
         |  round(cos, 6) AS cosine FROM (
         |  SELECT q_id, n_id, cos, row_number() OVER
         |    (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rnk
         |  FROM sc)
         |WHERE rnk <= 5""".stripMargin).replaceAll(raw"\s+", " "),

    "q_v_rrf" ->
      ("""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
         |  FROM embeddings WHERE vec_id < 16),
         |sc AS (SELECT q.q_id, c.vec_id AS n_id, c.vec_id % 2 AS par,
         |   list_sum(list_transform(range(1, len(q.q_vec) + 1),
         |     i -> CAST(q.q_vec[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) /
         |   (sqrt(list_sum(list_transform(range(1, len(q.q_vec) + 1),
         |     i -> CAST(q.q_vec[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE)))) *
         |    sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1),
         |     i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))))) AS cos
         |  FROM embeddings c, q WHERE c.vec_id <> q.q_id),
         |r1 AS (SELECT q_id, n_id, row_number() OVER
         |  (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk FROM sc),
         |r2 AS (SELECT q_id, n_id, row_number() OVER
         |  (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk FROM sc
         |  WHERE par = 0),
         |u AS (SELECT q_id, n_id,
         |    CAST(round(1000000.0 / (60 + rnk)) AS BIGINT) AS c
         |  FROM r1 WHERE rnk <= 5
         |  UNION ALL SELECT q_id, n_id,
         |    CAST(round(1000000.0 / (60 + rnk)) AS BIGINT)
         |  FROM r2 WHERE rnk <= 5),
         |f AS (SELECT q_id, n_id, CAST(sum(c) AS BIGINT) AS rrf_micros,
         |  count(*) AS n_lists FROM u GROUP BY q_id, n_id)
         |SELECT q_id, CAST(rnk AS INT) AS fused_rank, n_id, rrf_micros,
         |  n_lists FROM (SELECT *, row_number() OVER (PARTITION BY q_id
         |  ORDER BY rrf_micros DESC, n_id) AS rnk FROM f) WHERE rnk <= 5"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_v_neardup" ->
      ("""WITH e AS (SELECT vec_id, embedding FROM embeddings
         |           UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b, round(
         |  list_sum(list_transform(range(1, len(a.embedding) + 1),
         |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
         |  (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
         |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)))) *
         |   sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
         |    i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 6) AS cosine
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE list_sum(list_transform(range(1, len(a.embedding) + 1),
         |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
         |  (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
         |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)))) *
         |   sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
         |    i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))) >= 0.8""".stripMargin)
        .replaceAll(raw"\s+", " "),

    "q_mm_decode" ->
      ("WITH s AS (SELECT doc_id, regexp_replace(text, '[^\\x00-\\x7F]', '?', 'g') AS t FROM documents) " +
        "SELECT doc_id AS media_id, CAST(octet_length(encode(t)) AS INT) AS byte_len, " +
        "CAST(ascii(substr(t, 1, 1)) AS INT) AS width, " +
        "CAST(ascii(substr(t, 2, 1)) AS INT) AS height, " +
        "CAST(octet_length(encode(t)) // 64 + 1 AS INT) AS n_frames, " +
        "'fake/rgb8' AS format FROM s"),

    "q_mm_decode_real" ->
      ("""WITH p AS (SELECT doc_id, doc_id % 640 + 1 AS w, doc_id % 480 + 1 AS h,
         |  doc_id % 3 + 1 AS ch, doc_id % 100 + 1 AS nf FROM documents)
         |SELECT doc_id AS media_id,
         | CAST(CASE WHEN doc_id % 2 = 0 THEN 54 + ((w * 3 + 3) // 4) * 4 * h
         |           ELSE 44 + nf * ch * 2 END AS INT) AS byte_len,
         | CAST(CASE WHEN doc_id % 2 = 0 THEN w ELSE ch END AS INT) AS width,
         | CAST(CASE WHEN doc_id % 2 = 0 THEN h ELSE 16 END AS INT) AS height,
         | CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE nf END AS INT) AS n_frames,
         | CASE WHEN doc_id % 2 = 0 THEN 'image/bmp' ELSE 'audio/wav' END AS format
         |FROM p""".stripMargin).replaceAll(raw"\s+", " "),

    "q_ev_tws_totals" ->
      ("SELECT user_id, count(*) AS n_events, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) " +
        "AS total_cents FROM events GROUP BY user_id"),

    // square wave: sum of squares = frames * A², crossings = the sign
    // flips at t ≡ 0 and t ≡ period/2 (mod period)
    "q_mm_audio_stats" ->
      ("""SELECT doc_id, CAST(1 AS INT) AS channels,
         |  CAST(16000 AS INT) AS sample_rate,
         |  CAST(doc_id % 100 + 10 AS INT) AS n_frames,
         |  CAST((doc_id % 100 + 10) * 1000000 AS BIGINT) AS sum_squares,
         |  CAST(len(list_filter(range(1, CAST(doc_id % 100 + 10 AS BIGINT)),
         |    t -> t % (doc_id % 6 + 2) = 0
         |      OR t % (doc_id % 6 + 2) = (doc_id % 6 + 2) // 2))
         |    AS BIGINT) AS zero_crossings
         |FROM documents""".stripMargin).replaceAll(raw"\s+", " "),

    // G.711 quantized levels for amplitude 1000: µ-law dec(enc(1000))
    // = 988, A-law = 1008 — ITU G.711 table values, independently
    // pinned against CPython audioop in MultimodalSpec. Energy =
    // n · level²; crossings are the same square-wave sign-flip count
    // as q_mm_audio_stats
    "q_mm_audio_g711" ->
      ("""SELECT doc_id,
         |  CASE WHEN doc_id % 2 = 0 THEN 'ulaw' ELSE 'alaw' END AS codec,
         |  CAST(doc_id % 80 + 8 AS INT) AS n_frames,
         |  CAST((doc_id % 80 + 8) *
         |    CASE WHEN doc_id % 2 = 0 THEN 976144 ELSE 1016064 END
         |    AS BIGINT) AS sum_squares,
         |  CAST(len(list_filter(range(1, CAST(doc_id % 80 + 8 AS BIGINT)),
         |    t -> t % (doc_id % 6 + 2) = 0
         |      OR t % (doc_id % 6 + 2) = (doc_id % 6 + 2) // 2))
         |    AS BIGINT) AS zero_crossings
         |FROM documents""".stripMargin).replaceAll(raw"\s+", " "),

    // the AVI container walk must surface exactly the id-derived
    // frame count per doc, and JPEG-frame-hash grouping must collapse
    // to the class arithmetic (identical stored bytes decode to
    // identical pixels; rep = class min) — same scheme as the GIF gate
    "q_mm_avi_frames" ->
      ("""WITH f AS (SELECT doc_id, doc_id % 19 AS cls FROM documents)
         |SELECT doc_id, CAST(unnest(range(0, cls % 4 + 1)) AS INT)
         |  AS frame_idx,
         |  min(doc_id) OVER (PARTITION BY cls) AS rep_id
         |FROM f""".stripMargin).replaceAll(raw"\s+", " "),

    "q_mm_tiff_frames" ->
      ("""WITH f AS (SELECT doc_id, doc_id % 13 AS cls FROM documents)
         |SELECT doc_id, CAST(unnest(range(0, cls % 3 + 1)) AS INT)
         |  AS frame_idx,
         |  min(doc_id) OVER (PARTITION BY cls) AS rep_id
         |FROM f""".stripMargin).replaceAll(raw"\s+", " "),

    // classes 2k and 2k+1 share 3 of 4 frames → Jaccard 3/5; same
    // class → identical frame sets → 1. Exact integer micros.
    "q_mm_video_neardup" ->
      ("""WITH f AS (SELECT doc_id, doc_id // 25 AS cls FROM documents)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(CASE WHEN a.cls = b.cls THEN 1000000 ELSE 600000 END
         |    AS BIGINT) AS jacc_micros
         |FROM f a JOIN f b
         |  ON a.doc_id < b.doc_id AND a.cls // 2 = b.cls // 2"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // the identical integer recurrence, unrolled: 3 rounds of
    // (in-mass sum of floored shares) → damped floor. DuckDB's
    // HUGEINT sum casts back down; every value stays positive so //
    // and Spark's `div` agree
    // the 4 synchronous LPA rounds unrolled: per round a neighbor-
    // label vote count and an (n desc, lab asc) argmax per node
    "q_g_lpa" -> {
      def round(prev: String, out: String): String =
        s"v$out AS (SELECT e.s AS id, $prev.lab AS lab, count(*) AS n " +
          s"FROM e JOIN $prev ON e.d = $prev.id GROUP BY 1, 2), " +
          s"$out AS (SELECT id, lab FROM (SELECT id, lab, row_number() " +
          "OVER (PARTITION BY id ORDER BY n DESC, lab ASC) AS rn " +
          s"FROM v$out) WHERE rn = 1)"
      val rounds = (0 until 4)
        .map(i => round(s"l$i", s"l${i + 1}")).mkString(", ")
      ("""WITH docs AS (SELECT doc_id FROM documents),
         |nn AS (SELECT count(*) AS n FROM docs),
         |intra AS (SELECT doc_id AS s, doc_id + k.k AS d
         |  FROM docs, (SELECT unnest(range(1, 6)) AS k) k, nn
         |  WHERE (doc_id + k.k) // 6 = doc_id // 6 AND doc_id + k.k < n),
         |br AS (SELECT doc_id AS s, doc_id + 6 AS d FROM docs, nn
         |  WHERE doc_id % 6 = 0 AND doc_id + 6 < n),
         |e0 AS (SELECT s, d FROM intra UNION ALL SELECT s, d FROM br),
         |e AS (SELECT DISTINCT s, d FROM (SELECT s, d FROM e0
         |  UNION ALL SELECT d, s FROM e0) WHERE s <> d),
         |l0 AS (SELECT DISTINCT s AS id, s AS lab FROM e),
         |""".stripMargin + rounds +
        " SELECT id AS doc_id, CAST(lab AS BIGINT) AS community FROM l4")
        .replaceAll(raw"\s+", " ")
    },

    "q_g_pagerank" -> {
      def round(prev: String, out: String): String =
        s"$out AS (SELECT nodes.id, " +
          "CAST(150000 + (85 * COALESCE(s.m, 0)) // 100 AS BIGINT) AS pr " +
          "FROM nodes LEFT JOIN (SELECT e.dst, SUM(pr // d) AS m " +
          s"FROM e JOIN od USING (src) JOIN $prev ON e.src = $prev.id " +
          "GROUP BY e.dst) s ON nodes.id = s.dst)"
      ("WITH nn AS (SELECT count(*) AS cnt FROM documents), " +
        "e AS (SELECT doc_id AS src, (doc_id*7+3) % cnt AS dst " +
        "FROM documents, nn UNION ALL " +
        "SELECT doc_id, (doc_id*13+5) % cnt FROM documents, nn), " +
        "od AS (SELECT src, count(*) AS d FROM e GROUP BY src), " +
        "nodes AS (SELECT DISTINCT id FROM " +
        "(SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)), " +
        "r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS pr FROM nodes), " +
        round("r0", "r1") + ", " + round("r1", "r2") + ", " +
        round("r2", "r3") + " " +
        "SELECT id AS doc_id, pr AS pr_micros FROM r3")
    },

    // the HITS recurrence unrolled: per round, authority-raw = Σ hub
    // over in-edges then max-normalize to micros, hub-raw = Σ authority
    // over out-edges then max-normalize; AS MATERIALIZED (each CTE
    // feeds the next twice — the bpeMergeCtes lesson), SUMs cast back
    // to BIGINT (DuckDB sums to HUGEINT), GREATEST(max,1) guards the
    // all-zero degenerate the engine guards with max(mx,1)
    "q_g_hits" -> {
      def round(hPrev: String, i: Int): String = {
        val (ar, a, hr, h) = (s"a${i}r", s"a$i", s"h${i}r", s"h$i")
        s"$ar AS MATERIALIZED (SELECT e.dst AS id, " +
          s"CAST(SUM($hPrev.h) AS BIGINT) AS raw " +
          s"FROM e JOIN $hPrev ON e.src = $hPrev.id GROUP BY e.dst), " +
          s"$a AS MATERIALIZED (SELECT nodes.id, " +
          s"(COALESCE(raw, 0) * 1000000) // " +
          s"(SELECT GREATEST(MAX(raw), 1) FROM $ar) AS a " +
          s"FROM nodes LEFT JOIN $ar USING (id)), " +
          s"$hr AS MATERIALIZED (SELECT e.src AS id, " +
          s"CAST(SUM($a.a) AS BIGINT) AS raw " +
          s"FROM e JOIN $a ON e.dst = $a.id GROUP BY e.src), " +
          s"$h AS MATERIALIZED (SELECT nodes.id, " +
          s"(COALESCE(raw, 0) * 1000000) // " +
          s"(SELECT GREATEST(MAX(raw), 1) FROM $hr) AS h " +
          s"FROM nodes LEFT JOIN $hr USING (id))"
      }
      ("WITH nn AS (SELECT count(*) AS cnt FROM documents), " +
        "e AS MATERIALIZED (SELECT doc_id AS src, (doc_id*7+3) % cnt AS dst " +
        "FROM documents, nn UNION ALL " +
        "SELECT doc_id, (doc_id*13+5) % cnt FROM documents, nn), " +
        "nodes AS MATERIALIZED (SELECT DISTINCT id FROM " +
        "(SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)), " +
        "h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS h FROM nodes), " +
        round("h0", 1) + ", " + round("h1", 2) + ", " + round("h2", 3) + " " +
        "SELECT h3.id AS doc_id, h3.h AS hub_micros, a3.a AS auth_micros " +
        "FROM h3 JOIN a3 ON h3.id = a3.id")
    },

    // the personalized recurrence unrolled — identical to q_g_pagerank
    // except the floor term carries the seed indicator
    "q_g_trustrank" -> {
      def round(prev: String, out: String): String =
        s"$out AS (SELECT nodes.id, nodes.s, " +
          "CAST(nodes.s * 150000 + (85 * COALESCE(x.m, 0)) // 100 " +
          "AS BIGINT) AS pr " +
          "FROM nodes LEFT JOIN (SELECT e.dst, SUM(pr // d) AS m " +
          s"FROM e JOIN od USING (src) JOIN $prev ON e.src = $prev.id " +
          "GROUP BY e.dst) x ON nodes.id = x.dst)"
      ("WITH nn AS (SELECT count(*) AS cnt FROM documents), " +
        "e AS (SELECT doc_id AS src, (doc_id*7+3) % cnt AS dst " +
        "FROM documents, nn UNION ALL " +
        "SELECT doc_id, (doc_id*13+5) % cnt FROM documents, nn), " +
        "od AS (SELECT src, count(*) AS d FROM e GROUP BY src), " +
        "nodes AS (SELECT DISTINCT id, " +
        "CASE WHEN id % 97 = 0 THEN 1 ELSE 0 END AS s FROM " +
        "(SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)), " +
        "r0 AS (SELECT id, s, CAST(s * 1000000 AS BIGINT) AS pr " +
        "FROM nodes), " +
        round("r0", "r1") + ", " + round("r1", "r2") + ", " +
        round("r2", "r3") + " " +
        "SELECT id AS doc_id, pr AS pr_micros FROM r3")
    },

    // the 3 BFS layers unrolled — each layer = undirected neighbors
    // of the previous frontier minus everything already settled
    "q_g_hops" ->
      ("""WITH nn AS (SELECT count(*) AS cnt FROM documents),
         |e AS (SELECT doc_id AS s, (doc_id*7+3) % cnt AS d
         |  FROM documents, nn UNION ALL
         |  SELECT doc_id, (doc_id*13+5) % cnt FROM documents, nn),
         |und AS (SELECT DISTINCT u, v FROM
         |  (SELECT s AS u, d AS v FROM e UNION ALL SELECT d, s FROM e)
         |  WHERE u <> v),
         |d0 AS (SELECT doc_id AS id FROM documents WHERE doc_id % 97 = 0),
         |l1 AS (SELECT DISTINCT v AS id FROM und JOIN d0 ON und.u = d0.id
         |  WHERE v NOT IN (SELECT id FROM d0)),
         |l2 AS (SELECT DISTINCT v AS id FROM und JOIN l1 ON und.u = l1.id
         |  WHERE v NOT IN (SELECT id FROM d0)
         |  AND v NOT IN (SELECT id FROM l1)),
         |l3 AS (SELECT DISTINCT v AS id FROM und JOIN l2 ON und.u = l2.id
         |  WHERE v NOT IN (SELECT id FROM d0)
         |  AND v NOT IN (SELECT id FROM l1)
         |  AND v NOT IN (SELECT id FROM l2))
         |SELECT id AS doc_id, CAST(0 AS BIGINT) AS hops FROM d0
         |UNION ALL SELECT id, 1 FROM l1
         |UNION ALL SELECT id, 2 FROM l2
         |UNION ALL SELECT id, 3 FROM l3"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // the oracle KNOWS the planted prose (documents.text carries no
    // markup/entities/space-runs — probed at both sf) — the Spark
    // side must recover it from every page shape
    "q_t_html_extract" ->
      ("SELECT doc_id, text || CASE WHEN doc_id % 4 = 2 " +
        "THEN ' A & B' ELSE '' END AS clean_text FROM documents"),

    // the oracle reconstructs the CANONICAL form straight from the
    // class arithmetic — the Spark side must earn it by actually
    // normalizing all 8 messy spellings
    "q_u_url_canon" ->
      ("""WITH f AS (SELECT doc_id, doc_id % 23 AS cls FROM documents),
         |g AS (SELECT doc_id, cls,
         |  'https://' ||
         |  (CASE WHEN cls % 2 = 0 THEN 'www.' ELSE 'blog.' END) ||
         |  'site' || CAST(cls % 5 AS VARCHAR) ||
         |  (CASE WHEN cls % 3 = 0 THEN '.co.uk' ELSE '.com' END) ||
         |  '/a' || CAST(cls AS VARCHAR) || '/b' ||
         |  (CASE WHEN cls % 4 = 0 THEN '?x=1&y=2' ELSE '' END) AS url,
         |  'site' || CAST(cls % 5 AS VARCHAR) ||
         |  (CASE WHEN cls % 3 = 0 THEN '.co.uk' ELSE '.com' END)
         |    AS domain
         |FROM f)
         |SELECT doc_id, url, domain,
         |  min(doc_id) OVER (PARTITION BY cls) AS rep_id
         |FROM g""".stripMargin).replaceAll(raw"\s+", " "),

    "q_u_url_quota" ->
      ("""WITH f AS (SELECT doc_id, doc_id % 23 AS cls FROM documents),
         |g AS (SELECT doc_id,
         |  'site' || CAST(cls % 5 AS VARCHAR) ||
         |  (CASE WHEN cls % 3 = 0 THEN '.co.uk' ELSE '.com' END)
         |    AS domain
         |FROM f),
         |r AS (SELECT domain, doc_id, row_number() OVER
         |  (PARTITION BY domain ORDER BY doc_id ASC) AS rnk FROM g)
         |SELECT domain, CAST(rnk AS INT) AS rank, doc_id,
         |  CAST(-doc_id AS DOUBLE) AS score
         |FROM r WHERE rnk <= 25""".stripMargin).replaceAll(raw"\s+", " "),

    // DuckDB's utf8proc nfc_normalize is a genuinely independent NFC
    // implementation — byte equality with the JDK normalizer is the
    // cross-engine pin. Controls → space FIRST (includes \t), so the
    // collapse step only ever sees ASCII space runs on both engines.
    "q_t_unicode_norm" ->
      ("""WITH f AS (SELECT doc_id, text ||
         |  CASE CAST(doc_id % 5 AS INT)
         |    WHEN 0 THEN ' e' || chr(769) || chr(9) || 'x'
         |    WHEN 1 THEN '  A' || chr(778) || 'b' || chr(1) || 'c'
         |    WHEN 2 THEN ' ' || chr(11) || chr(12) || ' fi'
         |    WHEN 3 THEN ' caf' || chr(233) || '  '
         |    ELSE chr(127) || ' n' || chr(771)
         |  END AS messy FROM documents)
         |SELECT doc_id,
         |  trim(regexp_replace(nfc_normalize(
         |    regexp_replace(messy, '[\x00-\x1f\x7f]', ' ', 'g')),
         |    ' +', ' ', 'g')) AS norm_text
         |FROM f""".stripMargin).replaceAll(raw"\s+", " "),

    // the phash groups collapse to the id-arithmetic classes: same
    // class = identical pixels = identical hash; the representative
    // is the class's min id
    "q_mm_phash_groups" ->
      ("SELECT doc_id, min(doc_id) OVER (PARTITION BY doc_id % 41) " +
        "AS rep_id FROM documents"),

    // the real container walk must surface exactly the id-derived
    // frame count per doc, and frame-hash grouping must collapse to
    // the class arithmetic (frames of the same (class, idx) are
    // identical pixels through write-quantize-decode; rep = class min)
    "q_mm_gif_frames" ->
      ("""WITH f AS (SELECT doc_id, doc_id % 23 AS cls FROM documents)
         |SELECT doc_id, CAST(unnest(range(0, cls % 5 + 1)) AS INT)
         |  AS frame_idx,
         |  min(doc_id) OVER (PARTITION BY cls) AS rep_id
         |FROM f""".stripMargin).replaceAll(raw"\s+", " "),

    // ImageIO gates: every reported column is id-arithmetic the oracle
    // recomputes; the Spark side had to EARN them through a real
    // compressed-image decode (and, for resize, a re-encode)
    "q_mm_decode_img" ->
      ("SELECT doc_id AS media_id, CAST(doc_id % 64 + 1 AS INT) AS width, " +
        "CAST(doc_id % 48 + 1 AS INT) AS height, CAST(1 AS INT) AS n_frames, " +
        "CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'image/jpeg' END " +
        "AS format FROM documents"),

    "q_mm_resize_img" ->
      ("SELECT doc_id AS media_id, " +
        "CAST((doc_id % 64 + 1) // 2 + 1 AS INT) AS width, " +
        "CAST((doc_id % 48 + 1) // 2 + 1 AS INT) AS height, " +
        "'image/png' AS format FROM documents"),

    "q_mm_frames" ->
      ("""WITH f AS (SELECT doc_id AS media_id,
         |  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE doc_id % 100 + 1 END AS n_frames
         |  FROM documents)
         |SELECT media_id, CAST(unnest(range(0, n_frames, 7)) AS INT) AS frame_idx
         |FROM f""".stripMargin).replaceAll(raw"\s+", " "),

    // CAST(ts AS TIMESTAMP) mirrors loadEvents' ns→µs truncation;
    // (user_id, ts) stays unique at µs on all sf (probed), so the
    // latest-prior row is unambiguous
    "q_ev_asof" ->
      ("""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
         |           FROM events),
         |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         |             event_id AS purchase_id, value AS purchase_value
         |      FROM events WHERE event_type = 'purchase')
         |SELECT e.event_id, e.user_id, p.purchase_id, p.purchase_value
         |FROM e ASOF LEFT JOIN p
         |ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin)
        .replaceAll(raw"\s+", " "),

    "q_ev_range" ->
      ("""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
         |           FROM events),
         |p AS (SELECT user_id, event_id AS purchase_id,
         |             CAST(ts AS TIMESTAMP) AS wstart,
         |             CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR AS wend
         |      FROM events WHERE event_type = 'purchase')
         |SELECT e.event_id, e.user_id, p.purchase_id
         |FROM e JOIN p ON e.user_id = p.user_id
         |AND e.ts >= p.wstart AND e.ts <= p.wend""".stripMargin)
        .replaceAll(raw"\s+", " "),

    // break iff gap >= 30 min: Spark merges sessions while the next
    // event's start is strictly inside (last + gap)
    "q_ev_session_agg" ->
      ("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
         |           FROM events),
         |m AS (SELECT user_id, ts, value,
         |  CASE WHEN lag(ts) OVER w IS NULL
         |       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1
         |       ELSE 0 END AS brk
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         |g AS (SELECT user_id, ts, value,
         |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts
         |                 ROWS UNBOUNDED PRECEDING) AS sid FROM m)
         |SELECT user_id, min(ts) AS session_start,
         |  max(ts) + INTERVAL 30 MINUTE AS session_end,
         |  count(*) AS n_events, round(sum(value), 2) AS total_value
         |FROM g GROUP BY user_id, sid""".stripMargin)
        .replaceAll(raw"\s+", " "),

    "q_a9_unpivot" ->
      ("SELECT p_partkey, 'size_v' AS metric, CAST(p_size AS BIGINT) AS value " +
        "FROM part UNION ALL SELECT p_partkey, 'price_cents' AS metric, " +
        "CAST(round(p_retailprice * 100) AS BIGINT) AS value FROM part"),

    "q_ev_dedup_stream" ->
      "SELECT event_id, user_id, event_type, value FROM events",

    "q_t_rebalance" ->
      (s"""WITH d AS (SELECT doc_id, $langCaseSql AS lang,
         |  $mixBucketSql AS bucket FROM documents),
         |counts AS (SELECT lang, count(*) AS n FROM d
         |  WHERE lang IN ('en', 'und') GROUP BY lang),
         |tw AS (SELECT lang, n,
         |  CASE lang WHEN 'en' THEN 60 WHEN 'und' THEN 40 END AS wt
         |  FROM counts),
         |c AS (SELECT min((n * 1048576) // wt) AS c FROM tw),
         |r AS (SELECT lang,
         |  LEAST(256, (256 * wt * (SELECT c FROM c)) // (n * 1048576))
         |  AS rate FROM tw)
         |SELECT d.doc_id, d.lang FROM d JOIN r ON d.lang = r.lang
         |WHERE d.bucket < r.rate""".stripMargin)
        .replaceAll(raw"\s+", " "),

    "q_t_trim" ->
      ("WITH b AS (SELECT lang, quantile_cont(length(text), 0.05) AS lo, " +
        "quantile_cont(length(text), 0.95) AS hi FROM documents GROUP BY lang) " +
        "SELECT doc_id, lang, CAST(length(text) AS INT) AS text_len " +
        "FROM documents JOIN b USING (lang) " +
        "WHERE length(text) BETWEEN lo AND hi"),

    "q_d_spans" ->
      (raw"""WITH planted AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 1000000, text FROM documents
         |  WHERE doc_id % 20 = 0
         |), spans AS (
         |  SELECT doc_id, unnest(list_transform(
         |    range(1, greatest(len($tokensSql) - 6, 1)),
         |    i -> array_to_string(($tokensSql)[i:i+7], ' '))) AS span
         |  FROM planted WHERE text IS NOT NULL
         |)
         |SELECT span, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_occ
         |FROM spans GROUP BY span HAVING count(DISTINCT doc_id) >= 2"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // the full excision rule replayed: windows → duplicated spans with
    // (min doc, min start) canonical occurrence → per-token coverage →
    // tokens kept iff uncovered or canonically covered → reassembly
    "q_d_span_removal" ->
      ("""WITH planted AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 1000000, text FROM documents
         |  WHERE doc_id % 20 = 0
         |), tok AS (
         |  SELECT doc_id, """ + tokensSql + raw""" AS tk
         |  FROM planted WHERE text IS NOT NULL
         |), win AS (
         |  SELECT doc_id, unnest(list_transform(
         |    range(1, greatest(len(tk) - 6, 1)),
         |    i -> struct_pack(s := i, sp := array_to_string(tk[i:i+7], ' '))),
         |    recursive := true) FROM tok
         |), dup AS (
         |  SELECT sp, min(doc_id) AS cd FROM win
         |  GROUP BY sp HAVING count(DISTINCT doc_id) >= 2
         |), canon AS (
         |  SELECT d.sp, d.cd, min(w.s) AS cs FROM dup d
         |  JOIN win w ON w.sp = d.sp AND w.doc_id = d.cd GROUP BY d.sp, d.cd
         |), cov AS (
         |  SELECT doc_id, unnest(list_transform(range(0, 8), o -> s + o)) AS idx,
         |    isc FROM (
         |    SELECT w.doc_id, w.s, (w.doc_id = c.cd AND w.s = c.cs) AS isc
         |    FROM win w JOIN canon c ON w.sp = c.sp)
         |), rem AS (
         |  SELECT doc_id, idx FROM cov GROUP BY doc_id, idx
         |  HAVING NOT bool_or(isc)
         |), tpos AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1),
         |    i -> struct_pack(i := i, tok := tk[i])), recursive := true)
         |  FROM tok
         |), keep AS (
         |  SELECT k.doc_id, k.i, k.tok FROM tpos k
         |  WHERE NOT EXISTS (SELECT 1 FROM rem
         |    WHERE rem.doc_id = k.doc_id AND rem.idx = k.i)
         |)
         |SELECT t.doc_id, coalesce(o.text_clean, '') AS text_clean
         |FROM tok t LEFT JOIN (
         |  SELECT doc_id, array_to_string(list(tok ORDER BY i), ' ')
         |    AS text_clean
         |  FROM keep GROUP BY doc_id) o ON t.doc_id = o.doc_id""")
        .stripMargin.replaceAll(raw"\s+", " "),

    // the merge replayed case-by-case: carried (key untouched by the
    // snapshot), closed old versions, opened new versions, new keys —
    // every branch deterministic, so the full Type-2 ledger oracles
    "q_scd2_dim_build" ->
      ("""WITH cust AS (
         |  SELECT c_custkey, c_mktsegment AS segment,
         |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
         |  FROM customer)
         |SELECT c_custkey, segment, bal_cents,
         |  CAST(0 AS BIGINT) AS effective_from,
         |  CAST(NULL AS BIGINT) AS effective_to, true AS is_current
         |FROM cust WHERE c_custkey % 3 <> 0 AND c_custkey % 5 <> 0
         |UNION ALL
         |SELECT c_custkey, segment, bal_cents, CAST(0 AS BIGINT),
         |  CAST(1 AS BIGINT), false
         |FROM cust WHERE c_custkey % 3 = 0 OR c_custkey % 5 = 0
         |UNION ALL
         |SELECT c_custkey, 'MOVED', bal_cents, CAST(1 AS BIGINT),
         |  CAST(NULL AS BIGINT), true
         |FROM cust WHERE c_custkey % 3 = 0
         |UNION ALL
         |SELECT c_custkey, segment, bal_cents + 10000, CAST(1 AS BIGINT),
         |  CAST(NULL AS BIGINT), true
         |FROM cust WHERE c_custkey % 3 <> 0 AND c_custkey % 5 = 0
         |UNION ALL
         |SELECT c_custkey + 1000000, segment, bal_cents, CAST(1 AS BIGINT),
         |  CAST(NULL AS BIGINT), true
         |FROM cust WHERE c_custkey % 7 = 0""".stripMargin)
        .replaceAll(raw"\s+", " "),

    // string shingles vs 64-bit shingle hashes, same collision caveat
    // as q_t_decontam; exact-integer threshold on both sides
    "q_t_contam_frac" ->
      (s"""WITH tq AS (SELECT doc_id, $tokensSql AS ta FROM documents),
         |bsh AS (SELECT DISTINCT unnest($shinglesSqlA) AS sh FROM tq
         |        WHERE doc_id % 97 = 0),
         |csh AS (SELECT doc_id, unnest(list_distinct($shinglesSqlA)) AS sh
         |        FROM tq WHERE doc_id % 97 <> 0),
         |agg AS (SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |        CAST(count(b.sh) AS BIGINT) AS n_hit
         |        FROM csh c LEFT JOIN bsh b USING (sh) GROUP BY c.doc_id)
         |SELECT t.doc_id, coalesce(a.n_shingles, 0) AS n_shingles,
         |  coalesce(a.n_hit, 0) AS n_hit,
         |  (coalesce(a.n_hit, 0) * 5 >= coalesce(a.n_shingles, 0)
         |    AND coalesce(a.n_shingles, 0) > 0) AS contaminated
         |FROM tq t LEFT JOIN agg a ON t.doc_id = a.doc_id
         |WHERE t.doc_id % 97 <> 0""".stripMargin)
        .replaceAll(raw"\s+", " "),

    // md5 hex arithmetic is portable: shard from the first byte, pos
    // from a per-shard total order on (full hex digest, id)
    "q_t_shuffle" ->
      ("""WITH h AS (SELECT doc_id,
         |  md5('ep0:' || CAST(doc_id AS VARCHAR)) AS k FROM documents),
         |s AS (SELECT doc_id, k, CAST((
         |  (strpos('0123456789abcdef', substr(k, 1, 1)) - 1) * 16 +
         |  (strpos('0123456789abcdef', substr(k, 2, 1)) - 1)) % 8 AS INT)
         |  AS shard FROM h)
         |SELECT doc_id, shard, CAST(row_number() OVER (
         |  PARTITION BY shard ORDER BY k, doc_id) AS BIGINT) AS pos
         |FROM s""".stripMargin)
        .replaceAll(raw"\s+", " "),

    // every Gopher rule replayed as exact integer cross-products over
    // the same tokenization/line split
    "q_t_gopher" -> gopherReportSql,

    // the three stages CTE'd in sequence: rule filter (minus r_stop) →
    // temperature rates over the survivors → md5 shard/pos
    "q_pipe_curate3" ->
      (s"""WITH rep AS ($gopherReportSql),
         |g AS (SELECT d.doc_id, d.text, d.lang FROM documents d
         |  JOIN rep ON d.doc_id = rep.doc_id
         |  WHERE rep.r_wordcount AND rep.r_meanlen AND rep.r_symbol
         |    AND rep.r_bullet AND rep.r_ellipsis AND rep.r_alpha
         |    AND rep.r_dupline),
         |counts AS (SELECT lang, count(*) AS n FROM g
         |  WHERE lang IS NOT NULL GROUP BY lang),
         |tw AS (SELECT lang, n,
         |  greatest(CAST(floor(sqrt(n)) AS BIGINT), 1) AS wt FROM counts),
         |c AS (SELECT min((n * 1048576) // wt) AS c FROM tw),
         |r AS (SELECT lang,
         |  LEAST(256, (256 * wt * (SELECT c FROM c)) // (n * 1048576))
         |  AS rate FROM tw),
         |bal AS (SELECT g2.doc_id, g2.lang
         |  FROM (SELECT doc_id, lang, $mixBucketSql AS bucket FROM g) g2
         |  JOIN r ON g2.lang = r.lang WHERE g2.bucket < r.rate),
         |h AS (SELECT doc_id, lang,
         |  md5('ep0:' || CAST(doc_id AS VARCHAR)) AS k FROM bal),
         |sh AS (SELECT doc_id, lang, k, CAST((
         |  (strpos('0123456789abcdef', substr(k, 1, 1)) - 1) * 16 +
         |  (strpos('0123456789abcdef', substr(k, 2, 1)) - 1)) % 4 AS INT)
         |  AS shard FROM h)
         |SELECT doc_id, lang, shard, CAST(row_number() OVER (
         |  PARTITION BY shard ORDER BY k, doc_id) AS BIGINT) AS pos
         |FROM sh""".stripMargin)
        .replaceAll(raw"\s+", " "),

    // benchmark-matching windows → coverage union → excision, same
    // skeleton as q_d_span_removal but with no canonical survivor
    "q_t_decontam_spans" ->
      (s"""WITH bench AS (
         |  SELECT doc_id, text ||
         |    ' the committee will reconvene after the scheduled' ||
         |    ' maintenance window closes for review' AS text
         |  FROM documents WHERE doc_id % 97 = 0
         |), corpus AS (
         |  SELECT doc_id, CASE WHEN doc_id % 10 = 0 THEN text ||
         |    ' the committee will reconvene after the scheduled' ||
         |    ' maintenance window closes for review' ELSE text END AS text
         |  FROM documents WHERE doc_id % 97 <> 0
         |), tokc AS (
         |  SELECT doc_id, $tokensSql AS tk FROM corpus
         |  WHERE text IS NOT NULL
         |), tokb AS (
         |  SELECT doc_id, $tokensSql AS tk FROM bench
         |  WHERE text IS NOT NULL
         |), winb AS (
         |  SELECT DISTINCT unnest(list_transform(
         |    range(1, greatest(len(tk) - 6, 1)),
         |    i -> array_to_string(tk[i:i+7], ' '))) AS sp FROM tokb
         |), winc AS (
         |  SELECT doc_id, unnest(list_transform(
         |    range(1, greatest(len(tk) - 6, 1)),
         |    i -> struct_pack(s := i, sp := array_to_string(tk[i:i+7], ' '))),
         |    recursive := true) FROM tokc
         |), rem AS (
         |  SELECT DISTINCT doc_id, idx FROM (
         |    SELECT w.doc_id, unnest(list_transform(range(0, 8),
         |      o -> w.s + o)) AS idx
         |    FROM winc w JOIN winb b ON w.sp = b.sp)
         |), tpos AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1),
         |    i -> struct_pack(i := i, tok := tk[i])), recursive := true)
         |  FROM tokc
         |), keep AS (
         |  SELECT k.doc_id, k.i, k.tok FROM tpos k
         |  WHERE NOT EXISTS (SELECT 1 FROM rem
         |    WHERE rem.doc_id = k.doc_id AND rem.idx = k.i)
         |)
         |SELECT t.doc_id, coalesce(o.text_clean, '') AS text_clean
         |FROM tokc t LEFT JOIN (
         |  SELECT doc_id, array_to_string(list(tok ORDER BY i), ' ')
         |    AS text_clean
         |  FROM keep GROUP BY doc_id) o ON t.doc_id = o.doc_id""")
        .stripMargin.replaceAll(raw"\s+", " "),

    // α=1/2 weights are floor(sqrt(n)) — IEEE sqrt is correctly
    // rounded in both engines, and the rest is the q_t_rebalance
    // integer formula under the same md5 mixing bucket
    "q_t_temp" ->
      (s"""WITH counts AS (SELECT lang, count(*) AS n FROM documents
         |  WHERE lang IS NOT NULL GROUP BY lang),
         |tw AS (SELECT lang, n,
         |  greatest(CAST(floor(sqrt(n)) AS BIGINT), 1) AS wt FROM counts),
         |c AS (SELECT min((n * 1048576) // wt) AS c FROM tw),
         |r AS (SELECT lang,
         |  LEAST(256, (256 * wt * (SELECT c FROM c)) // (n * 1048576))
         |  AS rate FROM tw)
         |SELECT d.doc_id, d.lang
         |FROM (SELECT doc_id, lang, $mixBucketSql AS bucket
         |      FROM documents) d
         |JOIN r ON d.lang = r.lang WHERE d.bucket < r.rate""".stripMargin)
        .replaceAll(raw"\s+", " "),

    // recall harness: both neighbor relations replayed as windowed
    // top-5s, hits counted in integers
    "q_v_recall" ->
      ("""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
         |  FROM embeddings WHERE vec_id < 16),
         |sc AS (SELECT q.q_id, c.vec_id AS n_id, c.embedding AS n_vec,
         |  list_sum(list_transform(range(1, len(q.q_vec) + 1),
         |    i -> CAST(q.q_vec[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) /
         |  (sqrt(list_sum(list_transform(range(1, len(q.q_vec) + 1),
         |    i -> CAST(q.q_vec[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE)))) *
         |   sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1),
         |    i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))))
         |  AS cos
         |  FROM embeddings c, q WHERE c.vec_id <> q.q_id),
         |ex AS (SELECT q_id, n_id FROM (
         |  SELECT q_id, n_id, row_number() OVER
         |    (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rnk
         |  FROM sc) WHERE rnk <= 5),
         |ap AS (SELECT q_id, n_id FROM (
         |  SELECT q_id, n_id, row_number() OVER
         |    (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rnk
         |  FROM sc WHERE n_id % 2 = 0) WHERE rnk <= 5)
         |SELECT ex.q_id, CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(count(ap.n_id) AS BIGINT) AS n_hit
         |FROM ex LEFT JOIN ap ON ex.q_id = ap.q_id AND ex.n_id = ap.n_id
         |GROUP BY ex.q_id""".stripMargin)
        .replaceAll(raw"\s+", " "),

    // first-occurrence line filter is a pure list lambda on both sides
    "q_t_line_dedup_doc" ->
      ("""WITH planted AS (
         |  SELECT doc_id, text || chr(10) || text AS text FROM documents
         |), l AS (
         |  SELECT doc_id, string_split(text, chr(10)) AS ls FROM planted
         |)
         |SELECT doc_id, array_to_string(
         |  list_filter(ls, (x, i) -> list_position(ls, x) = i),
         |  chr(10)) AS text_clean
         |FROM l""".stripMargin)
        .replaceAll(raw"\s+", " "),

    "q_t_line_dedup" ->
      ("""WITH planted AS (
         |  SELECT doc_id, concat_ws(chr(10),
         |    CASE WHEN doc_id % 3 = 0 THEN 'cookie consent: this site uses cookies' END,
         |    text, 'follow us for more exclusive updates') AS text
         |  FROM documents
         |), lines AS (
         |  SELECT DISTINCT doc_id, unnest(string_split(text, chr(10))) AS ln
         |  FROM planted
         |), rep AS (
         |  SELECT ln FROM lines WHERE length(ln) >= 10
         |  GROUP BY ln HAVING count(*) >= 2
         |), replist AS (
         |  SELECT coalesce(list(ln), []) AS ls FROM rep
         |)
         |SELECT doc_id, coalesce(array_to_string(list_filter(string_split(text, chr(10)),
         |  x -> length(x) < 10 OR NOT list_contains(ls, x)), chr(10)), '') AS text_clean
         |FROM planted, replist""".stripMargin).replaceAll(raw"\s+", " "),

    "q_a4_pivot" ->
      ("SELECT user_id, " +
        Seq("click", "view", "purchase", "signup", "error").map(t =>
          s"count(*) FILTER (WHERE event_type = '$t') AS n_$t")
          .mkString(", ") +
        " FROM events GROUP BY user_id"),

    "q_ev_window" ->
      ("SELECT date_trunc('hour', ts) AS window_start, event_type, " +
        "count(*) AS n_events, round(sum(value), 2) AS total_value " +
        "FROM events GROUP BY 1, 2"),

    // RANGE INTERVAL frames are µs-exact on both engines (Spark runs
    // the same frame on unix_micros); BIGINT sums cast down from
    // DuckDB's HUGEINT
    "q_ev_trailing" ->
      ("""SELECT event_id, user_id,
         |  count(*) OVER w1 AS n_1h,
         |  CAST(sum(CAST(round(value * 1000000) AS BIGINT)) OVER w1
         |    AS BIGINT) AS sum_micros_1h,
         |  count(*) OVER w2 AS n_24h
         |FROM events
         |WINDOW w1 AS (PARTITION BY user_id ORDER BY ts
         |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW),
         |  w2 AS (PARTITION BY user_id ORDER BY ts
         |    RANGE BETWEEN INTERVAL 24 HOUR PRECEDING AND CURRENT ROW)"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // Spark's tumbling windows align to the epoch; the oracle rebuilds
    // the same floor arithmetic on naive timestamps (no time_bucket —
    // its origin differs per DuckDB version)
    // window floor in MICROS: CAST(epoch(ts) AS BIGINT) ROUNDS the
    // fractional second (…54.84 → 55), shifting an event in the last
    // half-second before a window boundary into the next window —
    // epoch_us // floors, matching Spark's window() exactly
    "q_ev_trending" ->
      ("WITH c AS (SELECT TIMESTAMP '1970-01-01 00:00:00' + " +
        "((epoch_us(ts) // 21600000000) * 21600) * INTERVAL 1 SECOND " +
        "AS window_start, event_type, count(*) AS n_events " +
        "FROM events GROUP BY 1, 2) " +
        "SELECT window_start, event_type, n_events, " +
        "CAST(row_number() OVER (PARTITION BY window_start " +
        "ORDER BY n_events DESC, event_type) AS INT) AS rnk " +
        "FROM c QUALIFY rnk <= 2"),

    "q_ev_join" ->
      ("SELECT p.event_id AS purchase_id, c.event_id AS click_id, " +
        "c.user_id, c.ts AS click_ts, p.ts AS purchase_ts, p.value " +
        "FROM events c JOIN events p ON c.user_id = p.user_id " +
        "AND c.event_type = 'click' AND p.event_type = 'purchase' " +
        "AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE"),

    "q_ev_join_outer" ->
      ("SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts, " +
        "p.event_id AS purchase_id, p.ts AS purchase_ts, p.value " +
        "FROM (SELECT * FROM events WHERE event_type = 'click') c " +
        "LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p " +
        "ON c.user_id = p.user_id AND p.ts >= c.ts " +
        "AND p.ts <= c.ts + INTERVAL 30 MINUTE"),

    "q_ev_sessions" ->
      ("SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value, " +
        "epoch_ms(max(ts)) - epoch_ms(min(ts)) AS span_ms, false AS closed " +
        "FROM events GROUP BY user_id"),

    // DLT priority sampling replayed exactly: h from the first 8 md5
    // hex digits (per-digit polynomial — DuckDB has no base-16 conv),
    // priority = w·2³² // h in BIGINT, (priority desc, id) total order
    "q_t_priority_sample" ->
      (s"""WITH d AS (SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS nt,
         |  md5('samp:' || CAST(doc_id AS VARCHAR)) AS m FROM documents),
         |f AS (SELECT doc_id, nt, ${hex32Sql("m")} + 1 AS h FROM d
         |  WHERE nt >= 1)
         |SELECT doc_id, nt AS weight, (nt * 4294967296) // h AS priority
         |FROM f ORDER BY priority DESC, doc_id ASC LIMIT 100"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // the profiler's per-column aggregates, one UNION ALL branch per
    // column (the Spark side does it in ONE pass — the oracle only has
    // to agree on the values)
    "q_dq_profile" ->
      Seq("doc_id", "lang", "source", "n_chars").map(c =>
        s"SELECT '$c' AS col_name, count(*) - count($c) AS n_null, " +
          s"count(DISTINCT $c) AS n_distinct, " +
          s"CAST(min($c) AS VARCHAR) AS min_str, " +
          s"CAST(max($c) AS VARCHAR) AS max_str, count(*) AS n_rows " +
          "FROM documents").mkString(" UNION ALL "),

    // floor(log2)+1 via length(bin(n)) — exact integer bucketing on
    // both engines, no libm log2 at power-of-two boundaries
    "q_t_len_hist" ->
      (s"""WITH d AS (SELECT CAST(len($tokensSql) AS BIGINT) AS nt
         |  FROM documents)
         |SELECT CAST(length(bin(nt)) AS INT) AS len_bucket,
         |  count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS total_tokens
         |FROM d GROUP BY 1""".stripMargin).replaceAll(raw"\s+", " "),

    // same salted content hash, same (hash asc, id asc) order — the
    // window row_number replays the bounded aggregator's selection
    "q_t_strat_sample" ->
      (s"""WITH m AS (SELECT doc_id, lang,
         |  md5('strat:' || text) AS mm FROM documents),
         |h AS (SELECT doc_id, lang, ${hex32Sql("mm")} AS hv FROM m),
         |r AS (SELECT lang, doc_id, row_number() OVER
         |  (PARTITION BY lang ORDER BY hv ASC, doc_id ASC) AS rank
         |  FROM h)
         |SELECT lang, CAST(rank AS INT) AS rank, doc_id FROM r
         |WHERE rank <= 25""".stripMargin).replaceAll(raw"\s+", " "),

    // quantile_cont interpolates like Spark's exact percentile (the
    // q_a6 precedent); integer snapping keeps the clamp in BIGINT
    "q_ev_winsor" ->
      ("""WITH e AS (SELECT event_id, event_type,
         |  CAST(round(value * 1000000) AS BIGINT) AS vmic FROM events),
         |th AS (SELECT event_type,
         |  quantile_cont(vmic, 0.05) AS lo,
         |  quantile_cont(vmic, 0.95) AS hi FROM e GROUP BY 1)
         |SELECT event_id, event_type,
         |  least(greatest(vmic, CAST(ceil(lo) AS BIGINT)),
         |    CAST(floor(hi) AS BIGINT)) AS w_micros
         |FROM e JOIN th USING (event_type)"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // the PMI ratio is built with the SAME association order as the
    // Spark side (each *, / correctly rounded ⇒ identical double into
    // ln), then micros-rounded; counts and totals are exact integers
    "q_t_pmi" ->
      (s"""WITH tq AS (SELECT $tokensSql AS ta FROM documents),
         |t2 AS (SELECT ta FROM tq WHERE len(ta) >= 2),
         |pr AS (SELECT unnest(list_zip(ta[1:len(ta)-1], ta[2:len(ta)]))
         |  AS p FROM t2),
         |bigall AS (SELECT p[1] AS a, p[2] AS b, count(*) AS n_ab
         |  FROM pr GROUP BY 1, 2),
         |big AS (SELECT * FROM bigall WHERE n_ab >= 5),
         |uni AS (SELECT unnest(ta) AS tok FROM tq),
         |unic AS (SELECT tok, count(*) AS n_tok FROM uni GROUP BY 1),
         |tot AS (SELECT (SELECT CAST(sum(n_ab) AS BIGINT) FROM bigall)
         |    AS nbig,
         |  (SELECT CAST(sum(n_tok) AS BIGINT) FROM unic) AS nuni)
         |SELECT a, b, n_ab, CAST(round(
         |  ln((CAST(n_ab AS DOUBLE) * nuni * nuni)
         |    / (CAST(nbig AS DOUBLE) * ua.n_tok * ub.n_tok)) * 1000000)
         |  AS BIGINT) AS pmi_micros
         |FROM big
         |JOIN unic ua ON big.a = ua.tok
         |JOIN unic ub ON big.b = ub.tok
         |CROSS JOIN tot
         |ORDER BY pmi_micros DESC, a, b LIMIT 100"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // integer min-max normalization: non-negative numerator, positive
    // denominator, so DuckDB's floor-// and Spark's truncating div
    // agree everywhere
    "q_ev_minmax_norm" ->
      ("""WITH e AS (SELECT event_id, event_type,
         |  CAST(round(value * 1000000) AS BIGINT) AS vmic FROM events),
         |m AS (SELECT event_id, event_type, vmic,
         |  min(vmic) OVER (PARTITION BY event_type) AS lo,
         |  max(vmic) OVER (PARTITION BY event_type) AS hi FROM e)
         |SELECT event_id, event_type,
         |  CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
         |    ELSE ((vmic - lo) * 1000000) // (hi - lo) END AS norm_micros
         |FROM m""".stripMargin).replaceAll(raw"\s+", " "),

    // the oracle replays the name synth and the prefix-3 block join,
    // then scores with DuckDB's own levenshtein — exact integers on
    // both engines
    "q_e_lev_match" ->
      (s"""WITH $messyNamesCtes,
         |p AS (SELECT a.rec_id AS rec_id_a, b.rec_id AS rec_id_b,
         |  a.name AS name_a, b.name AS name_b
         |  FROM mn a JOIN mn b
         |  ON substr(a.name, 1, 3) = substr(b.name, 1, 3)
         |  AND a.city = b.city
         |  AND a.rec_id < b.rec_id)
         |SELECT rec_id_a, rec_id_b, name_a, name_b,
         |  CAST(levenshtein(name_a, name_b) AS INT) AS lev
         |FROM p WHERE levenshtein(name_a, name_b) <= 2"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // DuckDB's jaro_winkler_similarity is a genuinely independent
    // implementation (rapidfuzz-derived, byte-based — identical to the
    // UTF-16 kernel on this ASCII corpus): agreement in rounded micros
    // pins the exact Winkler variant end to end
    "q_e_jw_match" ->
      (s"""WITH $messyNamesCtes,
         |p AS (SELECT a.rec_id AS rec_id_a, b.rec_id AS rec_id_b,
         |  a.name AS name_a, b.name AS name_b
         |  FROM mn a JOIN mn b
         |  ON substr(a.name, 1, 3) = substr(b.name, 1, 3)
         |  AND a.city = b.city
         |  AND a.rec_id < b.rec_id)
         |SELECT rec_id_a, rec_id_b,
         |  CAST(round(jaro_winkler_similarity(name_a, name_b) * 1000000)
         |    AS BIGINT) AS jw_micros
         |FROM p
         |WHERE CAST(round(jaro_winkler_similarity(name_a, name_b) * 1000000)
         |    AS BIGINT) >= 900000"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // identical islands windows: strict > keeps touching spans merged;
    // start-ties are island-stable (a tied twin can never out-reach
    // the other's end), so no total order is needed
    "q_ev_coalesce" ->
      (s"""WITH $eventSpansCtes,
         |w AS (SELECT user_id, s_us, e_us, CASE WHEN s_us > coalesce(
         |  max(e_us) OVER (PARTITION BY user_id ORDER BY s_us, e_us
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |  -9223372036854775807) THEN 1 ELSE 0 END AS op FROM sp),
         |i AS (SELECT user_id, s_us, e_us, sum(op) OVER
         |  (PARTITION BY user_id ORDER BY s_us, e_us
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
         |  FROM w)
         |SELECT user_id, min(s_us) AS island_start,
         |  max(e_us) AS island_end, count(*) AS n_spans
         |FROM i GROUP BY user_id, isl"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_ev_coverage" ->
      (s"""WITH $eventSpansCtes,
         |w AS (SELECT user_id, s_us, e_us, CASE WHEN s_us > coalesce(
         |  max(e_us) OVER (PARTITION BY user_id ORDER BY s_us, e_us
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |  -9223372036854775807) THEN 1 ELSE 0 END AS op FROM sp),
         |i AS (SELECT user_id, s_us, e_us, sum(op) OVER
         |  (PARTITION BY user_id ORDER BY s_us, e_us
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
         |  FROM w),
         |g AS (SELECT user_id, min(s_us) AS a, max(e_us) AS b,
         |  count(*) AS n FROM i GROUP BY user_id, isl)
         |SELECT user_id, CAST(sum(b - a) AS BIGINT) AS covered,
         |  count(*) AS n_islands, CAST(sum(n) AS BIGINT) AS n_spans
         |FROM g GROUP BY user_id"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // DuckDB's median is quantile_cont(0.5) — same interpolation as
    // Spark's exact percentile; doubling before the BIGINT cast makes
    // every midpoint integral, so no float survives into the compare
    "q_dq_mad" ->
      ("""WITH e AS (SELECT event_type,
         |  CAST(round(value * 1000000) AS BIGINT) AS v FROM events),
         |md AS (SELECT event_type,
         |  CAST(2 * median(v) AS BIGINT) AS med2 FROM e GROUP BY event_type),
         |d AS (SELECT e.event_type, abs(v * 2 - med2) AS dev2, med2
         |  FROM e JOIN md USING (event_type)),
         |mb AS (SELECT event_type,
         |  CAST(2 * median(dev2) AS BIGINT) AS mad4 FROM d
         |  GROUP BY event_type)
         |SELECT d.event_type, max(med2) AS med2_micros,
         |  max(mad4) AS mad4_micros,
         |  CAST(sum(CASE WHEN dev2 * 2 > mad4 * 3 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_outliers
         |FROM d JOIN mb USING (event_type) GROUP BY d.event_type"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_ev_decay" ->
      ("""WITH mx AS (SELECT max(epoch_us(ts)) AS mx FROM events),
         |e AS (SELECT user_id,
         |  (mx - epoch_us(ts)) // 86400000000 AS age FROM events, mx)
         |SELECT user_id, CAST(sum(CASE WHEN age >= 20 THEN 0
         |  ELSE 1000000 // (1 << age) END) AS BIGINT) AS decay_micros,
         |  count(*) AS n_events
         |FROM e GROUP BY user_id"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // the oracle replays the 3×3 grid probe — coordinates and cells
    // are pure integer arithmetic on both engines; the plane side is
    // 4000·⌊√n⌋ on both (IEEE sqrt is correctly rounded, so FLOOR of
    // it matches Scala's toLong truncation for every integer n)
    "q_g_spatial" ->
      (s"""WITH n AS (SELECT 4000 * GREATEST(4,
         |  CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) AS side FROM events),
         |p AS (SELECT event_id AS id,
         |  ${hex32Sql("md5('gx:' || CAST(event_id AS VARCHAR))")}
         |    % side AS x,
         |  ${hex32Sql("md5('gy:' || CAST(event_id AS VARCHAR))")}
         |    % side AS y FROM events, n),
         |pa AS (SELECT id, x, y, x // 4000 + dx AS cx, y // 4000 + dy AS cy
         |  FROM p, generate_series(-1, 1) g1(dx),
         |  generate_series(-1, 1) g2(dy)),
         |pb AS (SELECT id, x, y, x // 4000 AS cx, y // 4000 AS cy FROM p)
         |SELECT pa.id AS id_a, pb.id AS id_b,
         |  (pa.x - pb.x) * (pa.x - pb.x) +
         |  (pa.y - pb.y) * (pa.y - pb.y) AS dist2
         |FROM pa JOIN pb ON pa.cx = pb.cx AND pa.cy = pb.cy
         |  AND pa.id < pb.id
         |WHERE (pa.x - pb.x) * (pa.x - pb.x) +
         |  (pa.y - pb.y) * (pa.y - pb.y) <= 16000000"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // window counts per ladder level — count over ALL rows at each
    // level, exactly the operator's documented contract
    "q_p_kanon" ->
      ("""WITH c AS (SELECT c_custkey AS rec_id, c_nationkey AS nat,
         |  c_mktsegment AS seg,
         |  CAST(round(c_acctbal * 100) AS BIGINT) + 100000 AS cen
         |  FROM customer),
         |w AS (SELECT rec_id,
         |  count(*) OVER (PARTITION BY nat, seg, cen // 400000) AS n0,
         |  count(*) OVER (PARTITION BY nat, seg) AS n1,
         |  count(*) OVER (PARTITION BY seg) AS n2 FROM c)
         |SELECT rec_id, CASE WHEN n0 >= 5 THEN 0 WHEN n1 >= 5 THEN 1
         |  WHEN n2 >= 5 THEN 2 ELSE -1 END AS anon_level FROM w"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // l-diversity replayed: one GROUP BY with count(distinct band),
    // the nat%5 homogeneity planting included
    "q_p_ldiv" ->
      ("""WITH c AS (SELECT c_nationkey AS nat, c_mktsegment AS seg,
         |  CASE WHEN c_nationkey % 5 = 0 THEN 0 ELSE
         |    (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 200000
         |    END AS band
         |  FROM customer)
         |SELECT nat, seg, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT band) AS BIGINT) AS n_sensitive,
         |  count(DISTINCT band) >= 3 AS diverse
         |FROM c GROUP BY nat, seg""".stripMargin)
        .replaceAll(raw"\s+", " "),

    // entropy l-diversity replayed: per-value micros terms (round
    // once per value — the DSIR construction), exact integer group
    // sums, the literal ln(3)-micros threshold (1098612 — both
    // engines' ln(3) agree far beyond the .5 boundary)
    "q_p_ldiv_ent" ->
      ("""WITH c AS (SELECT c_nationkey AS nat, c_mktsegment AS seg,
         |  CASE WHEN c_nationkey % 5 = 0 THEN 0 ELSE
         |    (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 200000
         |    END AS band
         |  FROM customer),
         |nv AS (SELECT nat, seg, band, CAST(count(*) AS BIGINT) AS nv
         |  FROM c GROUP BY 1, 2, 3),
         |tot AS (SELECT nat, seg, CAST(sum(nv) AS BIGINT) AS n_rows,
         |  CAST(count(*) AS BIGINT) AS n_sensitive
         |  FROM nv GROUP BY 1, 2),
         |t AS (SELECT nv.nat, nv.seg,
         |  CAST(round(1000000.0 *
         |    (CAST(nv AS DOUBLE) / CAST(n_rows AS DOUBLE)) *
         |    ln(CAST(n_rows AS DOUBLE) / CAST(nv AS DOUBLE)))
         |    AS BIGINT) AS term
         |  FROM nv JOIN tot USING (nat, seg)),
         |e AS (SELECT nat, seg, CAST(sum(term) AS BIGINT)
         |  AS entropy_micros FROM t GROUP BY 1, 2)
         |SELECT e.nat, e.seg, tot.n_rows, tot.n_sensitive,
         |  e.entropy_micros, e.entropy_micros >= 1098612 AS diverse
         |FROM e JOIN tot USING (nat, seg)""".stripMargin)
        .replaceAll(raw"\s+", " "),

    // t-closeness replayed stage for stage: domain table + scalar
    // (N, m), group×domain grid with genuine-zero cells, integer
    // prefix-sum window, Σ|P_i| over i<m, one truncating division.
    // Everything before emd_micros is exact int, so the hash matches
    // without any rounding-boundary analysis
    "q_p_tclose" ->
      ("""WITH c AS (SELECT c_nationkey AS nat, c_mktsegment AS seg,
         |  CASE WHEN c_nationkey % 4 = 0 THEN
         |    (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 500000
         |  ELSE
         |    (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 200000
         |  END AS band FROM customer),
         |vals AS (SELECT band, CAST(count(*) AS BIGINT) AS cv
         |  FROM c GROUP BY 1),
         |sc AS (SELECT CAST(sum(cv) AS BIGINT) AS n_corpus,
         |  CAST(count(*) AS BIGINT) AS m FROM vals),
         |idx AS (SELECT band, cv,
         |  row_number() OVER (ORDER BY band) AS i FROM vals),
         |gtot AS (SELECT nat, seg, CAST(count(*) AS BIGINT) AS n_rows
         |  FROM c GROUP BY 1, 2),
         |gv AS (SELECT nat, seg, band, CAST(count(*) AS BIGINT) AS ng
         |  FROM c GROUP BY 1, 2, 3),
         |grid AS (SELECT g.nat, g.seg, g.n_rows, d.cv, d.i,
         |  coalesce(v.ng, 0) AS ng
         |  FROM gtot g CROSS JOIN idx d LEFT JOIN gv v
         |  ON v.nat = g.nat AND v.seg = g.seg AND v.band = d.band),
         |pref AS (SELECT nat, seg, n_rows, i,
         |  sum(ng * (SELECT n_corpus FROM sc) - cv * n_rows)
         |    OVER (PARTITION BY nat, seg ORDER BY i) AS p FROM grid),
         |emd AS (SELECT nat, seg, n_rows,
         |  CAST(sum(abs(p)) AS BIGINT) AS num
         |  FROM pref WHERE i < (SELECT m FROM sc) GROUP BY 1, 2, 3)
         |SELECT nat, seg, n_rows,
         |  CAST((num * 1000000) // ((SELECT m - 1 FROM sc) * n_rows *
         |    (SELECT n_corpus FROM sc)) AS BIGINT) AS emd_micros,
         |  num * 1000000 <= 150000 * (SELECT m - 1 FROM sc) *
         |    (SELECT n_corpus FROM sc) * n_rows AS close
         |FROM emd""".stripMargin).replaceAll(raw"\s+", " "),

    // the release filter replayed: the same EMD chain (with the row
    // key carried), close groups, one join back onto the rows
    "q_p_tclose_rel" ->
      ("""WITH c AS (SELECT c_custkey AS cust, c_nationkey AS nat,
         |  c_mktsegment AS seg,
         |  CASE WHEN c_nationkey % 4 = 0 THEN
         |    (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 500000
         |  ELSE
         |    (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 200000
         |  END AS band FROM customer),
         |vals AS (SELECT band, CAST(count(*) AS BIGINT) AS cv
         |  FROM c GROUP BY 1),
         |sc AS (SELECT CAST(sum(cv) AS BIGINT) AS n_corpus,
         |  CAST(count(*) AS BIGINT) AS m FROM vals),
         |idx AS (SELECT band, cv,
         |  row_number() OVER (ORDER BY band) AS i FROM vals),
         |gtot AS (SELECT nat, seg, CAST(count(*) AS BIGINT) AS n_rows
         |  FROM c GROUP BY 1, 2),
         |gv AS (SELECT nat, seg, band, CAST(count(*) AS BIGINT) AS ng
         |  FROM c GROUP BY 1, 2, 3),
         |grid AS (SELECT g.nat, g.seg, g.n_rows, d.cv, d.i,
         |  coalesce(v.ng, 0) AS ng
         |  FROM gtot g CROSS JOIN idx d LEFT JOIN gv v
         |  ON v.nat = g.nat AND v.seg = g.seg AND v.band = d.band),
         |pref AS (SELECT nat, seg, n_rows, i,
         |  sum(ng * (SELECT n_corpus FROM sc) - cv * n_rows)
         |    OVER (PARTITION BY nat, seg ORDER BY i) AS p FROM grid),
         |emd AS (SELECT nat, seg, n_rows,
         |  CAST(sum(abs(p)) AS BIGINT) AS num
         |  FROM pref WHERE i < (SELECT m FROM sc) GROUP BY 1, 2, 3),
         |ok AS (SELECT nat, seg FROM emd
         |  WHERE num * 1000000 <= 150000 * (SELECT m - 1 FROM sc) *
         |    (SELECT n_corpus FROM sc) * n_rows)
         |SELECT c.cust, c.nat, c.seg, c.band
         |FROM c JOIN ok ON c.nat = ok.nat AND c.seg = ok.seg"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // categorical t-closeness replayed: TVD numerator as integer
    // cross-products over the group×segment grid (absent cells =
    // genuine zeros), one truncating division, cross-multiplied
    // verdict — no ordering, no prefix window, no (m-1)
    "q_p_tclose_cat" ->
      ("""WITH c AS (SELECT c_nationkey AS nat,
         |  (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 300000
         |    AS band,
         |  c_mktsegment AS seg FROM customer),
         |vals AS (SELECT seg, CAST(count(*) AS BIGINT) AS cv
         |  FROM c GROUP BY 1),
         |sc AS (SELECT CAST(sum(cv) AS BIGINT) AS n_corpus FROM vals),
         |gtot AS (SELECT nat, band, CAST(count(*) AS BIGINT) AS n_rows
         |  FROM c GROUP BY 1, 2),
         |gv AS (SELECT nat, band, seg, CAST(count(*) AS BIGINT) AS ng
         |  FROM c GROUP BY 1, 2, 3),
         |grid AS (SELECT g.nat, g.band, g.n_rows, d.cv,
         |  coalesce(v.ng, 0) AS ng
         |  FROM gtot g CROSS JOIN vals d LEFT JOIN gv v
         |  ON v.nat = g.nat AND v.band = g.band AND v.seg = d.seg),
         |tvd AS (SELECT nat, band, n_rows,
         |  CAST(sum(abs(ng * (SELECT n_corpus FROM sc) - cv * n_rows))
         |    AS BIGINT) AS num
         |  FROM grid GROUP BY 1, 2, 3)
         |SELECT nat, band, n_rows,
         |  CAST((num * 1000000) // (2 * n_rows *
         |    (SELECT n_corpus FROM sc)) AS BIGINT) AS tvd_micros,
         |  num * 1000000 <= 200000 * 2 *
         |    (SELECT n_corpus FROM sc) * n_rows AS close
         |FROM tvd""".stripMargin).replaceAll(raw"\s+", " "),

    // degree-ordered triangle enumeration replayed join for join:
    // undirect+distinct, degree table, orientation, wedge join,
    // closing-edge join (o rows are unique → inner ≡ semi)
    "q_g_triangles" ->
      ("""WITH nn AS (SELECT count(*) AS cnt FROM documents),
         |e0 AS (SELECT doc_id AS src, (doc_id * 7 + 3) % cnt AS dst
         |  FROM documents, nn
         |  UNION ALL SELECT doc_id, (doc_id * 13 + 5) % cnt
         |  FROM documents, nn
         |  UNION ALL SELECT doc_id,
         |  (doc_id // 4) * 4 + (doc_id % 4 + 1) % 4 FROM documents
         |  UNION ALL SELECT doc_id,
         |  (doc_id // 4) * 4 + (doc_id % 4 + 2) % 4 FROM documents),
         |und AS (SELECT DISTINCT least(src, dst) AS a,
         |  greatest(src, dst) AS b FROM e0
         |  WHERE least(src, dst) < greatest(src, dst)),
         |dg AS (SELECT id, count(*) AS d FROM
         |  (SELECT a AS id FROM und UNION ALL SELECT b FROM und)
         |  GROUP BY id),
         |o AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND a < b)
         |    THEN a ELSE b END AS u,
         |  CASE WHEN da.d < db.d OR (da.d = db.d AND a < b)
         |    THEN b ELSE a END AS v
         |  FROM und JOIN dg da ON und.a = da.id
         |  JOIN dg db ON und.b = db.id),
         |wg AS (SELECT o1.u AS u, o1.v AS v, o2.v AS ww
         |  FROM o o1 JOIN o o2 ON o1.v = o2.u),
         |tr AS (SELECT wg.u, wg.v, wg.ww FROM wg
         |  JOIN o ON wg.u = o.u AND wg.ww = o.v),
         |x AS (SELECT unnest([u, v, ww]) AS id FROM tr)
         |SELECT id AS doc_id, count(*) AS n_tri FROM x GROUP BY id"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // distinct → degree cap → one self-equi-join on the order key
    "q_g_cooccur" ->
      ("""WITH e AS (SELECT DISTINCT l_orderkey AS ctx,
         |  l_partkey AS it FROM lineitem),
         |d AS (SELECT ctx FROM e GROUP BY ctx HAVING count(*) <= 100),
         |k AS (SELECT e.ctx, e.it FROM e JOIN d USING (ctx))
         |SELECT a.it AS item_a, b.it AS item_b, count(*) AS n_common
         |FROM k a JOIN k b ON a.ctx = b.ctx AND a.it < b.it
         |GROUP BY 1, 2"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // naive all-pairs Jaccard — the PPJoin's prefix/length filters
    // must not change the answer
    "q_e_jaccard_pairs" ->
      (s"""WITH $messyNamesCtes,
         |g AS (SELECT rec_id, list_distinct(list_transform(
         |  range(1, greatest(length(name) - 2, 1) + 1),
         |  i -> substr(name, CAST(i AS INT), 3))) AS gs FROM mn),
         |p AS (SELECT a.rec_id AS rec_id_a, b.rec_id AS rec_id_b,
         |  CAST(len(list_intersect(a.gs, b.gs)) AS BIGINT) AS n,
         |  CAST(len(a.gs) + len(b.gs)
         |    - len(list_intersect(a.gs, b.gs)) AS BIGINT) AS u
         |  FROM g a JOIN g b ON a.rec_id < b.rec_id)
         |SELECT rec_id_a, rec_id_b, (n * 1000000) // u AS jac_micros
         |FROM p WHERE n * 1000000 >= u * 700000"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // directed containment replayed naively: all ordered pairs,
    // intersection over the LEFT side's gram count
    "q_e_containment" ->
      (s"""WITH $messyNamesCtes,
         |g AS (SELECT rec_id, list_distinct(list_transform(
         |  range(1, greatest(length(name) - 2, 1) + 1),
         |  i -> substr(name, CAST(i AS INT), 3))) AS gs FROM mn),
         |p AS (SELECT a.rec_id AS rec_id_a, b.rec_id AS rec_id_b,
         |  CAST(len(list_intersect(a.gs, b.gs)) AS BIGINT) AS n,
         |  CAST(len(a.gs) AS BIGINT) AS sa
         |  FROM g a JOIN g b ON a.rec_id <> b.rec_id)
         |SELECT rec_id_a, rec_id_b,
         |  (n * 1000000) // sa AS cont_micros
         |FROM p WHERE n * 1000000 >= sa * 800000"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // the capped replay: drop grams with df > 64 FIRST, then the
    // naive all-ordered-pairs containment over the surviving sets
    // (records capped to empty vanish — no left side to judge)
    "q_e_containment_capped" ->
      (s"""WITH $messyNamesCtes,
         |g0 AS (SELECT rec_id, unnest(list_distinct(list_transform(
         |  range(1, greatest(length(name) - 2, 1) + 1),
         |  i -> substr(name, CAST(i AS INT), 3)))) AS g FROM mn),
         |dft AS (SELECT g, count(*) AS df FROM g0 GROUP BY g),
         |gf AS (SELECT g0.rec_id, g0.g FROM g0 JOIN dft USING (g)
         |  WHERE dft.df <= 64),
         |gl AS (SELECT rec_id, list(g) AS gs FROM gf GROUP BY rec_id),
         |p AS (SELECT a.rec_id AS rec_id_a, b.rec_id AS rec_id_b,
         |  CAST(len(list_intersect(a.gs, b.gs)) AS BIGINT) AS n,
         |  CAST(len(a.gs) AS BIGINT) AS sa
         |  FROM gl a JOIN gl b ON a.rec_id <> b.rec_id)
         |SELECT rec_id_a, rec_id_b,
         |  (n * 1000000) // sa AS cont_micros
         |FROM p WHERE n * 1000000 >= sa * 800000"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_e_trigram_pairs" ->
      (s"""WITH $messyNamesCtes,
         |rk AS (SELECT rec_id, name || '|' || CAST(city AS VARCHAR)
         |  AS k FROM mn),
         |nrec AS (SELECT count(*) AS n FROM rk),
         |g0 AS (SELECT rec_id, unnest(list_distinct(list_transform(
         |  range(1, greatest(length(k) - 2, 1) + 1),
         |  i -> substr(k, CAST(i AS INT), 3)))) AS g FROM rk),
         |df AS (SELECT g, count(*) AS df FROM g0 GROUP BY g),
         |gs AS (SELECT g0.rec_id, g0.g FROM g0 JOIN df USING (g), nrec
         |  WHERE df.df <= nrec.n // 10),
         |p AS (SELECT a.rec_id AS rec_id_a, b.rec_id AS rec_id_b,
         |  count(*) AS n_common
         |  FROM gs a JOIN gs b ON a.g = b.g AND a.rec_id < b.rec_id
         |  GROUP BY 1, 2)
         |SELECT rec_id_a, rec_id_b, n_common FROM p
         |WHERE n_common >= 5"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // the k greedy MMR rounds unrolled: each w_i CTE is the argmax of
    // (relmic − greatest of micros-cosines to w_1..w_{i−1}), ties by
    // id — the identical integer trajectory the Spark loop walks
    "q_v_mmr" -> {
      def cosm(a: String, b: String): String =
        s"CAST(round(1000000 * (" +
          s"list_sum(list_transform(range(1, len($a) + 1), " +
          s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))) / " +
          s"(sqrt(list_sum(list_transform(range(1, len($a) + 1), " +
          s"i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)))) * " +
          s"sqrt(list_sum(list_transform(range(1, len($b) + 1), " +
          s"i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))))))) " +
          "AS BIGINT)"
      val k = 6
      // DuckDB disallows subqueries inside list lambdas — winner
      // vectors join in as plain columns instead
      val steps = (1 to k).map { i =>
        if (i == 1)
          "w1 AS (SELECT vec_id, relmic AS margin, v FROM r " +
            "ORDER BY margin DESC, vec_id LIMIT 1)"
        else {
          val joins = (1 until i)
            .map(j => s"CROSS JOIN (SELECT v AS pv$j FROM w$j) x$j")
            .mkString(" ")
          val sims = (1 until i)
            .map(j => cosm("r.v", s"pv$j")).mkString(", ")
          val gr = if (i == 2) sims else s"greatest($sims)"
          val excl = (1 until i).map(j => s"SELECT vec_id FROM w$j")
            .mkString(" UNION ALL ")
          s"w$i AS (SELECT r.vec_id, r.relmic - $gr AS margin, r.v " +
            s"FROM r $joins WHERE r.vec_id NOT IN ($excl) " +
            "ORDER BY margin DESC, r.vec_id LIMIT 1)"
        }
      }.mkString(", ")
      val out = (1 to k).map(i =>
        s"SELECT $i AS step, vec_id, margin AS margin_micros FROM w$i")
        .mkString(" UNION ALL ")
      (s"WITH rf AS (SELECT embedding AS refv FROM embeddings " +
        "WHERE vec_id = 0), " +
        s"r AS (SELECT vec_id, embedding AS v, " +
        s"${cosm("embedding", "refv")} AS relmic " +
        s"FROM embeddings CROSS JOIN rf WHERE vec_id <> 0), $steps $out")
    },

    // min-label propagation unrolled 8 rounds over the undirected
    // match edges — exact CC once rounds ≥ diameter (measured 3)
    "q_e_resolve" -> {
      def round(prev: String, out: String): String =
        s"$out AS (SELECT v.id, least(v.l, coalesce(m.nm, v.l)) AS l " +
          s"FROM $prev v LEFT JOIN (SELECT e.d AS id, min($prev.l) AS nm " +
          s"FROM e JOIN $prev ON e.s = $prev.id GROUP BY e.d) m " +
          "ON v.id = m.id)"
      val rounds = (0 until 8)
        .map(i => round(s"r$i", s"r${i + 1}")).mkString(", ")
      (s"""WITH $messyNamesCtes,
         |p AS (SELECT a.rec_id AS ra, b.rec_id AS rb
         |  FROM mn a JOIN mn b
         |  ON substr(a.name, 1, 3) = substr(b.name, 1, 3)
         |  AND a.city = b.city AND a.rec_id < b.rec_id
         |  WHERE levenshtein(a.name, b.name) <= 2),
         |e AS (SELECT ra AS s, rb AS d FROM p
         |  UNION ALL SELECT rb, ra FROM p),
         |r0 AS (SELECT DISTINCT s AS id, s AS l FROM e),
         |""".stripMargin + rounds +
        " SELECT id, l AS component FROM r8")
        .replaceAll(raw"\s+", " ")
    },

    // same blocked pairs as q_e_jw_match; the weight literals are the
    // SAME Scala values the Spark gate uses (interpolated), so the
    // comparison exercises the scoring machinery, not libm
    "q_e_fs" ->
      (s"""WITH $messyNamesCtes,
         |p AS (SELECT a.rec_id AS rec_id_a, b.rec_id AS rec_id_b,
         |  a.name AS name_a, b.name AS name_b
         |  FROM mn a JOIN mn b
         |  ON substr(a.name, 1, 3) = substr(b.name, 1, 3)
         |  AND a.city = b.city AND a.rec_id < b.rec_id),
         |w AS (SELECT rec_id_a, rec_id_b,
         |  CASE WHEN CAST(round(jaro_winkler_similarity(name_a, name_b)
         |      * 1000000) AS BIGINT) >= 920000
         |    THEN ${fsJw._1} ELSE ${fsJw._2} END
         |  + CASE WHEN length(name_a) = length(name_b)
         |    THEN ${fsLen._1} ELSE ${fsLen._2} END
         |  + CASE WHEN substr(name_a, 1, 4) = substr(name_b, 1, 4)
         |    THEN ${fsPre._1} ELSE ${fsPre._2} END AS fs_micros
         |  FROM p)
         |SELECT rec_id_a, rec_id_b, CAST(fs_micros AS BIGINT) AS fs_micros,
         |  CASE WHEN fs_micros >= 2000000 THEN 'match'
         |    WHEN fs_micros > 0 THEN 'possible'
         |    ELSE 'non-match' END AS fs_class FROM w"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // the oracle replays the window segmentation and the integer
    // credit split (remainder to the LAST touch) verbatim
    "q_ev_attrib" ->
      ("""WITH e AS (SELECT event_id, user_id, ts, event_type,
         |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ic
         |  FROM events),
         |s AS (SELECT *, sum(ic) OVER (PARTITION BY user_id
         |  ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
         |  CURRENT ROW) - ic AS win FROM e),
         |t AS (SELECT user_id, win, event_id, event_type, ts FROM s
         |  WHERE ic = 0),
         |c AS (SELECT user_id, win FROM s WHERE ic = 1),
         |j AS (SELECT t.* FROM t JOIN c
         |  ON t.user_id = c.user_id AND t.win = c.win),
         |r AS (SELECT event_type,
         |  count(*) OVER (PARTITION BY user_id, win) AS k,
         |  row_number() OVER (PARTITION BY user_id, win
         |    ORDER BY ts, event_id) AS pos FROM j),
         |cr AS (SELECT event_type,
         |  CASE WHEN k = 1 THEN 1000000
         |    WHEN k = 2 THEN 500000
         |    WHEN pos = 1 THEN 400000
         |    WHEN pos = k THEN 600000 - (k - 2) * (200000 // (k - 2))
         |    ELSE 200000 // (k - 2) END AS credit FROM r)
         |SELECT event_type, count(*) AS n_touches,
         |  CAST(sum(credit) AS BIGINT) AS credit_micros
         |FROM cr GROUP BY 1"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_ev_resample" ->
      ("""WITH ev AS (SELECT user_id,
         |  epoch_us(ts) // 3600000000 AS h FROM events),
         |cnt AS (SELECT user_id, h, count(*) AS n FROM ev GROUP BY 1, 2),
         |sp AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM cnt
         |  GROUP BY 1),
         |grid AS (SELECT user_id, unnest(range(h0, h1 + 1)) AS h FROM sp),
         |f AS (SELECT g.user_id, g.h, coalesce(cnt.n, 0) AS ne
         |  FROM grid g LEFT JOIN cnt
         |  ON g.user_id = cnt.user_id AND g.h = cnt.h)
         |SELECT user_id, h, CAST(ne AS BIGINT) AS n_events,
         |  CAST(sum(ne) OVER (PARTITION BY user_id ORDER BY h
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |  AS BIGINT) AS cum_events FROM f"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_ml_fhash" ->
      (s"""WITH tk AS (SELECT doc_id, unnest($tokensSql) AS tok
         |  FROM documents)
         |SELECT doc_id,
         |  ${hex32Sql("md5('fh:' || tok)")} % 128 AS bucket,
         |  count(*) AS n FROM tk GROUP BY 1, 2"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_ml_target_enc" ->
      ("""WITH o AS (SELECT o_orderkey, o_orderpriority,
         |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
         |  FROM orders)
         |SELECT o_orderkey, o_orderpriority AS cat,
         |  CAST(sum(cents) OVER (PARTITION BY o_orderpriority) - cents
         |    AS BIGINT) AS loo_num,
         |  count(*) OVER (PARTITION BY o_orderpriority) - 1 AS loo_den
         |FROM o""".stripMargin).replaceAll(raw"\s+", " "),

    "q_dq_drift" ->
      ("""WITH ev AS (SELECT epoch_us(ts) AS us,
         |  CAST(round(value * 1000000) AS BIGINT) AS vmic FROM events),
         |b AS (SELECT min(us) AS t0, max(us) AS t1, min(vmic) AS lo,
         |  max(vmic) AS hi FROM ev),
         |k AS (SELECT least(((vmic - lo) * 10) // (hi - lo + 1), 9)
         |  AS bucket, (us * 2 < t0 + t1) AS early FROM ev, b),
         |a AS (SELECT bucket,
         |  CAST(sum(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT) AS na,
         |  CAST(sum(CASE WHEN early THEN 0 ELSE 1 END) AS BIGINT) AS nb
         |  FROM k GROUP BY bucket),
         |t AS (SELECT CAST(sum(na) AS BIGINT) AS ta,
         |  CAST(sum(nb) AS BIGINT) AS tb FROM a)
         |SELECT bucket, na, nb, na * tb - nb * ta AS imbalance
         |FROM a, t""".stripMargin).replaceAll(raw"\s+", " "),

    // the window-membership identity: user u counts toward day d iff
    // u was active in [d-6, d] — replayed as an explicit interval join
    "q_ev_seasonality" ->
      ("""SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
         |(epoch_us(ts) // 3600000000) % 24 AS hod, count(*) AS n
         |FROM events GROUP BY 1, 2"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_ev_gaps" ->
      ("""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id
         |  FROM events),
         |g AS (SELECT user_id, us - lag(us) OVER (PARTITION BY user_id
         |  ORDER BY us, event_id) AS gap FROM e)
         |SELECT user_id, count(*) AS n_gaps,
         |  CAST(2 * median(gap) AS BIGINT) AS med2_gap_us,
         |  max(gap) AS max_gap_us
         |FROM g WHERE gap IS NOT NULL GROUP BY user_id"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_ml_prf" ->
      (s"""WITH d AS (SELECT lang, $langCaseSql AS pred FROM documents),
         |r AS (SELECT lang,
         |  CAST(sum(CASE WHEN pred = lang THEN 1 ELSE 0 END)
         |    AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN pred <> lang THEN 1 ELSE 0 END)
         |    AS BIGINT) AS fn FROM d GROUP BY lang),
         |p AS (SELECT pred AS lang, count(*) AS n_pred FROM d
         |  GROUP BY pred)
         |SELECT r.lang, tp, fn, coalesce(n_pred, 0) - tp AS fp
         |FROM r LEFT JOIN p USING (lang)"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_ml_calibration" ->
      (s"""WITH d AS (SELECT $qualityMicrosSql AS score,
         |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
         |  FROM documents)
         |SELECT least(score // 100000, 9) AS bin, count(*) AS n,
         |  CAST(sum(pos) AS BIGINT) AS n_pos FROM d GROUP BY 1"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_t_keywords" ->
      (s"""WITH tok AS (SELECT doc_id, unnest($tokensSql) AS token
         |  FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
         |  GROUP BY 1, 2),
         |dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok
         |  GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM documents),
         |sc AS (SELECT tf.doc_id, tf.token, tf.tf,
         |  tf.tf * CAST(round(1000000.0 * ln(CAST(n.n AS DOUBLE) / df))
         |    AS BIGINT) AS tfidf_micros
         |  FROM tf, dfreq, n WHERE tf.token = dfreq.token),
         |r AS (SELECT doc_id, token, tfidf_micros, CAST(row_number()
         |  OVER (PARTITION BY doc_id
         |    ORDER BY tfidf_micros DESC, token) AS INT) AS rnk FROM sc)
         |SELECT doc_id, rnk, token, tfidf_micros FROM r
         |WHERE rnk <= 3""".stripMargin).replaceAll(raw"\s+", " "),

    "q_ml_auc" ->
      (s"""WITH d AS (SELECT $qualityMicrosSql AS score,
         |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
         |  FROM documents),
         |g AS (SELECT score, CAST(sum(pos) AS BIGINT) AS np,
         |  CAST(sum(1 - pos) AS BIGINT) AS nn FROM d GROUP BY score),
         |c AS (SELECT score, np, nn, coalesce(sum(nn) OVER
         |  (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND
         |   1 PRECEDING), 0) AS cumneg FROM g)
         |SELECT CAST(sum(np * cumneg * 2 + np * nn) AS BIGINT) AS u2,
         |  CAST(sum(np) AS BIGINT) AS n_pos,
         |  CAST(sum(nn) AS BIGINT) AS n_neg FROM c"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_t_lang_conf" ->
      (s"""SELECT lang, $langCaseSql AS lang_pred, count(*) AS n
         |FROM documents GROUP BY 1, 2"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_ev_spikes" ->
      ("""WITH h AS (SELECT event_type,
         |  epoch_us(ts) // 3600000000 AS hour, count(*) AS n
         |  FROM events GROUP BY 1, 2),
         |m AS (SELECT event_type, CAST(2 * median(n) AS BIGINT) AS med2
         |  FROM h GROUP BY 1)
         |SELECT h.event_type, hour, n FROM h JOIN m USING (event_type)
         |WHERE n * 4 > med2 * 3"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_ev_wau" ->
      ("""WITH ud AS (SELECT DISTINCT user_id,
         |  epoch_us(ts) // 86400000000 AS day FROM events),
         |m AS (SELECT max(day) AS mx FROM ud),
         |x AS (SELECT DISTINCT user_id, day + o AS d
         |  FROM ud, unnest([0, 1, 2, 3, 4, 5, 6]) t(o))
         |SELECT d AS day, count(*) AS wau FROM x, m
         |WHERE d <= mx GROUP BY d"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_t_dup_by_source" ->
      ("""SELECT source, count(*) AS n_docs,
         |count(DISTINCT text) AS n_distinct,
         |((count(*) - count(DISTINCT text)) * 1000000) // count(*)
         |  AS dup_ppm
         |FROM documents GROUP BY source"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // the oracle replays the PLANT arithmetic — ground truth for the
    // regex detectors. Redacted length: base len(text) plus, per
    // plant, the non-PII prefix (9/6/6 chars) + the placeholder
    // (7/4/7) — the PII span itself is arithmetic-exact by id
    "q_t_pii" ->
      ("""SELECT doc_id,
         |CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INT)
         |  AS n_email,
         |CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS INT)
         |  AS n_ip,
         |CAST(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS INT)
         |  AS n_phone,
         |CAST(len(text)
         |  + CASE WHEN doc_id % 3 = 0 THEN 16 ELSE 0 END
         |  + CASE WHEN doc_id % 5 = 0 THEN 10 ELSE 0 END
         |  + CASE WHEN doc_id % 7 = 0 THEN 13 ELSE 0 END AS INT)
         |  AS len_redacted
         |FROM documents"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // the oracle KNOWS the scene grid: keyframes at 0/3/6/9 per video
    "q_mm_keyframes" ->
      ("""SELECT doc_id, CAST(f AS INT) AS frame_idx
         |FROM documents, unnest([0, 3, 6, 9]) t(f)"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // pushdown decode of exactly the keyframes: same closed-form
    // index set, synth-deterministic dimensions
    "q_mm_keyframes_push" ->
      ("""SELECT doc_id, CAST(f AS INT) AS frame_idx,
         |  CAST(12 AS INT) AS width, CAST(10 AS INT) AS height
         |FROM documents, unnest([0, 3, 6, 9]) t(f)"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // chain components have 10 members except the tail stub — replay
    // the same closed-form component arithmetic as q_d_resolve
    "q_d_cluster_hist" ->
      ("""WITH c AS (SELECT doc_id - doc_id % 10 AS component
         |  FROM documents),
         |s AS (SELECT component, count(*) AS sz FROM c GROUP BY 1)
         |SELECT sz, count(*) AS n_clusters FROM s GROUP BY sz"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_ev_growth" ->
      ("""WITH f AS (SELECT user_id,
         |  min(epoch_us(ts) // 86400000000) AS d0 FROM events
         |  GROUP BY user_id),
         |g AS (SELECT d0 AS day, count(*) AS n_new FROM f GROUP BY 1)
         |SELECT day, n_new, CAST(sum(n_new) OVER (ORDER BY day
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |  AS BIGINT) AS n_cum FROM g"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_pipe_card" ->
      (s"""WITH q AS (SELECT text, lang, $tokensSql AS ta,
         |  $qualityMicrosSql AS qm FROM documents)
         |SELECT count(*) AS n_docs,
         |  (SELECT count(DISTINCT text) FROM documents)
         |    AS n_distinct_text,
         |  CAST(sum(len(ta)) AS BIGINT) AS n_tokens,
         |  count(DISTINCT lang) AS n_langs,
         |  CAST(sum(qm) AS BIGINT) // count(*) AS mean_quality_micros
         |FROM q""".stripMargin).replaceAll(raw"\s+", " "),

    "q_pipe_card2" ->
      (s"""WITH q AS (SELECT source, lang, text, $tokensSql AS ta,
         |  $qualityMicrosSql AS qm FROM documents)
         |SELECT source, count(*) AS n_docs,
         |  count(DISTINCT text) AS n_distinct,
         |  ((count(*) - count(DISTINCT text)) * 1000000) // count(*)
         |    AS dup_ppm,
         |  CAST(sum(len(ta)) AS BIGINT) AS n_tokens,
         |  count(DISTINCT lang) AS n_langs,
         |  CAST(sum(qm) AS BIGINT) // count(*) AS mean_quality_micros,
         |  count(*) FILTER (WHERE least(qm // 250000, 3) = 0) AS q_h0,
         |  count(*) FILTER (WHERE least(qm // 250000, 3) = 1) AS q_h1,
         |  count(*) FILTER (WHERE least(qm // 250000, 3) = 2) AS q_h2,
         |  count(*) FILTER (WHERE least(qm // 250000, 3) = 3) AS q_h3
         |FROM q GROUP BY source""".stripMargin)
        .replaceAll(raw"\s+", " "),

    "q_ev_funnel_seq" ->
      ("""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us
         |  FROM events),
         |a AS (SELECT user_id, min(us) AS ta FROM ev
         |  WHERE event_type = 'view' GROUP BY user_id),
         |b AS (SELECT ev.user_id, min(us) AS tb FROM ev JOIN a USING
         |  (user_id) WHERE event_type = 'click' AND us >= ta
         |  AND us <= ta + 86400000000 GROUP BY ev.user_id),
         |c AS (SELECT ev.user_id, min(us) AS tc FROM ev JOIN b USING
         |  (user_id) WHERE event_type = 'purchase' AND us >= tb
         |  AND us <= tb + 86400000000 GROUP BY ev.user_id)
         |SELECT (SELECT count(*) FROM a) AS n_view,
         |  (SELECT count(*) FROM b) AS n_click,
         |  (SELECT count(*) FROM c) AS n_purchase"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_ev_retention" ->
      ("""WITH ev AS (SELECT user_id,
         |  epoch_us(ts) // 604800000000 AS wk FROM events),
         |f AS (SELECT user_id, min(wk) AS c0 FROM ev GROUP BY user_id),
         |d AS (SELECT DISTINCT ev.user_id, c0 AS cohort_week,
         |  wk - c0 AS week_offset FROM ev JOIN f USING (user_id))
         |SELECT cohort_week, week_offset, count(*) AS n_users
         |FROM d GROUP BY 1, 2"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_ev_bands" ->
      ("""WITH e AS (SELECT event_type,
         |  epoch_us(ts) // 86400000000 AS day,
         |  CAST(round(value * 1000000) AS BIGINT) AS vmic FROM events)
         |SELECT event_type, day,
         |  CAST(round(2 * quantile_cont(vmic, 0.5)) AS BIGINT) AS p50_x2,
         |  CAST(round(10 * quantile_cont(vmic, 0.9)) AS BIGINT) AS p90_x10,
         |  max(vmic) AS vmax
         |FROM e GROUP BY 1, 2"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_ev_paths" ->
      ("""WITH r AS (SELECT user_id, event_type, row_number() OVER
         |  (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         |  FROM events),
         |p AS (SELECT user_id,
         |  string_agg(event_type, '>' ORDER BY rn) AS path
         |  FROM r WHERE rn <= 3 GROUP BY user_id)
         |SELECT path, count(*) AS n_users FROM p GROUP BY path"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_ev_transitions" ->
      ("""WITH r AS (SELECT user_id, event_type, lag(event_type) OVER
         |  (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         |  FROM events)
         |SELECT prev, event_type AS curr, count(*) AS n FROM r
         |WHERE prev IS NOT NULL GROUP BY prev, event_type"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // (count desc, token) is a total order on the vocab cut — the
    // LIMIT is deterministic on both engines
    "q_t_oov" ->
      (s"""WITH tk AS (SELECT doc_id, unnest($tokensSql) AS tok
         |  FROM documents),
         |vc AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok
         |  ORDER BY c DESC, tok LIMIT 500)
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN vc.tok IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_oov
         |FROM tk LEFT JOIN vc ON tk.tok = vc.tok GROUP BY doc_id"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_ev_cdf" ->
      ("""WITH e AS (SELECT event_id, event_type,
         |  CAST(round(value * 1000000) AS BIGINT) AS vmic FROM events),
         |r AS (SELECT event_id, event_type,
         |  rank() OVER (PARTITION BY event_type ORDER BY vmic) AS r,
         |  count(*) OVER (PARTITION BY event_type) AS n FROM e)
         |SELECT event_id, event_type, CASE WHEN n = 1 THEN 0
         |  ELSE ((r - 1) * 1000000) // (n - 1) END AS cdf_micros
         |FROM r""".stripMargin).replaceAll(raw"\s+", " "),

    "q_ev_trend" ->
      ("""WITH mx AS (SELECT max(epoch_us(ts)) AS mx FROM events),
         |e AS (SELECT event_type,
         |  (mx - epoch_us(ts)) // 86400000000 AS x,
         |  CAST(round(value * 1000) AS BIGINT) AS y FROM events, mx),
         |a AS (SELECT event_type, count(*) AS n,
         |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |  CAST(sum(x * y) AS BIGINT) AS sxy,
         |  CAST(sum(x * x) AS BIGINT) AS sxx FROM e GROUP BY event_type)
         |SELECT event_type, n, n * sxy - sx * sy AS slope_num,
         |  n * sxx - sx * sx AS slope_den FROM a"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_dq_benford" ->
      ("""WITH d AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice
         |  * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
         |  FROM orders),
         |g AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM g),
         |x AS (SELECT digit, n, (n * 1000000) // tot AS obs_ppm
         |  FROM g, t)
         |SELECT digit, n, obs_ppm, abs(obs_ppm - CASE digit
         |  WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939
         |  WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947
         |  WHEN 7 THEN 57992 WHEN 8 THEN 51153 ELSE 45757 END)
         |  AS dev_ppm FROM x"""
        .stripMargin).replaceAll(raw"\s+", " "),

    // ground truth for the AC automaton: per-position substr equality
    // counts EVERY occurrence (overlaps and nested patterns included)
    "q_t_blocklist" ->
      (s"""WITH p(pat) AS (SELECT * FROM (VALUES ${
             blocklistPatterns.map(p => s"('$p')").mkString(", ")})),
         |d AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
         |i AS (SELECT CAST(range AS INT) AS i FROM range(1, 2049)),
         |occ AS (SELECT d.doc_id, p.pat,
         |  count(*) FILTER (WHERE substr(d.text, i.i, len(p.pat)) = p.pat)
         |    AS occ
         |  FROM d CROSS JOIN p CROSS JOIN i
         |  WHERE i.i + len(p.pat) - 1 <= len(d.text)
         |  GROUP BY 1, 2)
         |SELECT d.doc_id, CAST(coalesce(sum(occ), 0) AS BIGINT) AS n_hits,
         |  CAST(count(*) FILTER (WHERE occ > 0) AS BIGINT) AS n_patterns
         |FROM d LEFT JOIN occ ON d.doc_id = occ.doc_id
         |GROUP BY d.doc_id"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_ml_ndcg" ->
      ("""WITH r AS (SELECT user_id, event_id, row_number() OVER
         |  (PARTITION BY user_id ORDER BY value DESC, event_id) AS rk
         |  FROM events),
         |t AS (SELECT user_id, event_id % 4 AS rel, rk
         |  FROM r WHERE rk <= 10),
         |i AS (SELECT user_id, rel, row_number() OVER
         |  (PARTITION BY user_id ORDER BY rel DESC) AS irk FROM t),
         |id AS (SELECT user_id, CAST(sum(CAST(round(rel * 1000000.0
         |  / log2(irk + 1)) AS BIGINT)) AS BIGINT) AS idcg_micros
         |  FROM i GROUP BY user_id),
         |d AS (SELECT user_id, CAST(sum(CAST(round(rel * 1000000.0
         |  / log2(rk + 1)) AS BIGINT)) AS BIGINT) AS dcg_micros,
         |  min(CASE WHEN rel > 0 THEN rk END) AS first_hit
         |  FROM t GROUP BY user_id)
         |SELECT user_id, dcg_micros,
         |  CAST(CASE WHEN idcg_micros = 0 THEN 0
         |    ELSE (dcg_micros * 1000000) // idcg_micros END AS BIGINT)
         |    AS ndcg_ppm,
         |  CAST(coalesce(1000000 // first_hit, 0) AS BIGINT) AS rr_micros
         |FROM d JOIN id USING (user_id)"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_ml_mi" ->
      (s"""WITH d AS (SELECT lang, $tokensSql AS ta FROM
         |  (SELECT lang, coalesce(text, '') AS text FROM documents)),
         |dt AS (SELECT lang, unnest(list_distinct(ta)) AS token FROM d),
         |c AS (SELECT token,
         |  CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS n11,
         |  CAST(count(*) FILTER (WHERE lang <> 'en') AS BIGINT) AS n10
         |  FROM dt GROUP BY token),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS nn,
         |  CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS n_en
         |  FROM d)
         |SELECT token, n11, n10,
         |  (CASE WHEN n11 > 0 THEN n11 * CAST(round(ln(CAST(n11 AS DOUBLE)
         |    * nn / (CAST(n11 + n10 AS DOUBLE) * n_en)) * 1000000)
         |    AS BIGINT) ELSE 0 END
         |  + CASE WHEN n10 > 0 THEN n10 * CAST(round(ln(CAST(n10 AS DOUBLE)
         |    * nn / (CAST(n11 + n10 AS DOUBLE) * (nn - n_en))) * 1000000)
         |    AS BIGINT) ELSE 0 END
         |  + CASE WHEN n_en - n11 > 0 THEN (n_en - n11)
         |    * CAST(round(ln(CAST(n_en - n11 AS DOUBLE) * nn
         |    / (CAST(nn - n11 - n10 AS DOUBLE) * n_en)) * 1000000)
         |    AS BIGINT) ELSE 0 END
         |  + CASE WHEN nn - n_en - n10 > 0 THEN (nn - n_en - n10)
         |    * CAST(round(ln(CAST(nn - n_en - n10 AS DOUBLE) * nn
         |    / (CAST(nn - n11 - n10 AS DOUBLE) * (nn - n_en))) * 1000000)
         |    AS BIGINT) ELSE 0 END) AS mi_score
         |FROM c, t ORDER BY mi_score DESC, token LIMIT 50"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_ml_nb_train" ->
      (s"""WITH d AS (SELECT doc_id, lang, $tokensSql AS ta FROM
         |  (SELECT doc_id, lang, coalesce(text, '') AS text
         |   FROM documents)),
         |tok AS (SELECT doc_id, lang, unnest(ta) AS token FROM d),
         |v AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS v
         |  FROM tok),
         |cl AS (SELECT lang, CAST(count(*) AS BIGINT) AS c_l
         |  FROM tok GROUP BY lang),
         |ctl AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS c_tl
         |  FROM tok GROUP BY lang, token)
         |SELECT lang, token, c_tl,
         |  CAST(round(ln(CAST(c_tl + 1 AS DOUBLE)
         |    / CAST(c_l + v AS DOUBLE)) * 1000000) AS BIGINT) AS w_micros
         |FROM ctl JOIN cl USING (lang), v"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_v_topk_sq8" ->
      ("""WITH b AS (SELECT vec_id, embedding,
         |  list_max(list_transform(embedding,
         |    x -> abs(CAST(x AS DOUBLE)))) AS s FROM embeddings),
         |e AS (SELECT vec_id,
         |  CASE WHEN s = 0 THEN list_transform(embedding, x -> 0)
         |    ELSE list_transform(embedding, x ->
         |      CAST(round(CAST(x AS DOUBLE) * 127.0 / s) AS INT)) END
         |    AS q8,
         |  CAST(round(s * 1000000) AS BIGINT) AS s_mic FROM b),
         |q AS (SELECT vec_id AS q_id, q8 AS qq8, s_mic AS qs
         |  FROM e WHERE vec_id < 16),
         |sc AS (SELECT q.q_id, c.vec_id AS n_id,
         |  CAST(list_sum(list_transform(range(1, len(c.q8) + 1),
         |    i -> CAST(c.q8[i] AS BIGINT) * qq8[i])) AS BIGINT) AS dot8,
         |  c.s_mic AS cs, q.qs AS qs
         |  FROM e c, q WHERE c.vec_id <> q.q_id)
         |SELECT q_id, CAST(rnk AS INT) AS rank, n_id, dot8, score
         |FROM (SELECT q_id, n_id, dot8, dot8 * cs * qs AS score,
         |  row_number() OVER (PARTITION BY q_id
         |    ORDER BY dot8 * cs * qs DESC, n_id) AS rnk FROM sc)
         |WHERE rnk <= 5"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_t_tokens_cjk" ->
      (raw"""WITH l AS (SELECT ['中', '文', '数', '据',
         |  '处', '理', '工', '具'] AS h),
         |p AS (SELECT doc_id, coalesce(text, '') || ' '
         |  || h[CAST((doc_id + 0) % 8 AS INT) + 1]
         |  || h[CAST((doc_id + 1) % 8 AS INT) + 1]
         |  || h[CAST((doc_id + 2) % 8 AS INT) + 1]
         |  || CASE WHEN doc_id % 3 = 0
         |       THEN ' ' || h[CAST((doc_id + 3) % 8 AS INT) + 1]
         |       ELSE '' END
         |  || ' x'
         |  || h[CAST((doc_id + 4) % 8 AS INT) + 1]
         |  || h[CAST((doc_id + 5) % 8 AS INT) + 1] AS text
         |  FROM documents, l),
         |tk AS (SELECT doc_id, flatten(list_transform(
         |  regexp_extract_all(lower(trim(text)),
         |    '[\x{4e00}-\x{9fff}]+|[^\x{4e00}-\x{9fff}\s]+'),
         |  s -> CASE WHEN regexp_matches(s, '^[\x{4e00}-\x{9fff}]')
         |    THEN CASE WHEN length(s) = 1 THEN [s]
         |      ELSE list_transform(range(1, length(s)),
         |        i -> s[CAST(i AS INT):CAST(i + 1 AS INT)]) END
         |    ELSE [s] END)) AS ta FROM p)
         |SELECT doc_id, CAST(len(ta) AS INT) AS n_tok,
         |  CAST(len(list_filter(ta, t ->
         |    regexp_matches(t, '^[\x{4e00}-\x{9fff}]'))) AS INT) AS n_cjk
         |FROM tk"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_v_gram" ->
      ("""WITH q AS (SELECT list_transform(embedding, x ->
         |  CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
         |  FROM embeddings),
         |ij AS (SELECT CAST(a.range AS INT) AS i,
         |  CAST(b.range AS INT) AS j
         |  FROM range(1, 65) a, range(1, 65) b WHERE b.range >= a.range)
         |SELECT i, j, CAST(sum(q[i] * q[j]) AS BIGINT) AS g
         |FROM q, ij GROUP BY i, j"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_pipe_nb_eval" ->
      (s"""WITH d0 AS (SELECT doc_id, lang, coalesce(text, '') AS text
         |  FROM documents),
         |d AS (SELECT doc_id, lang, $tokensSql AS ta,
         |  CAST($bucketSql AS INT) AS bucket FROM d0),
         |tr AS (SELECT doc_id, lang, ta FROM d WHERE bucket < 205),
         |te AS (SELECT doc_id, lang, ta FROM d WHERE bucket >= 205),
         |tok AS (SELECT lang, unnest(ta) AS token FROM tr),
         |v AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS v
         |  FROM tok),
         |cl AS (SELECT lang, CAST(count(*) AS BIGINT) AS c_l
         |  FROM tok GROUP BY lang),
         |nl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_l
         |  FROM tr GROUP BY lang),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM tr),
         |ls AS (SELECT lang, c_l,
         |  CAST(round(ln(1.0 / CAST(c_l + v AS DOUBLE)) * 1000000)
         |    AS BIGINT) AS w0,
         |  CAST(round(ln(CAST(n_l AS DOUBLE) / nn) * 1000000)
         |    AS BIGINT) AS prior
         |  FROM cl JOIN nl USING (lang), v, nn),
         |w AS (SELECT lang, token,
         |  CAST(round(ln(CAST(count(*) + 1 AS DOUBLE)
         |    / CAST(any_value(c_l) + any_value(v) AS DOUBLE)) * 1000000)
         |    AS BIGINT) AS w_micros
         |  FROM tok JOIN cl USING (lang), v GROUP BY lang, token),
         |dt AS (SELECT doc_id, unnest(ta) AS token FROM te),
         |sc AS (SELECT dt.doc_id, ls.lang,
         |  any_value(ls.prior) AS prior,
         |  CAST(sum(coalesce(w.w_micros, ls.w0)) AS BIGINT) AS lk
         |  FROM dt CROSS JOIN ls LEFT JOIN w
         |    ON w.lang = ls.lang AND w.token = dt.token
         |  GROUP BY dt.doc_id, ls.lang),
         |r AS (SELECT doc_id, lang AS pred_lang, row_number() OVER
         |  (PARTITION BY doc_id ORDER BY prior + lk DESC, lang) AS rn
         |  FROM sc)
         |SELECT te.lang, r.pred_lang, CAST(count(*) AS BIGINT) AS n
         |FROM r JOIN te ON r.doc_id = te.doc_id
         |WHERE rn = 1 GROUP BY te.lang, r.pred_lang"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_ml_lr_train" ->
      (s"""WITH $lrOracleCtes
         |SELECT CAST(1 AS INT) AS iter, a0 AS w0_micros,
         |  a1 AS w1_micros, a2 AS w2_micros, a3 AS w3_micros FROM wi1
         |UNION ALL SELECT CAST(2 AS INT), a0, a1, a2, a3 FROM wi2
         |UNION ALL SELECT CAST(3 AS INT), a0, a1, a2, a3 FROM wi3"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_ml_lr_score" ->
      (s"""WITH $lrOracleCtes
         |SELECT doc_id, y, CAST(round(1000000.0 / (1.0
         |  + exp(-(CAST(x0*a0 + x1*a1 + x2*a2 + x3*a3 AS DOUBLE))
         |  / 1000000000000.0))) AS BIGINT) AS p_micros
         |FROM feat, wi3"""
        .stripMargin).replaceAll(raw"\s+", " "),

    "q_ml_nb_score" ->
      (s"""WITH d AS (SELECT doc_id, lang, $tokensSql AS ta FROM
         |  (SELECT doc_id, lang, coalesce(text, '') AS text
         |   FROM documents)),
         |tok AS (SELECT doc_id, lang, unnest(ta) AS token FROM d),
         |v AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS v
         |  FROM tok),
         |cl AS (SELECT lang, CAST(count(*) AS BIGINT) AS c_l
         |  FROM tok GROUP BY lang),
         |nl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_l
         |  FROM d GROUP BY lang),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM d),
         |ls AS (SELECT lang, c_l,
         |  CAST(round(ln(1.0 / CAST(c_l + v AS DOUBLE)) * 1000000)
         |    AS BIGINT) AS w0,
         |  CAST(round(ln(CAST(n_l AS DOUBLE) / nn) * 1000000)
         |    AS BIGINT) AS prior
         |  FROM cl JOIN nl USING (lang), v, nn),
         |w AS (SELECT lang, token,
         |  CAST(round(ln(CAST(count(*) + 1 AS DOUBLE)
         |    / CAST(any_value(c_l) + any_value(v) AS DOUBLE)) * 1000000)
         |    AS BIGINT) AS w_micros
         |  FROM tok JOIN cl USING (lang), v GROUP BY lang, token),
         |dt AS (SELECT doc_id, token FROM tok),
         |sc AS (SELECT dt.doc_id, ls.lang, any_value(ls.prior) AS prior,
         |  CAST(sum(coalesce(w.w_micros, ls.w0)) AS BIGINT) AS lk
         |  FROM dt CROSS JOIN ls LEFT JOIN w
         |    ON w.lang = ls.lang AND w.token = dt.token
         |  GROUP BY dt.doc_id, ls.lang),
         |r AS (SELECT doc_id, lang, prior + lk AS score_micros,
         |  row_number() OVER (PARTITION BY doc_id
         |    ORDER BY prior + lk DESC, lang) AS rn FROM sc)
         |SELECT doc_id, lang AS pred_lang,
         |  CAST(score_micros AS BIGINT) AS score_micros
         |FROM r WHERE rn = 1"""
        .stripMargin).replaceAll(raw"\s+", " ")
  )

  /** Per-event activity spans mirrored in DuckDB — ends in
    * `sp(user_id, s_us, e_us)`.
    */
  private lazy val eventSpansCtes: String =
    """sp AS (SELECT user_id, epoch_us(ts) AS s_us,
      |  epoch_us(ts) + (event_id % 7 + 1) * 60000000 AS e_us
      |  FROM events)""".stripMargin

  /** The messy-name synth mirrored in DuckDB — ends in
    * `mn(rec_id, name)`.
    */
  private lazy val messyNamesCtes: String = {
    val syl = "['an','bel','cor','dan','els','far','gil','hart'," +
      "'ing','jas','kel','lor']"
    s"""f AS (SELECT c_custkey AS rec_id, c_custkey // 6 AS e,
       |  c_custkey % 6 AS v FROM customer),
       |cn AS (SELECT rec_id, v, e,
       |  $syl[CAST(e % 12 AS INT) + 1] ||
       |  $syl[CAST((e // 12) % 12 AS INT) + 1] ||
       |  $syl[CAST((e // 144) % 12 AS INT) + 1] ||
       |  CASE WHEN e // 1728 > 0 THEN CAST(e // 1728 AS VARCHAR)
       |       ELSE '' END || 'son' AS c FROM f),
       |mn AS (SELECT rec_id, CASE v
       |  WHEN 0 THEN c
       |  WHEN 1 THEN substr(c, 1, 3) || substr(c, 5)
       |  WHEN 2 THEN substr(c, 1, 4) || substr(c, 4)
       |  WHEN 3 THEN substr(c, 1, 3) || substr(c, 5, 1) ||
       |    substr(c, 4, 1) || substr(c, 6)
       |  WHEN 4 THEN substr(c, 1, 3) || 'x' || substr(c, 5)
       |  ELSE substr(c, 1, 5) || 'q' || substr(c, 6) END AS name,
       |  e // 15 AS city
       |  FROM cn)""".stripMargin
  }

  /** First 8 hex digits of md5 column `m` as a BIGINT in [0, 2³²) —
    * the same value Spark's `conv(substring(md5(x),1,8),16,10)` yields
    * (DuckDB has no base-conv; a per-digit polynomial is exact).
    */
  private def hex32Sql(m: String): String =
    (1 to 8).map(i =>
      s"CAST(strpos('0123456789abcdef', substr($m, $i, 1)) - 1 AS BIGINT)" +
        s" * ${BigInt(16).pow(8 - i)}").mkString("(", " + ", ")")
}
