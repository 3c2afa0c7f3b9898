package graft.tools

/** Re-runnable scale-regression gate: one command reproduces the NOTES
  * sf1 table and FAILS (exit 1) if any heavy-family query's
  * 10×-data/1×-data time ratio leaves its stored envelope — so the two
  * quadratics killed in round 7 (fixed-band LSH, fixed-k SemDeDup)
  * stay dead instead of silently regressing behind a green sf0.1
  * bench.
  *
  * Usage: `sbt "runMain graft.tools.ScaleGate"` (env:
  * SPARK_GRAFT_SF_DIR = the 1× corpus, default /root/testdata/sf0.1;
  * SPARK_GRAFT_SCALE_DIR = where the 10× corpus lives, default
  * /tmp/graft_sf1_gate). The 10× corpus builds once through the
  * Scratch freshness protocol ([[ScaleUp.build]] with per-copy
  * perturbation, so duplicate structure stays linear) and is reused
  * until the source regenerates.
  *
  * Envelopes are deliberately LOOSE (2–4× above the measured steady
  * ratios in NOTES): the gate exists to catch complexity-class
  * regressions — a quadratic shows up as 16–45× — not to pin noise on
  * a shared box. Reps with min-of-later-reps filtering keep one noisy
  * rep from failing the gate.
  */
object ScaleGate {

  /** query -> max allowed (10× time / 1× time). Measured steady ratios
    * (NOTES round-7 table) are 1.7–2.9 for the healthy family, 6.5 for
    * simhash (heavier text dominates), so the envelopes below have
    * 2–4× headroom while sitting far under the 16×/45× a re-introduced
    * quadratic produces.
    */
  val envelope: Seq[(String, Double)] = Seq(
    "q_d_exact" -> 6.0,
    "q_d_minhash_lsh" -> 8.0,
    "q_d_ngram_jaccard" -> 6.0,
    "q_d_simhash" -> 12.0,
    "q_v_topk" -> 6.0,
    "q_v_topk_ivf_idx" -> 6.0,
    // filtered ANN over the same persisted index: a pushed attribute
    // predicate can only SHRINK the scan, so the envelope matches the
    // unfiltered arm; a regression to post-filtering would read the
    // same data (still linear) but a broken pushdown that re-scored
    // everything per query would blow past it
    "q_v_topk_flt" -> 6.0,
    "q_v_topk_pos_idx" -> 6.0,
    // filtered compressed arm: packed-column shortlist over the
    // predicate-pruned scan — the bin-index family's shape
    "q_v_topk_bin_flt" -> 6.0,
    // filtered PQ arms: code-column ADC shortlist over the predicate-
    // pruned scan + exhaustive rescore (the gate's exactness premise
    // makes the rescore corpus-linear like the brute oracle itself)
    "q_v_topk_pq_flt" -> 8.0,
    "q_v_topk_pqr_flt" -> 8.0,
    "q_v_topk_ivfc_flt" -> 8.0,
    // filtered graph ANN: index build amortizes (ensureIndex skips
    // when fresh), the searched work is the probed shards' rows —
    // same family as the unfiltered hnsw arm
    "q_v_topk_hnsw_flt" -> 8.0,
    "q_v_neardup" -> 10.0,
    "q_v_semdedup" -> 8.0,
    // vocabulary-sized model tables + per-doc integer dot products:
    // should scale like the other token-shuffle operators
    "q_t_dsir" -> 8.0,
    // round-8 heavy family (VERDICT r8 #6):
    // MV retraction cost must track the CHANGED KEYS (which ScaleUp
    // scales linearly with part), never the view size — a re-derive-
    // the-world regression shows as a superlinear ratio
    "q_mv_retract" -> 8.0,
    // incremental IVF append + search: assignment over the delta,
    // compressed-domain shortlist — linear with generous headroom
    // (the gate's brute-force oracle is itself linear in the corpus)
    "q_v_topk_ivf_inc" -> 8.0,
    // per-row decode CPU + Manku-blocked hamming join: linear
    "q_mm_phash_groups" -> 10.0,
    // video near-dup (round-16): per-row MJPEG decode (linear) +
    // exact-fhash posting join whose TRUE pair volume is linear under
    // the entity-scaling class synth (class count grows with the
    // corpus, class size fixed at 25 — the digit-tier lesson; the old
    // frozen-class-count synth measured 39x at 10x and was
    // un-envelopeable). Measured 5.0x at 10x
    "q_mm_video_neardup" -> 10.0,
    // FIXED-OVERHEAD assertion, not a linearity envelope: the gate is
    // two AvailableNow query startups + per-epoch commits on a
    // half-corpus feed, measured corpus-independent in r8 (halving
    // the corpus moved nothing) — 10× data must stay startup-bound
    "q_d_stream_inc" -> 3.0,
    // round-9: trailing RANGE-frame features — ONE shuffle + per-user
    // sort; users scale 10x with history depth held constant, so the
    // ratio is n*log(n)-ish. A per-user quadratic frame scan (the
    // classic RANGE-frame implementation trap) would blow far past it
    "q_ev_trailing" -> 14.0,
    // islands-and-gaps interval merge: same window family as
    // q_ev_trailing (one shuffle, per-user sort, linear windows); a
    // reintroduced overlap SELF-join would be per-user quadratic
    "q_ev_coalesce" -> 14.0,
    // degree-ordered triangle enumeration: the scaled corpus keeps the
    // per-copy K4 cliques and skews the long-range maps toward copy
    // 0's id range — exactly the hub shape the orientation exists to
    // bound. An unoriented wedge join is hub-quadratic (Σ deg²)
    "q_g_triangles" -> 10.0,
    // round-10: the ER family, gated for real (VERDICT r9 #4). The
    // synth now scales ENTITIES with the corpus (customer copies in
    // ScaleUp; div-based city so the blocking-key domain grows; digit
    // name tier so the name space never recycles) — true pair volume
    // is linear in the corpus and a ratio envelope finally gates the
    // OPERATOR, not the synth. A fixed-domain blocking key regression
    // (or a dropped prefix filter) shows as ~100×
    "q_e_jw_match" -> 10.0,
    // q_e_trigram_pairs is deliberately NOT here (round-10, measured):
    // its OUTPUT is quadratic in the corpus under ANY implementation —
    // a fixed absolute overlap (minCommon = 5 of ~12 kept grams) over
    // a saturated gram space (384 distinct grams at 1×, 1485 at 10×)
    // makes per-gram df grow ∝ n (pigeonhole), so random record pairs
    // reach the threshold at a ~constant RATE: sampled true-pair
    // counts 259k at 1× → 33.4M at 10× (129×); runtime 5.0 s → 206 s
    // (41×, candidate-bound, better than the 90–193× simulated
    // candidate volume). An envelope here would gate that arithmetic,
    // not the operator. The at-scale arms ARE gated: blocking
    // (q_e_jw_match, 1.2× measured) and CC resolve below; web-scale
    // set similarity goes through the MinHash-LSH arm (Dedup) whose
    // ρ-exponent bound is documented at q_v_neardup. Full analysis in
    // NOTES "Round-10: set-similarity scale analysis".
    // CC resolve: matches are intra-entity (6-record components), so
    // rounds stay O(log 6) and per-round cost linear
    "q_e_resolve" -> 10.0,
    // round-10 (VERDICT r9 #6): keyframes is linear per-byte decode +
    // ONE shuffle + a lag window over 12-frame partitions — the ratio
    // must track the synthesized video count (docs, 10×); this gate
    // would have contradicted the r9 bench phantom (8.4 s recorded,
    // 1.1 s quiet) on the spot. Envelope = 13 ≡ "per-byte cost may
    // drift ≤30% at 10×": a decode-BOUND linear query approaches
    // ratio 10 EXACTLY (pure CPU work on both sides, no fixed
    // overhead to amortize — measured 7.2, 8.7, 11.0 across quiet
    // runs as the small 1× side jitters), so the gate must bound
    // per-byte drift, not sit at an optimistic historical ratio
    "q_mm_keyframes" -> 13.0,
    // round-10: the last ungated family. The query's plane side now
    // scales as 4000·⌊√n⌋ (~1 point per radius-sized cell at any
    // corpus size — more data covers more territory at constant
    // density), so true pair volume is linear and the envelope gates
    // the grid join itself: a dropped cell-key equi-join (theta/cross
    // regression) or a density-quadratic cell would blow past 12
    "q_g_spatial" -> 12.0,
    // bipartite co-occurrence: 10× orders at unchanged per-order
    // degree → pairs scale linearly; a dropped degree cap or a
    // context-key regression to cross products shows as ≫10
    "q_g_cooccur" -> 10.0,
    // round-10 second batch: the new operator families.
    // attribution: ScaleUp multiplies per-user event DEPTH (user ids
    // are shared across copies), so windows deepen 10× — same family
    // and envelope as q_ev_trailing; a time-range self-join
    // regression would be per-user quadratic
    "q_ev_attrib" -> 14.0,
    // leakage-safe split: CC over the 10× chain-pair list + one
    // label join — linear; a CC that re-derived labels per round
    // from scratch (lineage regrowth) would blow the envelope
    "q_t_split_leakfree" -> 10.0,
    // FS scoring is a projection over the blocked pairs (linear with
    // the entity-scaling synth, like q_e_jw_match)
    "q_e_fs" -> 10.0,
    // residual PQ search: same shape as the gated IVF family (probe
    // clusters → ADC scan → bounded rescore)
    "q_v_topk_pq_res" -> 8.0,
    // BFS: work per round ∝ frontier-incident edges, each edge
    // relaxes at most twice — linear in the 10× doc graph; a
    // lineage-regrowth regression (un-truncated iterative plan)
    // shows as exponential plan depth, not a ratio
    "q_g_hops" -> 10.0,
    // HITS: per half-round one equi-join + grouped sum + scalar max —
    // the PageRank family's shape; work ∝ edges per round
    "q_g_hits" -> 10.0,
    // semantic packing: k-means fit + one scan-side affinity
    // projection + one per-cluster window — the q_t_pack family with
    // the k-means fit's fixed per-iter jobs amortizing at scale
    "q_t_pack_sem" -> 12.0,
    // the pure-SQL deployment twin: same shape through Spark SQL
    "q_s34_sql_pack_sem" -> 12.0,
    // tokenizer fertility: encode-dominated (rides the ugVocab memo)
    "q_t_fertility" -> 10.0,
    // preference family: two groupBy aggregations over the synthetic
    // annotation stream — linear in documents
    "q_pref_resolve" -> 8.0,
    "q_pref_raters" -> 8.0,
    "q_pref_bestof" -> 8.0,
    // BT adds 3 fixed MM rounds (2 joins + 1 groupBy each, scratch-
    // materialized) on top of the resolve chain — still vote-linear,
    // with the fixed round-job overhead amortizing at 10×
    "q_pref_bt" -> 8.0,
    "q_pref_dpo" -> 8.0,
    "q_dq_fleiss" -> 8.0,
    // FIXED-OVERHEAD assertion (the q_d_stream_inc convention): two
    // AvailableNow startups + per-epoch commits dominate; 10× votes
    // must stay startup-bound
    "q_pref_stream" -> 3.0,
    // per-checkpoint minting (round-16): two drains + two BT/filter
    // recomputes — startup-bound like the resolver stream, with the
    // vote-linear mint work riding the same envelope logic as batch
    "q_pref_dpo_stream" -> 8.0,
    "q_pref_grpo_stream" -> 8.0,
    "q_pref_passrate_stream" -> 8.0,
    // same fixed-overhead assertion for the thread-QA changelog
    "q_sft_stream" -> 3.0,
    // SFT thread QA + its packing composition: one groupBy with
    // token counting — linear in messages
    "q_sft_threads" -> 8.0,
    "q_pipe_sft" -> 8.0,
    // truncation: the QA chain + two same-key windows — still linear
    "q_sft_truncate" -> 8.0,
    // t-closeness: two groupBys + a groups×m grid window (m fixed by
    // the band domain) — linear in customer rows
    "q_p_tclose" -> 8.0,
    // the release filter adds one null-safe semi join — same shape
    "q_p_tclose_rel" -> 8.0,
    // round-11 (VERDICT r10 #9): the read front door. The manifest
    // routing itself is O(manifest) = flat, but each gate carries
    // linear components the envelope must admit: the oracle-key
    // lookup scans orders for its min, a bloom-kept file is 10×
    // bigger, and q_s25's interval arm aggregates hash-distributed
    // files that min/max cannot prune (every file spans the key
    // range by construction). What the envelope EXCLUDES is a
    // re-listing / full-rescan regression of the routing itself
    // (O(files) listings per probe showed as ≫10 in round 9's
    // pre-manifest probeType)
    "q_s24_front_read" -> 6.0,
    "q_s25_front_agg" -> 8.0,
    // the planner-gated twin: plain SQL through ManifestSkip — same
    // cost anatomy as q_s24 (bloom point arm + unprunable BETWEEN
    // arm) plus one optimizer-time manifest probe, memoized per
    // (table, bounds, manifest fingerprint)
    "q_s26_planner_skip" -> 8.0,
    // round-11 second batch: blocklist is a decode-class linear family
    // (pure per-byte automaton CPU on both sides, nothing to amortize
    // — same reasoning as q_mm_keyframes' 13); a fail-link regression
    // to per-pattern rescans would scale with patterns × text and a
    // naive contains-per-pattern with P passes
    "q_t_blocklist" -> 13.0,
    // NB inference: token explode + broadcast weight join + (doc,
    // label) sum — linear token shuffle like q_t_dsir; a weight-join
    // regression to shuffle-both-sides (or a vocab-quadratic rebuild)
    // would blow it
    "q_ml_nb_score" -> 10.0,
    // LR training: 3 map-side-combined aggregates, linear scan each;
    // a lineage-regrowth regression across iterations (re-deriving
    // the featurization per step) shows superlinear
    "q_ml_lr_train" -> 10.0,
    // ranking metrics: ONE user_id shuffle + row_number windows; the
    // scaled corpus deepens per-user history 10× (shared user ids),
    // same family/envelope as q_ev_trailing; a rank-via-self-join
    // regression is per-user quadratic
    "q_ml_ndcg" -> 14.0,
    // MI: distinct-token presence counts + one broadcast of totals —
    // linear token shuffle
    "q_ml_mi" -> 10.0,
    // exact Gram: per-row d(d+1)/2 products, map-side combined to
    // 2080 keys — pure linear per-row CPU (decode-class bound); a
    // combine regression (raw pair rows reaching the shuffle) would
    // show as memory pressure and ≫13
    "q_v_gram" -> 13.0,
    // split → NB train → held-out confusion: the same token-shuffle
    // family as q_ml_nb_score, twice
    "q_pipe_nb_eval" -> 10.0,
    // the pure-SQL registry twin of q_t_blocklist — same linear
    // per-byte bound; a registry-path regression to interpreted eval
    // would show as a constant-factor blowup
    "q_s28_sql_blocklist" -> 13.0,
    // pure-SQL banded-minhash near-dup: per-doc kernel CPU (minhash +
    // shingle set) is linear; the band join's bucket occupancy is
    // O(dup-group size), which TESTDATA keeps constant across sf —
    // a bucket-degeneracy regression (signature collapse) would show
    // as quadratic pair enumeration
    "q_s29_sql_neardup" -> 12.0,
    // round-12 LM family: count tables are TYPE-sized (sublinear in
    // duplicated corpora — the 10× corpus repeats texts, so type
    // growth is modest while occurrence scans are linear); the model
    // build is a handful of partial+final aggregations over the type
    // table plus one broadcastable join chain. A regression that
    // re-derives the occurrence explode per count table (the lineage
    // trap the scratch materialization guards) shows superlinear
    "q_t_kn_surprisal" -> 10.0,
    "q_t_kn3_surprisal" -> 10.0,
    // the perplexity-filter composition adds per-lang rank windows
    // over doc-level rows (linear shuffle, few partitions)
    "q_pipe_ppl_filter" -> 10.0,
    // binarized IVF index: build-if-stale fixed overhead + packed
    // shortlist scan — the ivf_idx family's envelope reasoning
    "q_v_topk_bin_idx" -> 8.0,
    // round-13 confirmed-pairs arms (Scala + stream) share
    // q_s29_sql_neardup's shape and rationale: linear per-doc kernel
    // CPU, constant dup-group size in TESTDATA → linear pair volume;
    // a signature-collapse regression shows as quadratic enumeration
    "q_d_minhash_confirmed" -> 12.0,
    "q_d_simhash_confirmed" -> 12.0,
    "q_d_stream_confirmed" -> 12.0,
    // BPE: ONE corpus-sized word-count shuffle, then every merge
    // round runs on the TYPE table (copy-suffixed tokens keep it
    // ~linear here; absolute size is tiny). A regression that drags
    // the merge loop back onto the corpus shows superlinear.
    "q_t_bpe" -> 10.0,
    "q_t_bpe_encode" -> 10.0,
    // build-if-stale sharded graph + ONE in-place hot-shard split
    // (O(hot shard)) + exhaustive search — the ivf_idx family's
    // build-dominated envelope reasoning
    "q_v_hnsw_split" -> 8.0,
    // split + filtered search composition: same build/split shape
    // with a predicate-pruned exhaustive search on top
    "q_v_hnsw_split_flt" -> 8.0,
    // deletion: O(touched posting lists/shards) rewrite + exhaustive
    // search — the build dominates, same family as the inc/split gates
    "q_v_topk_ivf_del" -> 8.0,
    "q_v_hnsw_del" -> 8.0,
    // streaming upsert ingestion: initial build + two epoch batches,
    // each O(touched posting lists) — build + stream overhead
    // amortize at 10×
    "q_v_stream_index" -> 8.0,
    "q_v_stream_hnsw" -> 8.0,
    "q_v_stream_cdc" -> 8.0,
    // compaction: O(fragmented posting lists) rewrite on top of the
    // inc-gate shape
    "q_v_topk_ivf_cpt" -> 8.0,
    // drop ledger = curate2's aggregations + a keeper-table left join
    // + a bench-bounded shingle semi-join — all linear shuffles; a
    // regression to a window over the corpus shows superlinear
    "q_pipe_ledger" -> 10.0,
    "q_s31_sql_ledger" -> 10.0,
    // two token-count shuffles + a type-table outer join (type table
    // grows ~linearly under the copy-suffix scheme, absolute size
    // tiny); the 3-long totals collect is corpus-independent
    "q_dq_vocab_drift" -> 10.0,
    // scan-side row multiplication (projection + explode, no
    // shuffle); temp variant adds one bounded group-count collect
    "q_t_epochs" -> 10.0,
    "q_t_temp_epochs" -> 10.0,
    // curate chain + epoch explode: same linear stages as the other
    // pipe compositions, bench-bounded decontam join
    "q_pipe_curate7" -> 10.0,
    // k-means blocking holds the cross pair space at
    // sum_c |test_c|*|train_c|; test side scales with the corpus, so
    // linear; a dropped cluster key regresses to the full cross join
    "q_v_split_leaks" -> 10.0,
    // bounded-buffer sketch over the token explode: one scan + k-long
    // partials per (group × partition) — the same linear token-stream
    // family as q_t_dsir; a buffer that stopped rejecting would show
    // as memory, not time, so this is a plain linearity envelope
    "q_t_kmv" -> 10.0,
    // streaming folds: fixed AvailableNow startup + the same linear
    // token-stream work per micro-batch; driver state is groups × k
    // (KMV) / depth × width longs (CMS)
    "q_t_kmv_stream" -> 10.0,
    "q_t_cms_stream" -> 10.0,
    // two AvailableNow runs (fixed startup, the q_d_stream_inc family)
    // + per-row kernels + one-flag-per-distinct-text state: linear row
    // work on top of corpus-independent overhead. A state blowup
    // (e.g. keying on the full text instead of its hash) would surface
    // as a superlinear ratio here
    "q_pipe_stream_curate" -> 6.0,
    // unigram-LM trainer: one token-explode aggregation (linear) +
    // per-DISTINCT-WORD bounded DP per EM round — a regression that
    // segmented corpus TOKENS instead of distinct words would scale
    // with the token stream and blow the envelope; encode adds the
    // linear per-doc segmentation pass
    "q_t_unigram" -> 10.0,
    "q_t_unigram_encode" -> 10.0,
    // shipped-artifact encode: train-if-stale + cold reload + the same
    // encode pass — must scale exactly like the in-memory arm
    "q_t_unigram_ship" -> 10.0,
    "q_t_unigram_pruned" -> 10.0,
    "q_t_unigram_surprisal" -> 10.0,
    "q_t_curriculum" -> 10.0,
    // encode + one per-bucket window sum on top — same linearity
    "q_pipe_tokenize_pack" -> 10.0,
    // round-15 additions — graph-side maintenance (compaction is a
    // touched-shard rewrite, linear in fragmented rows; the autopilot
    // adds meter reads on top):
    "q_v_hnsw_cpt" -> 8.0,
    "q_v_hnsw_maint" -> 8.0,
    // streaming CDC into the residual-PQ artifact / with post-drain
    // maintenance: the q_v_stream_* fixed-overhead family plus the
    // delta-linear encode/compact work
    "q_v_stream_pq" -> 8.0,
    "q_v_stream_maint" -> 8.0,
    // round-16 compositions, same fixed-overhead + delta-linear
    // family: CDC into the MRL stored-prefix artifact; CDC into the
    // attr-carrying HNSW index with a post-drain maintain pass
    "q_v_stream_mrl" -> 8.0,
    "q_v_stream_hnsw_maint" -> 8.0,
    // CDC into the q8/bin artifacts: same family, plus the delta's
    // code derivation (linear in the delta)
    "q_v_stream_sq8" -> 8.0,
    "q_v_stream_bin" -> 8.0,
    // categorical TVD drops the window: grid aggregation only — same
    // family as the ordered form
    "q_p_tclose_cat" -> 8.0,
    // all-pairs minting: n² of a BOUNDED per-prompt response set (7
    // here), so corpus-linear like the single-pair arm
    "q_pref_dpo_all" -> 8.0,
    // one groupBy + one keyed join each — the resolver family's shape
    "q_pref_grpo" -> 8.0,
    // one groupBy into a FIXED 10-bin output — aggregation-only
    "q_pref_calib" -> 8.0,
    "q_pref_passrate" -> 8.0,
    // one prefix-cumsum window on the conv key — the truncate shape
    "q_sft_lossmask" -> 8.0,
    // pack chain + span chain + one keyed join — both linear
    "q_pipe_sft_mask" -> 8.0,
    // exhaustive-shortlist MRL: prefix scan + full rescore, both
    // corpus-linear like the brute arm it equals
    "q_v_topk_mrl" -> 6.0,
    // stored-prefix MRL index (round-16): same linear shape, but the
    // shortlist scan reads the persisted prefix column only — the
    // ensureIndex build amortizes like the other *_idx arms
    "q_v_topk_mrl_idx" -> 6.0,
    // filtered MRL: predicate can only shrink the prefix scan —
    // the _flt family convention
    "q_v_topk_mrl_flt" -> 6.0,
    // incremental MRL: delta-assignment + prefix shortlist, the
    // ivf_inc family shape
    "q_v_topk_mrl_inc" -> 8.0,
    // stratified split: one distinct + one window over the
    // distinct-hash table + one hash join — all corpus-linear
    "q_t_split_strat" -> 8.0,
    // capped containment — the declared production configuration
    // (ABSOLUTE maxDf = 64 stop-gram cap): df <= C bounds the posting
    // join's candidates at C * surviving-postings = O(corpus)
    // data-independently, so unlike the cap-free arm below the capped
    // arm IS envelope-able on the saturating synth. Round-16
    // measured: 1.8x at 10x (a corpus-RELATIVE n/10 cap measured
    // 19.5x on the same data — the quadratic band — which is why the
    // gated configuration is absolute)
    "q_e_containment_capped" -> 6.0,
    // q_e_containment is deliberately NOT here — the q_e_trigram_pairs
    // analysis transfers (and was re-measured, round 15: 5.8 s -> 142 s
    // at 10x, ratio 24.5): at a fixed theta over the saturating gram
    // space the TRUE directed-pair volume grows superlinearly (the
    // digit-tier names systematically contain their shorter prefixes,
    // and per-gram df grows with the corpus), so an envelope would
    // gate the synth's combinatorics, not the operator. q_e_jaccard_
    // pairs sits out for the same reason; the gated at-scale arms of
    // the family remain q_e_jw_match and q_e_resolve, and production
    // containment at corpus scale rides the ABSOLUTE maxDf stop-gram
    // cap gated above (q_e_containment_capped, round-16).
    // winnowed span overlap: fingerprint posting lists at 2/(w+1)
    // density + candidate-only t-gram verify; the planted-dup
    // corpus keeps true pair volume linear (one planted pair per
    // doc), so a regression to all-pairs or an uncapped boilerplate
    // bucket shows as superlinear
    "q_d_winnow_confirmed" -> 12.0,
    // two-phase decode: full fingerprint pass (the q_mm_keyframes
    // asymptote) + pushdown decode of a FIXED 4 keyframes per video —
    // same linear-decode envelope as the one-phase arm
    "q_mm_keyframes_push" -> 13.0
  )

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val big = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_sf1_gate")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = graft.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      "spark.sql.shuffle.partitions" -> "32")

    // build-once: the 10× corpus regenerates only when the source does
    // (or when the perturbation scheme changes — bump the fingerprint;
    // v2 added the part table for the MV gate)
    // v4: adds the customer table (entity-scaling ER gates)
    // v5: adds lineitem (co-occurrence projection gate)
    // v6: adds orders (front-door skipping gates)
    // v7: embeddings carry label + attribute columns (filtered ANN)
    graft.engine.Scratch.ensureAt(spark, big, base,
      fingerprint = s"scaleup-v7,copies=$copies") { staging =>
      ScaleUp.build(spark, base, staging, copies)
    }

    // steady state = min of the later reps (first rep pays scan-cache
    // and scratch-artifact builds; Profile uses the same convention)
    def time(name: String, dir: String): Double = {
      val fn = graft.SparkEntry.queries(name)
      val ts = (1 to reps).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      if (ts.length > 1) ts.tail.min else ts.head
    }

    var failed = List.empty[String]
    val rows = scala.collection.mutable.ListBuffer
      .empty[(String, Double, Double, Double, Double, Boolean)]
    println(f"${"query"}%-20s ${"1x(s)"}%8s ${"10x(s)"}%8s " +
      f"${"ratio"}%7s ${"max"}%5s  verdict")
    // local-iteration filter (comma-separated substrings), mirroring
    // Verify's third arg; the driver/round-close run leaves it unset
    // and checks every envelope
    val only = sys.env.getOrElse("SPARK_GRAFT_SCALE_ONLY", "")
      .split(',').filter(_.nonEmpty).toSeq
    envelope.filter { case (name, _) =>
      only.isEmpty || only.exists(name.contains)
    }.foreach { case (name, maxRatio) =>
      val t1 = time(name, base)
      val t10 = time(name, big)
      val ratio = t10 / math.max(t1, 1e-9)
      val ok = ratio <= maxRatio
      if (!ok) failed ::= name
      rows += ((name, t1, t10, ratio, maxRatio, ok))
      println(f"$name%-20s $t1%8.2f $t10%8.2f $ratio%7.1f $maxRatio%5.1f" +
        f"  ${if (ok) "ok" else "FAIL"}")
    }
    spark.stop()
    // persist the ratio table when asked (SPARK_GRAFT_SCALE_OUT=path):
    // the round-close artifact (SCALE_r<N>.json) that makes the scale
    // history diffable instead of prose in NOTES
    sys.env.get("SPARK_GRAFT_SCALE_OUT").filter(_.nonEmpty).foreach { p =>
      def f3(d: Double) = BigDecimal(d).setScale(3,
        BigDecimal.RoundingMode.HALF_UP).toString
      val qs = rows.map { case (n, t1, t10, r, m, ok) =>
        s""""$n":{"t1_sec":${f3(t1)},"t10_sec":${f3(t10)},""" +
          s""""ratio":${f3(r)},"max":$m,"ok":$ok}"""
      }.mkString(",")
      // a filtered run (SPARK_GRAFT_SCALE_ONLY) writes only a subset
      // of envelopes; stamp the filter into the record so a partial
      // artifact can never be mistaken for (or silently replace) a
      // full round-close run
      val onlyField =
        if (only.isEmpty) ""
        else s""""only":"${only.mkString(",")}","""
      val json = s"""{"base":"$base","copies":$copies,"reps":$reps,""" +
        onlyField +
        s""""failed":${failed.length},"queries":{$qs}}""" + "\n"
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        json.getBytes("UTF-8"))
      println(s"[scalegate] wrote $p")
    }
    if (failed.nonEmpty) {
      System.err.println(s"[scalegate] FAILED: ${failed.reverse.mkString(", ")}")
      sys.exit(1)
    }
    println("[scalegate] all ratios inside the envelope")
  }
}
