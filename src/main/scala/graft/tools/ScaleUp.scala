package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Build a synthetic ~sf1 profiling corpus (10× sf0.1) for the heavy
  * operator family — VERDICT r6 #5's scale point beyond sf0.1. NOT a
  * correctness input (the DuckDB oracle never sees it); it exists so
  * constants hidden at 600k rows (probe counts, bucket caps, shortlist
  * sizes) get one documented order-of-magnitude shakeout.
  *
  * Each of the 10 copies is PERTURBED so cross-copy rows are neither
  * duplicates nor near-duplicates — a naive 10× union would hand every
  * dedup bucket 10 identical members and measure a pathological
  * corpus (pair enumeration is quadratic in bucket size), not scale:
  *   - documents: every token gets a copy-specific suffix, so shingle
  *     sets across copies are disjoint (Jaccard 0, far SimHash) while
  *     each copy keeps sf0.1's natural within-copy duplicate
  *     structure → the sf1 corpus is 10 independent sf0.1-like shards.
  *   - embeddings: dimensions are circularly rotated by the copy index;
  *     rotation preserves the norm and all within-copy cosines exactly,
  *     while a rotated copy of a (whitened-ish) vector is far from the
  *     original — cross-copy cosines stay below every gate threshold.
  *
  * Usage: sbt "runMain graft.tools.ScaleUp [outDir]"   (default
  * /tmp/graft_sf1, source /root/testdata/sf0.1, copies=10).
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_sf1")
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val spark = graft.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      "spark.sql.shuffle.partitions" -> "32")
    build(spark, src, out, copies)
    spark.stop()
  }

  /** The corpus build, callable from [[ScaleGate]] (which wraps it in
    * the Scratch freshness protocol so repeated gate runs reuse it).
    */
  def build(spark: SparkSession, src: String, out: String,
            copies: Int): Unit = {
    def copiesOf(df: DataFrame)(mk: Int => DataFrame): DataFrame =
      (0 until copies).map(mk).reduce(_ union _)

    val docs = spark.read.parquet(s"$src/documents.parquet")
    // id shift of 10M per copy clears every gate's +1M planted-dup
    // offset; token suffix _cK makes cross-copy shingles disjoint
    copiesOf(docs) { k =>
      docs.select(Seq(
        (col("doc_id") + k * 10000000L).as("doc_id"),
        (if (k == 0) col("text")
         else regexp_replace(col("text"), "(\\S+)", s"$$1_c$k")).as("text")) ++
        docs.columns.filterNot(c => c == "doc_id" || c == "text")
          .map(col): _*)
    }.repartition(32).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    copiesOf(emb) { k =>
      val rot = if (k == 0) col("embedding")
      else concat(slice(col("embedding"), k * 6 + 1, 1000),
        slice(col("embedding"), 1, k * 6))
      // label (and any other attribute column) carries through — the
      // filtered-ANN gates (q_v_topk_flt / q_v_topk_pos_idx) scan it
      emb.select(Seq((col("vec_id") + k * 10000000L).as("vec_id"),
        rot.as("embedding")) ++
        emb.columns.filterNot(c => c == "vec_id" || c == "embedding")
          .map(col): _*)
    }.repartition(32).write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")

    // part feeds the MV-maintenance gate (q_mv_retract): scaled the
    // same way — shifted keys, everything else carried, so the
    // changed-key fraction (p_partkey % 5 / % 7 selectors) scales
    // linearly with the table and the gate measures "cost tracks
    // changed keys", not a constant-sized diff
    val part = spark.read.parquet(s"$src/part.parquet")
    copiesOf(part) { k =>
      part.select((col("p_partkey") + k * 10000000L).as("p_partkey") +:
        part.columns.filterNot(_ == "p_partkey").map(col): _*)
    }.repartition(32).write.mode("overwrite")
      .parquet(s"$out/part.parquet")

    // events feeds the window-family gate (q_ev_trailing): user_id
    // shifted per copy, so per-user window partitions keep their
    // natural size (10× users, same events-per-user) — the gate then
    // measures the n·log(n)-ish partition+sort, not an artificial
    // 10×-deep user history a naive union would create
    val events = spark.read.parquet(s"$src/events.parquet")
    copiesOf(events) { k =>
      events.select(Seq(
        (col("event_id") + k * 100000000L).as("event_id"),
        (col("user_id") + k * 10000000L).as("user_id")) ++
        events.columns.filterNot(c => c == "event_id" || c == "user_id")
          .map(col): _*)
    }.repartition(32).write.mode("overwrite")
      .parquet(s"$out/events.parquet")

    // customer feeds the entity-resolution gates (messyNames derives
    // records from c_custkey arithmetic): shift must be divisible by 6
    // so each synthetic entity's 6 variant records stay together in
    // one copy (10,000,002 = 6 × 1,666,667). Entity COUNT then scales
    // 10×, and with the div-based city + digit name tier the blocked
    // and trigram pair volumes scale linearly — which is what lets
    // ScaleGate hold real envelopes over the ER family (round-9
    // VERDICT #4: ScaleUp must scale entities, not density in a fixed
    // key space).
    val cust = spark.read.parquet(s"$src/customer.parquet")
    copiesOf(cust) { k =>
      cust.select((col("c_custkey") + k * 10000002L).as("c_custkey") +:
        cust.columns.filterNot(_ == "c_custkey").map(col): _*)
    }.repartition(32).write.mode("overwrite")
      .parquet(s"$out/customer.parquet")

    // lineitem feeds the co-occurrence projection gate: order keys
    // shift per copy (contexts scale 10×) while part keys stay global
    // (shared item vocabulary) — per-order degree is unchanged, so
    // TRUE pair volume scales linearly and the envelope gates the
    // projection, not the synth
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    copiesOf(li) { k =>
      li.select((col("l_orderkey") + k * 10000000L).as("l_orderkey") +:
        li.columns.filterNot(_ == "l_orderkey").map(col): _*)
    }.repartition(32).write.mode("overwrite")
      .parquet(s"$out/lineitem.parquet")

    // orders feeds the skipping-front-door gates (q_s24/q_s25/q_s26):
    // order keys shift per copy, so the bloom-probed smallest key
    // stays a 1-of-16-files point lookup and the interval arm's key
    // range scales with the table — the envelopes then measure
    // manifest routing + pruned scans, not a synth artifact
    val ord = spark.read.parquet(s"$src/orders.parquet")
    copiesOf(ord) { k =>
      ord.select((col("o_orderkey") + k * 10000000L).as("o_orderkey") +:
        ord.columns.filterNot(_ == "o_orderkey").map(col): _*)
    }.repartition(32).write.mode("overwrite")
      .parquet(s"$out/orders.parquet")

    // small tables Profile's warm-up and shared helpers touch
    Seq("nation", "region").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    println(s"[scaleup] wrote $copies× $src -> $out")
  }
}
