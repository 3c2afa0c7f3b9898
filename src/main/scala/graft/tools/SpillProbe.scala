package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 100×-scale spill-path evidence (round-10 VERDICT #10): runs the
  * two heaviest green families — `q_v_semdedup` (hyperplane-LSH
  * embedding near-dup) and `q_d_minhash_lsh` (banded MinHash) — on a
  * 100-copy corpus with `spark.memory.fraction` pinned LOW, and
  * reports the spill counters a 1000-executor cluster would live or
  * die by: memory/disk bytes spilled, shuffle bytes written, peak
  * execution memory. The point is a MEASUREMENT that the shuffle
  * paths degrade to spill (and complete) instead of OOMing when the
  * working set outgrows the execution pool — the envelope
  * extrapolation in SCALE_r{N} answers "how fast", this answers
  * "does it survive".
  *
  * Usage: `SPARK_GRAFT_SPILL_COPIES=100 sbt "runMain
  * graft.tools.SpillProbe"`. The scaled corpus builds once through
  * the Scratch freshness protocol (documents + embeddings only — the
  * two families touch nothing else) and is reused until the source
  * regenerates.
  */
object SpillProbe {
  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SPILL_COPIES", "100").toInt
    val big = sys.env.getOrElse("SPARK_GRAFT_SPILL_DIR",
      "/tmp/graft_spill_corpus")
    val spark = graft.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      "spark.sql.shuffle.partitions" -> "32",
      // the experiment's point: a small execution pool forces the
      // sort/aggregate buffers to the spill path a memory-tight
      // production executor would take
      "spark.memory.fraction" -> "0.1")

    // 100× corpus, documents + embeddings only (same perturbation
    // scheme as ScaleUp so duplicate structure stays linear)
    graft.engine.Scratch.ensureAt(spark, big, base,
      fingerprint = s"spill-v1,copies=$copies") { staging =>
      def copiesOf(df: DataFrame)(mk: Int => DataFrame): DataFrame =
        (0 until copies).map(mk).reduce(_ union _)
      val docs = spark.read.parquet(s"$base/documents.parquet")
      copiesOf(docs) { k =>
        docs.select(Seq(
          (col("doc_id") + k * 10000000L).as("doc_id"),
          (if (k == 0) col("text")
           else regexp_replace(col("text"), "(\\S+)", s"$$1_c$k")).as("text")) ++
          docs.columns.filterNot(c => c == "doc_id" || c == "text")
            .map(col): _*)
      }.repartition(32).write.mode("overwrite")
        .parquet(s"$staging/documents.parquet")
      val emb = spark.read.parquet(s"$base/embeddings.parquet")
      copiesOf(emb) { k =>
        val rot = if (k == 0) col("embedding")
        else concat(slice(col("embedding"), k % 60 + 1, 1000),
          slice(col("embedding"), 1, k % 60))
        emb.select((col("vec_id") + k * 10000000L).as("vec_id"),
          rot.as("embedding"))
      }.repartition(32).write.mode("overwrite")
        .parquet(s"$staging/embeddings.parquet")
    }

    def gb(b: Long): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(b / 1e9))
    Seq("q_v_semdedup", "q_d_minhash_lsh", "q_t_kn3_surprisal")
      .foreach { name =>
      // task-metric totals over every task of the query, whatever the
      // plan shape
      val (sec, m) = graft.obs.QueryMetrics.measure(spark) {
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, big)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[spill] $name copies=$copies wall=$sec%.1f s " +
        s"mem_spilled_gb=${gb(m.memorySpilledBytes)} " +
        s"disk_spilled_gb=${gb(m.diskSpilledBytes)} " +
        s"shuffle_write_gb=${gb(m.shuffleWriteBytes)} " +
        s"peak_exec_mem_gb=${gb(m.peakExecutionMemory)}")
    }
    spark.stop()
  }
}
