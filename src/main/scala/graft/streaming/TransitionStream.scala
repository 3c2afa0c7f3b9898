package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Streaming Markov-transition statistics: the unbounded-stream
  * counterpart of the batch `q_ev_transitions` lag-window pass. A lag
  * window needs the WHOLE per-user history sorted; on a stream the
  * only state that matters is each user's LAST event — exactly one
  * row per user, carried in a `transformWithState` ValueState, with
  * every arriving event emitting its (prev → curr) edge and replacing
  * the state.
  *
  * Ordering contract: within a micro-batch the group's rows fold in
  * (event-time, event_id) order (the iterator itself is unordered —
  * sorting the batch slice is the processor's job); ACROSS batches
  * order holds when the feed is staged time-partitioned (epoch file k
  * contains only events later than file k−1, `maxFilesPerTrigger=1` —
  * the same discipline the incremental-dedup feed uses). Same-ts
  * boundary events can't split epochs: the epoch is a pure function
  * of the timestamp.
  *
  * State size: one (ts, id, type) triple per user — bounded by the
  * user population, not the stream length; at 100 TB the state store
  * shards by key across executors and a TTL can retire dormant users.
  */
object TransitionStream {

  final case class Ev(user_id: Long, us: Long, event_id: Long,
                      event_type: String)
  final case class Edge(user_id: Long, prev: String, curr: String)

  final class TransitionProcessor
      extends StatefulProcessor[Long, Ev, Edge] {
    @transient private var last: ValueState[(Long, Long, String)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[(Long, Long, String)]("last",
        Encoders.product[(Long, Long, String)], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
                                 timerValues: TimerValues): Iterator[Edge] = {
      val sorted = rows.toArray.sortBy(e => (e.us, e.event_id))
      var prev: Option[(Long, Long, String)] =
        if (last.exists()) Some(last.get()) else None
      val out = Array.newBuilder[Edge]
      sorted.foreach { e =>
        prev.foreach(p => out += Edge(key, p._3, e.event_type))
        prev = Some((e.us, e.event_id, e.event_type))
      }
      prev.foreach(last.update)
      out.result().iterator
    }
  }

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val PartitionsKey = "spark.sql.shuffle.partitions"

  /** Stage `eventsDf` as `epochs` time-range files (written oldest
    * first, one file each — FileStreamSource then feeds them to the
    * query in staging order under `maxFilesPerTrigger = 1`).
    */
  def stageEpochs(spark: SparkSession, eventsDf: DataFrame,
                  stagedDir: String, epochs: Int = 3): Unit = {
    val ev = eventsDf.select(col("user_id"),
      unix_micros(col("ts")).as("us"), col("event_id"), col("event_type"))
    val b = ev.agg(min(col("us")).as("t0"), max(col("us")).as("t1")).head()
    val (t0, t1) = (b.getLong(0), b.getLong(1))
    val dir = new org.apache.hadoop.fs.Path(stagedDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var seen = Set.empty[String]
    (0 until epochs).foreach { k =>
      ev.filter(
          expr(s"((us - ${t0}L) * $epochs) div ${t1 - t0 + 1}L") === k)
        .coalesce(1)
        .write.mode(if (k == 0) "overwrite" else "append")
        .parquet(stagedDir)
      // FileStreamSource orders new files by modification time; two
      // epoch files written back-to-back can share an mtime
      // millisecond, which would leave their order to the (random)
      // part names — stamp strictly increasing mtimes instead
      fs.listStatus(dir)
        .filter(_.getPath.getName.endsWith(".parquet"))
        .filterNot(f => seen(f.getPath.getName))
        .foreach { f =>
          fs.setTimes(f.getPath, 1000000000L + k * 60000L, -1)
          seen += f.getPath.getName
        }
    }
  }

  /** Drive the staged feed through the processor (AvailableNow, one
    * file per micro-batch), append each batch's edges to `outDir`,
    * and return the transition counts — the exact relation the batch
    * lag-window pass produces. Restart on the same checkpoint resumes
    * mid-feed with the per-user last-event state intact
    * (StreamingSpec drives that split run).
    *
    * EXACTLY-ONCE INVARIANT: the `batch=N` claim ledger assumes the
    * batch-id→content mapping is stable across replays. That holds
    * for same-checkpoint retries (Spark replans a replayed batch from
    * the offsets the checkpoint recorded) and for a full checkpoint
    * reset over UNCHANGED staging (the deterministic file order —
    * see [[stageEpochs]]'s mtime stamping — regroups identically). It
    * does NOT hold for a checkpoint reset after the staging dir has
    * gained files: batch id N can then carry different edges, the
    * `exists(dst)` check routes it to the noop consume, and those
    * edges would be silently dropped. Ledger contract: `outDir` is
    * valid only while staging is append-stable relative to the
    * checkpoint — if you reset the checkpoint after adding staged
    * files, clear `outDir` with it (the pair is one atom).
    */
  def transitionsStream(spark: SparkSession, stagedDir: String,
                        outDir: String, checkpoint: String,
                        statePartitions: Int = 4): DataFrame = {
    import spark.implicits._
    val schema = spark.read.parquet(stagedDir).schema
    val prevProvider = spark.conf.getOption(ProviderKey)
    val prevParts = spark.conf.getOption(PartitionsKey)
    spark.conf.set(ProviderKey, RocksDb)
    spark.conf.set(PartitionsKey, statePartitions.toString)
    try {
      // staging reaper: a writer that died between its staging write
      // and the rename leaves a `.staging_b*` orphan (dot-prefixed, so
      // invisible to readers — but it is a full copy of a batch's
      // edges accumulating disk across restarts). At stream START no
      // attempt is in flight (single-writer stream), so every staging
      // dir present is a dead attempt's garbage: sweep them before
      // processing
      locally {
        val out = new org.apache.hadoop.fs.Path(outDir)
        val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(out))
          fs.listStatus(out).filter(
            _.getPath.getName.startsWith(".staging_b"))
            .foreach(s => fs.delete(s.getPath, true))
      }
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stagedDir)
        .as[Ev]
        .groupByKey(_.user_id)
        .transformWithState(new TransitionProcessor,
          TimeMode.None(), OutputMode.Append())
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          // foreachBatch is at-least-once: a crash between the sink
          // write and the checkpoint commit replays the batch. The
          // batch directory IS the claim ledger (same protocol as
          // VersionedTable.commitBatch): stage hidden, rename in
          // atomically, skip ids already renamed — a replayed batch
          // finds its directory and writes nothing, so edges are
          // never double-counted.
          (batch: org.apache.spark.sql.Dataset[Edge], batchId: Long) =>
            val out = new org.apache.hadoop.fs.Path(outDir)
            val fs = out.getFileSystem(
              spark.sparkContext.hadoopConfiguration)
            val dst = new org.apache.hadoop.fs.Path(out, s"batch=$batchId")
            if (!fs.exists(dst)) {
              val staging = new org.apache.hadoop.fs.Path(out,
                s".staging_b${batchId}_${java.util.UUID.randomUUID()}")
              batch.toDF().write.mode("overwrite").parquet(staging.toString)
              // rename loses only to another attempt of the SAME batch
              // (identical content): drop ours. With no batch=N in place
              // it was an IO error — fail, or the checkpoint moves on
              if (!fs.rename(staging, dst)) {
                if (!fs.exists(dst)) throw new java.io.IOException(
                  s"transitions: could not publish $staging as $dst")
                fs.delete(staging, true)
              }
            } else {
              // already claimed: still CONSUME every partition — the
              // stateful operator's stores only commit when the batch
              // is fully processed (Spark validates this and fails the
              // query otherwise); the noop sink advances state without
              // touching the sink
              batch.toDF().write.format("noop").mode("overwrite").save()
            }
            ()
        }
        .start()
      q.awaitTermination()
      spark.read.parquet(outDir)
        .groupBy(col("prev"), col("curr"))
        .agg(count(lit(1)).as("n"))
    } finally {
      prevProvider match {
        case Some(v) => spark.conf.set(ProviderKey, v)
        case None    => spark.conf.unset(ProviderKey)
      }
      prevParts match {
        case Some(v) => spark.conf.set(PartitionsKey, v)
        case None    => spark.conf.unset(PartitionsKey)
      }
    }
  }
}
