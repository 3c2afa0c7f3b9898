package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._

/** Round-17 optimization-phase profiler. Pure measurement harness —
  * none of the driver's declared queries call anything here.
  *
  * Modes (sbt "runMain graft.tools.ProfileR17 <mode> ..."):
  *   stages <query> [reps]   — run a declared query through the noop
  *                             sink and print PER-STAGE task counts,
  *                             wall, executor cpu, GC, spill, shuffle
  *                             bytes: localizes which stage's CPU
  *                             multiplies with the core count.
  *   sample <query> [secs]   — run the query in a worker thread while
  *                             sampling every live "Executor task
  *                             launch worker" stack at ~20 ms; prints
  *                             the top frames (self + a short stack
  *                             context) — the poor-man's async-profiler
  *                             that names the hot/contended method.
  *   explain <query>         — `.explain("formatted")` dump of the
  *                             declared DataFrame (plans/r17 evidence).
  *   time <query> [reps]     — plain wall timing via the noop sink
  *                             (the bench's methodology, single query).
  */
object ProfileR17 {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Session.local(cpus)
    spark.read.parquet(s"$sfDir/nation.parquet").count(): Unit

    args.toList match {
      case "stages" :: q :: rest =>
        stages(spark, sfDir, q, rest.headOption.map(_.toInt).getOrElse(1))
      case "sample" :: q :: rest =>
        sample(spark, sfDir, q, rest.headOption.map(_.toInt).getOrElse(30),
          taskOnly = true)
      case "sampleall" :: q :: rest =>
        sample(spark, sfDir, q, rest.headOption.map(_.toInt).getOrElse(30),
          taskOnly = false)
      case "explain" :: q :: Nil => explain(spark, sfDir, q)
      case "cdc-phases" :: Nil => cdcPhases(spark, sfDir)
      case "time" :: q :: rest =>
        time(spark, sfDir, q, rest.headOption.map(_.toInt).getOrElse(3))
      case other => sys.error(s"unknown args: $other")
    }
    spark.stop()
  }

  private def runNoop(spark: SparkSession, sfDir: String, q: String): Unit = {
    val fn = graft.SparkEntry.queries.getOrElse(q,
      sys.error(s"no declared query '$q'"))
    spark.catalog.clearCache()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
  }

  private final case class StageAgg(name: String, var tasks: Int = 0,
      var run: Long = 0L, var cpu: Long = 0L, var gc: Long = 0L,
      var spillMem: Long = 0L, var spillDisk: Long = 0L,
      var shufR: Long = 0L, var shufW: Long = 0L, var input: Long = 0L,
      var peak: Long = 0L, var deser: Long = 0L, var resSer: Long = 0L,
      var maxTask: Long = 0L)

  private def stages(spark: SparkSession, sfDir: String, q: String,
                     reps: Int): Unit = {
    // warm-up rep: JIT + codegen, exactly the bench's discipline
    runNoop(spark, sfDir, q)
    val byStage = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        byStage.putIfAbsent(e.stageInfo.stageId,
          StageAgg(e.stageInfo.name.takeWhile(_ != '\n').take(90))): Unit
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val a = byStage.get(e.stageId)
        val m = e.taskMetrics
        if (a != null && m != null) a.synchronized {
          a.tasks += 1
          a.run += m.executorRunTime
          a.cpu += m.executorCpuTime / 1000000L
          a.gc += m.jvmGCTime
          a.spillMem += m.memoryBytesSpilled
          a.spillDisk += m.diskBytesSpilled
          a.shufR += m.shuffleReadMetrics.totalBytesRead
          a.shufW += m.shuffleWriteMetrics.bytesWritten
          a.input += m.inputMetrics.bytesRead
          a.peak = math.max(a.peak, m.peakExecutionMemory)
          a.deser += m.executorDeserializeTime
          a.resSer += m.resultSerializationTime
          a.maxTask = math.max(a.maxTask, m.executorRunTime)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    (1 to reps).foreach(_ => runNoop(spark, sfDir, q))
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(300) // let async listener events drain
    spark.sparkContext.removeSparkListener(listener)
    println(f"== $q: $reps rep(s), wall ${wall}%.3f s ==")
    println(f"${"stage"}%8s ${"tasks"}%5s ${"run_s"}%8s ${"cpu_s"}%8s " +
      f"${"gc_s"}%6s ${"deser_s"}%7s ${"spill_mb"}%8s ${"shufR_mb"}%8s " +
      f"${"shufW_mb"}%8s ${"in_mb"}%7s ${"peak_mb"}%7s ${"maxT_ms"}%7s  name")
    import scala.jdk.CollectionConverters._
    val rows = byStage.asScala.toSeq.sortBy(_._1)
    rows.foreach { case (id, a) =>
      println(f"$id%8d ${a.tasks}%5d ${a.run / 1e3}%8.2f ${a.cpu / 1e3}%8.2f " +
        f"${a.gc / 1e3}%6.2f ${a.deser / 1e3}%7.2f " +
        f"${a.spillMem / 1048576}%8d ${a.shufR / 1048576}%8d " +
        f"${a.shufW / 1048576}%8d ${a.input / 1048576}%7d " +
        f"${a.peak / 1048576}%7d ${a.maxTask}%7d  ${a.name}")
    }
    val tot = rows.map(_._2)
    println(f"   TOTAL ${tot.map(_.tasks).sum}%5d ${tot.map(_.run).sum / 1e3}%8.2f " +
      f"${tot.map(_.cpu).sum / 1e3}%8.2f ${tot.map(_.gc).sum / 1e3}%6.2f " +
      f"${tot.map(_.deser).sum / 1e3}%7.2f")
  }

  private def sample(spark: SparkSession, sfDir: String, q: String,
                     secs: Int, taskOnly: Boolean): Unit = {
    runNoop(spark, sfDir, q) // warm-up
    @volatile var done = false
    val worker = new Thread(() => {
      val deadline = System.nanoTime() + secs * 1000000000L
      while (!done && System.nanoTime() < deadline)
        runNoop(spark, sfDir, q)
      done = true
    }, "profile-worker")
    worker.setDaemon(true)
    val self = new java.util.HashMap[String, Integer]()
    val ctx = new java.util.HashMap[String, Integer]()
    var states = Map.empty[Thread.State, Int].withDefaultValue(0)
    var samples = 0
    worker.start()
    val deadline = System.nanoTime() + secs * 1000000000L
    while (!done && System.nanoTime() < deadline) {
      val all = Thread.getAllStackTraces()
      all.forEach { (t, st) =>
        // sampleall: every RUNNABLE non-worker thread (driver, stream
        // execution, listing pools) — the wall between jobs lives there
        val include =
          if (taskOnly)
            t.getName.startsWith("Executor task launch worker")
          else t.getState == Thread.State.RUNNABLE &&
            !t.getName.startsWith("profile-sampler")
        if (include && st.nonEmpty) {
          samples += 1
          states = states.updated(t.getState, states(t.getState) + 1)
          val top = st.head
          val key = s"${top.getClassName}.${top.getMethodName}"
          self.merge(key, 1, (a, b) => a + b): Unit
          // a 5-frame context fingerprint localizes WHICH caller
          val c = st.take(5).map(f =>
            s"${f.getClassName.split('.').last}.${f.getMethodName}")
            .mkString(" < ")
          ctx.merge(c, 1, (a, b) => a + b): Unit
        }
      }
      Thread.sleep(20)
    }
    done = true
    worker.join(10000)
    println(s"== $q: $samples task-thread samples over ~$secs s ==")
    println(s"thread states: $states")
    import scala.jdk.CollectionConverters._
    println("-- top self frames --")
    self.asScala.toSeq.sortBy(-_._2).take(25).foreach { case (k, n) =>
      println(f"$n%6d  $k")
    }
    println("-- top 5-frame contexts --")
    ctx.asScala.toSeq.sortBy(-_._2).take(25).foreach { case (k, n) =>
      println(f"$n%6d  $k")
    }
  }

  /** Wall-clock phase split of the q_v_stream_cdc shape: where do the
    * ~4.6 s go — index build, feed writes, the two AvailableNow drains
    * (split into stream machinery vs the upsert work they trigger), or
    * the final search?
    */
  private def cdcPhases(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    def timed[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[phase] $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      r
    }
    (1 to 3).foreach { rep =>
      println(s"== rep $rep ==")
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_p17cdc_$rep"
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      val (feed, ckpt, idx) = (s"$scratch/feed", s"$scratch/ckpt",
        s"$scratch/idx")
      timed("ensureIndex") {
        graft.operators.Ivf.ensureIndex(emb,
          s"$sfDir/embeddings.parquet", idx, k = 4, iters = 2)
      }
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
      timed("feed write 1") {
        e1.coalesce(1).write.mode("append").parquet(feed)
      }
      timed("drain 1") {
        graft.streaming.StreamingVectorIndex.upsertStream(spark, feed,
          idx, ckpt, opCol = Some("op"))
      }
      timed("feed write 2") {
        emb.filter(col("vec_id") % 14 === 0)
          .select(col("vec_id"), col("embedding"), col("label"),
            lit("U").as("op"))
          .coalesce(1).write.mode("append").parquet(feed)
      }
      timed("drain 2") {
        graft.streaming.StreamingVectorIndex.upsertStream(spark, feed,
          idx, ckpt, opCol = Some("op"))
      }
      // machinery floor: a drain with nothing to process — stream
      // start, checkpoint recovery, source listing, zero batches
      timed("drain 3 (empty)") {
        graft.streaming.StreamingVectorIndex.upsertStream(spark, feed,
          idx, ckpt, opCol = Some("op"))
      }
      val latestQ = emb.filter(col("vec_id") < 16 &&
          !(col("vec_id") % 11 === 5 && col("vec_id") % 7 =!= 0))
        .select(col("vec_id"),
          when(col("vec_id") % 7 === 0 && col("vec_id") % 14 =!= 0,
            transform(col("embedding"), x => (-x).cast("float")))
            .otherwise(col("embedding")).as("embedding"))
      timed("search + noop") {
        graft.operators.Ivf.searchIndex(spark, idx, latestQ, k = 5,
          nprobe = 4)
          .write.format("noop").mode("overwrite").save()
      }
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
    }
  }

  private def explain(spark: SparkSession, sfDir: String, q: String): Unit = {
    val fn = graft.SparkEntry.queries.getOrElse(q,
      sys.error(s"no declared query '$q'"))
    val df = fn(spark, sfDir)
    println(s"===== $q =====")
    println(df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
  }

  private def time(spark: SparkSession, sfDir: String, q: String,
                   reps: Int): Unit = {
    runNoop(spark, sfDir, q) // warm-up
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      runNoop(spark, sfDir, q)
      (System.nanoTime() - t0) / 1e9
    }
    println(s"== $q ==")
    ts.zipWithIndex.foreach { case (t, i) => println(f"rep ${i + 1}: $t%.3f s") }
    println(f"min ${ts.min}%.3f  median ${ts.sorted.apply(ts.size / 2)}%.3f")
  }
}
