package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counters of a set of Spark tasks: executor CPU, shuffle and output
  * bytes, rows read and written.
  */
final case class Counts(cpuNs: Long = 0L, shuffleBytes: Long = 0L,
                        writeBytes: Long = 0L, rowsWritten: Long = 0L,
                        rowsRead: Long = 0L, jobs: Long = 0L) {
  def +(o: Counts): Counts = Counts(cpuNs + o.cpuNs,
    shuffleBytes + o.shuffleBytes, writeBytes + o.writeBytes,
    rowsWritten + o.rowsWritten, rowsRead + o.rowsRead, jobs + o.jobs)
  def -(o: Counts): Counts = Counts(cpuNs - o.cpuNs,
    shuffleBytes - o.shuffleBytes, writeBytes - o.writeBytes,
    rowsWritten - o.rowsWritten, rowsRead - o.rowsRead, jobs - o.jobs)
}

/** One traced call into a layer: wall-clock interval (epoch ms for job
  * attribution, nanoTime for the duration), the JVM's GC time inside it
  * and the heap bytes all threads allocated during it.
  */
final case class Span(id: Int, name: String, parent: Int, startMs: Long,
                      endMs: Long, wallNs: Long, gcMs: Long, allocBytes: Long)

/** The benchmark's Spark listener plus its span recorder.
  *
  * Every job, stage and task is recorded; a job belongs to the span
  * whose id the calling thread carried as a local property when the job
  * was submitted, or — for jobs started on threads that did not inherit
  * it — to the innermost span open at its submission time. Inside a
  * [[watch]]ed call a job moves on to the layer its call site names.
  * Spans stay in memory until [[attribute]] runs at the end.
  */
final class Meter(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val SpanKey = "perfbench.span"
  private val ExecKey = "spark.sql.execution.id"
  // stack sampling period of a watch: fine against layer calls of 0.1 s
  // and more; each sample pauses the sampled thread for one stack walk
  private val WatchMs = 5L

  // raw events, guarded by `this`
  private val jobSpan = mutable.LinkedHashMap[Int, (Long, Option[Int])]()
  // a job's call site: its SQL execution's, else its first stage's
  private val jobExec = mutable.Map[Int, Long]()
  private val jobSite = mutable.Map[Int, String]()
  private val execSite = mutable.Map[Long, String]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageCounts = mutable.Map[Int, Counts]()
  private var total = Counts()

  private val spans = mutable.ArrayBuffer[Span]()
  // spans a watcher opened, and the layers watched under each parent
  private val watched = mutable.Set[Int]()
  private val watchedLayers = mutable.Map[Int, Seq[(String, String)]]()
  private var open: List[Int] = Nil
  private var nextId = 0

  sc.addSparkListener(this)

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(js.properties).flatMap(p =>
      Option(p.getProperty(SpanKey))).map(_.toInt)
    jobSpan(js.jobId) = (js.time, tag)
    Option(js.properties).flatMap(p => Option(p.getProperty(ExecKey)))
      .foreach(e => jobExec(js.jobId) = e.toLong)
    js.stageInfos.headOption.foreach(st => jobSite(js.jobId) = st.details)
    js.stageIds.foreach(s => stageJob.getOrElseUpdate(s, js.jobId))
    total = total.copy(jobs = total.jobs + 1)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized(execSite(s.executionId) = s.details)
    case _ =>
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) synchronized {
      val c = Counts(m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
        m.inputMetrics.recordsRead)
      stageCounts(te.stageId) = stageCounts.getOrElse(te.stageId, Counts()) + c
      total = total + c
    }
  }

  /** Counters over everything run so far, after the bus has drained. */
  def snapshot(): Counts = { PerfbenchBus.drain(sc); synchronized(total) }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** Run `body` as one call into layer `name`. */
  def span[T](name: String)(body: => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val parent = open.headOption.getOrElse(0)
    val prevTag = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id.toString)
    open = id :: open
    val (ms0, ns0, gc0) = (System.currentTimeMillis(), System.nanoTime(), gcMs)
    val alloc0 = threads.getTotalThreadAllocatedBytes
    try body
    finally {
      val s = Span(id, name, parent, ms0, System.currentTimeMillis(),
        System.nanoTime() - ns0, gcMs - gc0,
        threads.getTotalThreadAllocatedBytes - alloc0)
      open = open.tail
      sc.setLocalProperty(SpanKey, prevTag)
      synchronized { spans += s }
    }
  }

  /** Run `body`, an unmodified entry point, as one span per call it
    * makes into a layer. `layers` maps a layer name to the class (a
    * Scala object's or class's name) whose calls make up the layer. A
    * watcher samples the calling thread's stack every `WatchMs`; while
    * the innermost frame of a listed class is that of layer L, a span
    * named L is open, child of the span open around this call. Jobs
    * are assigned to layers by their call sites, which name the same
    * classes, so no job depends on the sampling period.
    */
  def watch[T](layers: Seq[(String, String)])(body: => T): T = {
    val parent = open.headOption.getOrElse(0)
    val target = Thread.currentThread()
    @volatile var done = false
    def now() = (System.currentTimeMillis(), System.nanoTime(), gcMs,
      threads.getTotalThreadAllocatedBytes)
    val watcher = new Thread(() => {
      var cur: Option[(String, (Long, Long, Long, Long))] = None
      def close(): Unit = cur.foreach { case (name, (ms0, ns0, gc0, al0)) =>
        val (ms, ns, gc, al) = now()
        Meter.this.synchronized {
          nextId += 1
          spans += Span(nextId, name, parent, ms0, ms, ns - ns0, gc - gc0, al - al0)
          watched += nextId
        }
      }
      while (!done) {
        val l = Meter.layerOf(target.getStackTrace.map(_.getClassName), layers)
        if (l != cur.map(_._1)) { close(); cur = l.map(_ -> now()) }
        Thread.sleep(WatchMs)
      }
      close()
    }, "perfbench-watch")
    watcher.setDaemon(true)
    synchronized(watchedLayers(parent) = layers)
    watcher.start()
    try body finally { done = true; watcher.join() }
  }

  /** Per-span counters. */
  def attribute(): (Seq[Span], Map[Int, Counts]) = {
    PerfbenchBus.drain(sc)
    synchronized {
      val all = spans.toVector
      def byWindow(t: Long): Option[Int] =
        all.filter(s => s.startMs <= t && t <= s.endMs)
          .sortBy(s => (-s.startMs, -s.id)).headOption.map(_.id)
      // a job of a watched call: the span of its call site's layer
      // nearest its submission time
      def refine(job: Int, t: Long, owner: Int): Int =
        watchedLayers.get(owner).flatMap { layers =>
          val site = jobExec.get(job).flatMap(execSite.get)
            .orElse(jobSite.get(job)).getOrElse("")
          Meter.layerOf(Meter.siteClasses(site), layers).flatMap { l =>
            all.filter(s => s.parent == owner && s.name == l &&
              watched(s.id)).sortBy(s =>
              if (t < s.startMs) s.startMs - t else (t - s.endMs).max(0L))
              .headOption.map(_.id)
          }
        }.getOrElse(owner)
      val owner: Map[Int, Option[Int]] = jobSpan.map {
        case (job, (t, tag)) => job -> tag.orElse(byWindow(t)).map(refine(job, t, _))
      }.toMap
      val per = mutable.Map[Int, Counts]().withDefaultValue(Counts())
      owner.foreach { case (_, o) =>
        o.foreach(id => per(id) = per(id).copy(jobs = per(id).jobs + 1))
      }
      stageCounts.foreach { case (stage, c) =>
        stageJob.get(stage).flatMap(owner.getOrElse(_, None))
          .foreach(id => per(id) = per(id) + c)
      }
      (all, per.toMap)
    }
  }
}

object Meter {
  /** The layer of the innermost frame whose class is a listed layer's. */
  def layerOf(classes: Seq[String], layers: Seq[(String, String)]): Option[String] =
    classes.iterator.flatMap(c => layers.collectFirst {
      case (name, cls) if c == cls || c.startsWith(cls + "$") => name
    }).nextOption()

  /** Class names of a Spark call site's frames, innermost first. */
  def siteClasses(site: String): Seq[String] =
    site.linesIterator.map(_.trim.takeWhile(_ != '('))
      .map(f => f.take(f.lastIndexOf('.').max(0))).toSeq

  /** Live heap after forced collections. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
