package perfbench

import java.io.{File, PrintWriter, StringWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM. Writes `<out>/result.json` for
  * `perfbench/run.py`, which checks the outputs and derives the metrics.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --out DIR
  *        --cores C [--smoke]
  *
  * Untraced: set up once untimed and run a warm-up unit on it; set up
  * twice more, and more until set-up has taken three seconds (the last
  * set-up is the timed state); then run closed-loop units until at least
  * two have run and S seconds have passed. Traced: after two warm-up
  * units, run W's unit once untraced and once traced on identical
  * set-ups and compare their outputs; then, for each other pipeline
  * whose layers W does not cover, one untraced warm-up unit and one
  * traced unit on the same set-up, so the per-layer table is complete.
  */
object Main {
  private val setupReps = 2
  private val minSetupS = 3.0
  private val warmups = 1
  private val minUnits = 2

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val out = opt("out")
    val cores = opt("cores").toInt
    val scale = if (args.contains("--smoke")) Scale.smoke else Scale.full
    require(Pipe.layers.contains(workload), s"unknown workload $workload")

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", classOf[graft.GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/spark-warehouse")
      .config("spark.local.dir", s"$out/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val meter = new Meter(spark)

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> (if (trace) 1 else 0),
      "cores" -> cores, "scale" -> scale.productElementNames
        .zip(scale.productIterator).toMap,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark" -> spark.version, "session_s" -> sessionS)
    val errors = mutable.ArrayBuffer[String]()
    def fail(where: String, e: Throwable): Unit = {
      val sw = new StringWriter(); e.printStackTrace(new PrintWriter(sw))
      errors += s"$where: $sw"
      System.err.println(s"[perfbench] $where failed: $e")
    }

    try {
      if (!trace) untraced(spark, meter, workload, seed, seconds, scale, out,
        result, fail)
      else traced(spark, meter, workload, seed, scale, out, result, fail)
    } catch { case e: Throwable => fail("run", e) }
    result("errors") = errors.toList
    result("total_s") = secs(t0)
    Files.write(new File(s"$out/result.json").toPath,
      Json(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def untraced(spark: SparkSession, meter: Meter, workload: String,
                       seed: Long, seconds: Double, scale: Scale, out: String,
                       result: mutable.Map[String, Any],
                       fail: (String, Throwable) => Unit): Unit = {
    // the first set-up runs cold and is not timed; a warm-up unit on it
    // lets the JIT compile the engine's hot paths before the timed units
    val w0 = System.nanoTime()
    val warm = Pipe(workload, spark, s"$out/warm", seed, scale)
    warm.setup()
    (1 to warmups).foreach(i => warm.unit(i, None))
    result("warmup_s") = secs(w0)

    // a short set-up is repeated until it has taken minSetupS, so that
    // its median rests on enough samples
    val setups = mutable.ArrayBuffer[Double]()
    val pipes = mutable.ArrayBuffer[Pipe]()
    while (pipes.size < setupReps || setups.sum < minSetupS) {
      val p = Pipe(workload, spark, s"$out/rep-${pipes.size + 1}", seed, scale)
      val t0 = System.nanoTime()
      result("inputs") = p.setup()
      setups += secs(t0)
      pipes += p
    }
    result("setup_s") = setups.toList

    val pipe = pipes.last
    val units = mutable.ArrayBuffer[Map[String, Any]]()
    val loop0 = System.nanoTime()
    var i = 1
    var failed = false
    while (!failed && (i <= minUnits || secs(loop0) < seconds)) {
      val before = meter.snapshot()
      try {
        val u = pipe.unit(i, None)
        val c = meter.snapshot() - before
        units += Map("input_bytes" -> u.inputBytes, "wall_s" -> u.wallS,
          "work" -> u.work, "cpu_s" -> c.cpuNs / 1e9,
          "write_bytes" -> c.writeBytes, "jobs" -> c.jobs)
      } catch { case e: Throwable => fail(s"unit $i", e); failed = true }
      i += 1
    }
    result("attempted_units") = i - 1
    result("units") = units.toList
    result("loop_s") = secs(loop0)
    result("heap_live_mb") = Meter.liveHeapMb()
    val c0 = System.nanoTime()
    if (!failed) result("check") = List(pipe.check())
    result("check_s") = secs(c0)
  }

  private def traced(spark: SparkSession, meter: Meter, workload: String,
                     seed: Long, scale: Scale, out: String,
                     result: mutable.Map[String, Any],
                     fail: (String, Throwable) => Unit): Unit = {
    // the named workload first; then whichever others add layers
    val order = (workload +: Seq("sales_load", "curate", "vector_cdc",
      "sales_cdc").filterNot(_ == workload))
      .foldLeft(List.empty[String]) { (acc, w) =>
        if (Pipe.layers(w).forall(l => acc.exists(Pipe.layers(_).contains(l)))) acc
        else acc :+ w
      }
    val checks = mutable.ArrayBuffer[Map[String, Any]]()
    val work = mutable.Map[String, Long]().withDefaultValue(0L)
    val runs = mutable.LinkedHashMap[String, Any]()
    val inputs = mutable.LinkedHashMap[String, Any]()
    order.foreach { w =>
      // the named workload: warm-up, untraced and traced units on three
      // identical set-ups; the others: one untraced unit to warm up,
      // then the traced unit on the same set-up
      val named = w == workload
      val pipes = (1 to (if (named) 3 else 1)).map { k =>
        val p = Pipe(w, spark, s"$out/$w/rep-$k", seed, scale)
        inputs(w) = p.setup()
        p
      }
      val info = mutable.LinkedHashMap[String, Any]()
      if (named) {
        // one more warm-up than untraced runs, so that neither the
        // untraced nor the traced unit absorbs JIT compilation
        (1 to warmups + 1).foreach(i => pipes.head.unit(i, None))
        val t0 = System.nanoTime()
        pipes(1).unit(1, None)
        info("untraced_s") = secs(t0)
      } else pipes.last.unit(1, None)
      val t1 = System.nanoTime()
      val u = meter.span(s"_unit.$w")(
        pipes.last.unit(if (named) 1 else 2, Some(meter)))
      info("traced_s") = secs(t1)
      u.work.foreach { case (k, v) => work(s"$w.$k") += v }
      work(s"$w.input_bytes") += u.inputBytes
      meter.span("_check") {
        if (named) {
          val (a, b) = (pipes(1).digest(), pipes.last.digest())
          info("digest_untraced") = a
          info("digest_traced") = b
        }
        checks += pipes.last.check()
      }
      runs(w) = info
    }
    val (spans, per) = meter.attribute()
    result("runs") = runs
    result("inputs") = inputs
    result("work") = work.toMap
    result("spans") = spans.map { s =>
      val c = per.getOrElse(s.id, Counts())
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "wall_s" -> s.wallNs / 1e9, "gc_s" -> s.gcMs / 1e3,
        "alloc_bytes" -> s.allocBytes,
        "jobs" -> c.jobs, "cpu_s" -> c.cpuNs / 1e9,
        "shuffle_bytes" -> c.shuffleBytes, "write_bytes" -> c.writeBytes,
        "rows_written" -> c.rowsWritten, "rows_read" -> c.rowsRead)
    }.toList
    result("heap_live_mb") = Meter.liveHeapMb()
    result("check") = checks.toList
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
