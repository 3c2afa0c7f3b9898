package graft.tools

/** One-command round-over-round bench comparison on the LOAD-IMMUNE
  * basis (round-10 VERDICT #5): reads two bench artifacts (the JSON
  * line `graft.Bench` writes to its `target/bench*.json` sidecar) and
  * diffs the per-query `cpu_sec` map — executor
  * CPU seconds per attempt, which a thrashed box does not inflate the
  * way wall time does. This turns the phantom-regression adjudication
  * loop (r8–r10's recurring time sink: "is +40% wall a regression or
  * a noisy neighbor?") into one command whose answer does not depend
  * on machine load during either run.
  *
  *   runMain graft.tools.BenchDiff old.json new.json [ratioFlag]
  *
  * Flags queries whose CPU grew > `ratioFlag` (default 1.5×) AND by
  * an absolute floor of 0.2 cpu-sec (a 3 ms kernel doubling to 6 ms
  * is noise, not a finding). Also lists added/removed queries and the
  * wall-time ratio alongside for context — when wall moves and CPU
  * does not, the verdict is "load, not code".
  *
  * Round-11 adjudication rule, learned the measured way: cpu_sec is
  * load-RESISTANT, not load-immune — co-resident cache pressure
  * inflates task CPU up to ~2× on sub-second queries with the WORK
  * unchanged. A cpu flag therefore only counts as a REGRESSION when
  * the query's `bytes_read` or `shuffle_write` also moved (> 1%) —
  * the work changed; same-bytes/same-shuffle flags are reported as
  * attribution noise and do not fail the run.
  *
  * Job count is the deterministic channel: every query whose `jobs`
  * per attempt rose is listed (an artifact without a `jobs` map skips
  * this check).
  *
  * Exit code 1 when any work-backed regression or job rise is flagged,
  * so a round script can gate on it. A `BENCH_r{N}.json` run record
  * (`n, rc, cpus, sf, tail, parsed`) is read through its pretty-printed
  * `parsed` bench line; a record whose `parsed` is null (`tail`, a
  * 2,000-character fragment of the line, is all it keeps) has no
  * `cpu_sec` map, and BenchDiff says so and exits 2.
  */
object BenchDiff {

  /** Extract the balanced `{...}` value of `"key":` from a JSON text,
    * compact or pretty-printed. The bench maps hold only string keys
    * and number values (no nested objects), but the scan is
    * brace-balanced anyway so a future nested field cannot silently
    * truncate the map.
    */
  private[tools] def objectOf(json: String, key: String): Option[String] = {
    val k = ("\"" + java.util.regex.Pattern.quote(key) + "\"\\s*:\\s*\\{").r
    val start = k.findFirstMatchIn(json) match {
      case Some(m) => m.end - 1
      case None => return None
    }
    var depth = 0; var j = start; var inStr = false; var esc = false
    while (j < json.length) {
      val c = json(j)
      if (esc) esc = false
      else if (inStr) { if (c == '\\') esc = true else if (c == '"') inStr = false }
      else c match {
        case '"' => inStr = true
        case '{' => depth += 1
        case '}' =>
          depth -= 1
          if (depth == 0) return Some(json.substring(start, j + 1))
        case _ =>
      }
      j += 1
    }
    None
  }

  /** `{"a":1.2,"b":3}` → Map("a" -> 1.2, "b" -> 3.0). */
  private[tools] def numberMap(obj: String): Map[String, Double] =
    raw""""((?:[^"\\]|\\.)*)"\s*:\s*(-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)""".r
      .findAllMatchIn(obj)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap

  private def mapOf(json: String, key: String): Map[String, Double] =
    objectOf(json, key).map(numberMap).getOrElse(Map.empty)

  /** One query's value in the old and the new artifact. */
  private[tools] final case class Row(q: String, o: Double, n: Double) {
    def ratio: Double = if (o > 0) n / o else Double.PositiveInfinity
  }

  private val absFloor = 0.2 // cpu-sec — below this a ratio is arithmetic noise

  /** `cpu_sec` of the queries both artifacts carry, by name. */
  private[tools] def cpuRows(oldJ: String, newJ: String): Seq[Row] = {
    val (o, n) = (mapOf(oldJ, "cpu_sec"), mapOf(newJ, "cpu_sec"))
    (o.keySet & n.keySet).toSeq.sorted.map(q => Row(q, o(q), n(q)))
  }

  /** The queries whose CPU grew > `ratioFlag`× and by the absolute
    * floor, largest ratio first, split into work-backed regressions
    * (`bytes_read` or `shuffle_write` moved > 1%, or is missing) and
    * attribution noise (both identical).
    */
  private[tools] def cpuGrowth(oldJ: String, newJ: String,
                               ratioFlag: Double): (Seq[Row], Seq[Row]) = {
    def moved(key: String, q: String): Boolean =
      (mapOf(oldJ, key).get(q), mapOf(newJ, key).get(q)) match {
        case (Some(a), Some(b)) =>
          math.abs(b - a) > 0.01 * math.max(math.max(a, b), 1.0)
        case _ => true
      }
    cpuRows(oldJ, newJ)
      .filter(r => r.n - r.o > absFloor && r.ratio > ratioFlag)
      .sortBy(-_.ratio)
      .partition(r => moved("bytes_read", r.q) || moved("shuffle_write", r.q))
  }

  /** The queries whose Spark jobs per attempt rose; none when either
    * artifact lacks a `jobs` map.
    */
  private[tools] def jobRises(oldJ: String, newJ: String): Seq[Row] = {
    val (o, n) = (mapOf(oldJ, "jobs"), mapOf(newJ, "jobs"))
    (o.keySet & n.keySet).toSeq.sorted.collect {
      case q if n(q) > o(q) => Row(q, o(q), n(q))
    }
  }

  /** The bench line an artifact holds: a sidecar's line as it is, a
    * run record's `parsed` object, or None for a run record whose
    * `parsed` carries no `cpu_sec` map.
    */
  private[tools] def benchLine(json: String): Option[String] =
    if (!json.contains("\"tail\"")) Some(json)
    else objectOf(json, "parsed").filter(objectOf(_, "cpu_sec").nonEmpty)

  private def load(p: String): String = {
    val json = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    benchLine(json).getOrElse {
      println(s"$p is a BENCH_r*.json run record without a parsed cpu_sec map; " +
        "BenchDiff needs it or the full target/bench*.json sidecar")
      sys.exit(2)
    }
  }

  /** `--spread a.json b.json [c.json …]`: quantify the per-query
    * quiet-cpu NOISE BAND across repeated same-code runs (round-12
    * VERDICT #5 — the multimodal decode family's cpu deltas kept
    * dominating round-over-round diffs with byte-identical IO; this
    * records how wide same-work cpu attribution actually wobbles, so
    * a future diff can classify an mm delta against the measured
    * band instead of re-litigating it). Only queries whose
    * bytes_read AND shuffle_write are constant (≤1%) across ALL runs
    * count toward the band — work-varied queries are listed
    * separately, they measure nothing about attribution. Reports
    * overall p50/p90/max relative spread ((max−min)/min, queries
    * above the 0.2 cpu-sec floor) and the `q_mm_` family's
    * individual rows. Always exits 0 — this is a measurement, not a
    * gate.
    */
  private def spreadMode(paths: Seq[String]): Unit = {
    require(paths.length >= 2,
      "usage: BenchDiff --spread <a.json> <b.json> [more.json ...]")
    val arts = paths.map { p =>
      val j = load(p)
      (mapOf(j, "cpu_sec"), mapOf(j, "bytes_read"), mapOf(j, "shuffle_write"))
    }
    val common = arts.map(_._1.keySet).reduce(_ & _).toSeq.sorted
    def f(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    def constant(vals: Seq[Double]): Boolean =
      vals.max - vals.min <= 0.01 * math.max(vals.max, 1.0)
    val (workConst, workVaried) = common.partition { q =>
      arts.forall(a => a._2.contains(q) && a._3.contains(q)) &&
        constant(arts.map(_._2(q))) && constant(arts.map(_._3(q)))
    }
    case class S(q: String, cpus: Seq[Double]) {
      def lo: Double = cpus.min
      def hi: Double = cpus.max
      def spread: Double = if (lo > 0) (hi - lo) / lo else 0.0
    }
    val rows = workConst.map(q => S(q, arts.map(_._1(q))))
      .filter(_.hi > 0.2) // sub-floor kernels: arithmetic noise
    val spreads = rows.map(_.spread).sorted
    def pct(p: Double): Double =
      if (spreads.isEmpty) 0.0
      else spreads(math.min(spreads.size - 1, (p * spreads.size).toInt))
    println(s"== BenchDiff --spread over ${paths.length} runs ==")
    println(s"common ${common.size}  work-constant ${workConst.size} " +
      s"(${rows.size} above the ${0.2} cpu-sec floor)  " +
      s"work-varied ${workVaried.size}")
    if (workVaried.nonEmpty)
      println(s"work-varied (excluded): ${workVaried.mkString(", ")}")
    println(s"same-work cpu spread: p50 ${f(pct(0.5) * 100)}%  " +
      s"p90 ${f(pct(0.9) * 100)}%  max ${f(pct(1.0) * 100)}%")
    val mm = rows.filter(_.q.startsWith("q_mm_"))
    if (mm.nonEmpty) {
      val worst = mm.map(_.spread).max
      println(s"q_mm_ family (decode attribution band): " +
        s"max spread ${f(worst * 100)}%")
      mm.sortBy(-_.spread).foreach(r => println(
        s"  ${r.q}: [${r.cpus.map(f).mkString(", ")}] cpu-sec " +
          s"(${f(r.spread * 100)}%)"))
    }
    val top = rows.sortBy(-_.spread).take(8)
    if (top.nonEmpty) {
      println("widest bands overall:")
      top.foreach(r => println(
        s"  ${r.q}: [${r.cpus.map(f).mkString(", ")}] cpu-sec " +
          s"(${f(r.spread * 100)}%)"))
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--spread")) {
      spreadMode(args.toSeq.tail); return
    }
    // --band <third.json>: a SECOND same-code run of the `new` side
    // (the recorded third sidecar, round-12 VERDICT #5). Attribution-
    // noise rows are then classified against the replication band:
    // when the old→new cpu delta is no larger than the new↔third
    // spread of the SAME query at identical work, the delta is
    // within what same-code replication already wobbles — measured
    // contention noise, not something to re-litigate. (Motivated by
    // the multimodal decode family: quiet-run spreads up to ~44% on
    // byte-identical IO — JIT/GC attribution on decode-heavy
    // mapPartitions tasks — kept dominating round-over-round diffs.)
    val bandIdx = args.indexOf("--band")
    val bandPath = if (bandIdx >= 0 && bandIdx + 1 < args.length)
      Some(args(bandIdx + 1)) else None
    val posArgs = (if (bandIdx >= 0)
      args.take(bandIdx) ++ args.drop(bandIdx + 2) else args).toSeq
    require(posArgs.length >= 2,
      "usage: BenchDiff <old.json> <new.json> [ratioFlag] " +
        "[--band <third.json>] | " +
        "BenchDiff --spread <a.json> <b.json> [more.json ...]")
    val ratioFlag = if (posArgs.length > 2) posArgs(2).toDouble else 1.5
    val (oldJ, newJ) = (load(posArgs(0)), load(posArgs(1)))
    val (cpuOld, cpuNew) = (mapOf(oldJ, "cpu_sec"), mapOf(newJ, "cpu_sec"))
    val (wallOld, wallNew) = (mapOf(oldJ, "queries"), mapOf(newJ, "queries"))
    val (bytesNew, shufNew) =
      (mapOf(newJ, "bytes_read"), mapOf(newJ, "shuffle_write"))
    require(cpuOld.nonEmpty && cpuNew.nonEmpty,
      "both artifacts must carry a cpu_sec map (bench r10+)")

    val rows = cpuRows(oldJ, newJ)
    val added = (cpuNew.keySet -- cpuOld.keySet).toSeq.sorted
    val removed = (cpuOld.keySet -- cpuNew.keySet).toSeq.sorted

    def f(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    def wallNote(q: String): String =
      (wallOld.get(q), wallNew.get(q)) match {
        case (Some(wo), Some(wn)) if wo > 0 => s" (wall ${f(wn / wo)}x)"
        case _ => ""
      }
    val (flagged, noise) = cpuGrowth(oldJ, newJ, ratioFlag)
    val rose = jobRises(oldJ, newJ)
    val improved = rows.filter(r =>
      r.o - r.n > absFloor && r.ratio < 1 / ratioFlag).sortBy(_.ratio)

    val (to, tn) = (rows.map(_.o).sum, rows.map(_.n).sum)
    println(s"== BenchDiff cpu_sec: ${args(0)} -> ${args(1)} ==")
    println(s"common ${rows.size}  added ${added.size}  " +
      s"removed ${removed.size}")
    println(s"common-query cpu total: ${f(to)} -> ${f(tn)} " +
      s"(${f(if (to > 0) tn / to else 0)}x)")
    if (added.nonEmpty) println(s"added: ${added.mkString(", ")}")
    if (removed.nonEmpty) println(s"removed: ${removed.mkString(", ")}")
    if (flagged.isEmpty)
      println(s"no work-backed cpu regressions > ${ratioFlag}x " +
        s"(+${absFloor} floor)")
    else {
      println(s"FLAGGED (> ${ratioFlag}x cpu AND bytes/shuffle moved):")
      flagged.foreach(r => println(
        s"  ${r.q}: ${f(r.o)} -> ${f(r.n)} cpu-sec " +
          s"(${f(r.ratio)}x)${wallNote(r.q)}"))
    }
    // replication band from the third sidecar, when recorded
    val band: Map[String, Double] = bandPath.map { bp =>
      val bJ = load(bp)
      val cpuB = mapOf(bJ, "cpu_sec")
      val bytesB = mapOf(bJ, "bytes_read")
      val shufB = mapOf(bJ, "shuffle_write")
      def const(a: Option[Double], b: Option[Double]) = (a, b) match {
        case (Some(x), Some(y)) =>
          math.abs(y - x) <= 0.01 * math.max(math.max(x, y), 1.0)
        case _ => false
      }
      noise.flatMap { r =>
        cpuB.get(r.q).collect {
          case c if const(bytesNew.get(r.q), bytesB.get(r.q)) &&
              const(shufNew.get(r.q), shufB.get(r.q)) && math.min(c, r.n) > 0 =>
            r.q -> (math.max(c, r.n) - math.min(c, r.n)) / math.min(c, r.n)
        }
      }.toMap
    }.getOrElse(Map.empty)
    if (noise.nonEmpty) {
      println("attribution noise (cpu grew, bytes/shuffle identical):")
      noise.foreach { r =>
        val note = band.get(r.q) match {
          case Some(b) if r.ratio - 1.0 <= b =>
            f" [within replication band ${b * 100}%.0f%%]"
          case Some(b) =>
            f" [exceeds replication band ${b * 100}%.0f%%]"
          case None => ""
        }
        println(
          s"  ${r.q}: ${f(r.o)} -> ${f(r.n)} cpu-sec " +
            s"(${f(r.ratio)}x)${wallNote(r.q)}$note")
      }
    }
    // machine-adjudicated outliers (round-14 VERDICT #6): the
    // q_v_neardup-shaped artifacts — cpu spread far beyond any
    // replication band at BYTE-IDENTICAL IO — classified by the
    // standing three-channel rule with no judge re-derivation:
    //   cpu up + IO identical + wall NOT tracking the cpu ratio
    //     → "contention" (the extra cpu-seconds are ambient
    //       attribution on a loaded 32-thread box, not the query's
    //       own work — wall would track if the work were real);
    //   cpu up + IO identical + wall tracking → "suspect" (a
    //       genuinely slower kernel at the same data — re-litigate).
    // One parseable line, emitted ALWAYS (empty list = clean diff),
    // so the close NOTES can quote the verdicts verbatim.
    val outliers = noise.map { r =>
      val wallRatio = (wallOld.get(r.q), wallNew.get(r.q)) match {
        case (Some(wo), Some(wn)) if wo > 0 => wn / wo
        case _ => Double.NaN
      }
      val verdict =
        if (!wallRatio.isNaN && wallRatio <= math.max(1.6, r.ratio / 2))
          "contention"
        else "suspect"
      (r, wallRatio, verdict)
    }
    println("BENCHDIFF_OUTLIERS " + outliers.map { case (r, w, v) =>
      val bandNote = band.get(r.q)
        .map(b => s""","band":${f(b)}""").getOrElse("")
      s"""{"q":"${r.q}","cpu_old":${f(r.o)},"cpu_new":${f(r.n)},""" +
        s""""cpu_ratio":${f(r.ratio)},"wall_ratio":${
          if (w.isNaN) "null" else f(w)}$bandNote,"verdict":"$v"}"""
    }.mkString("[", ",", "]"))
    if (improved.nonEmpty) {
      println("improved:")
      improved.foreach(r => println(
        s"  ${r.q}: ${f(r.o)} -> ${f(r.n)} cpu-sec " +
          s"(${f(r.ratio)}x)${wallNote(r.q)}"))
    }
    if (rose.nonEmpty) {
      println("JOBS ROSE (Spark jobs per attempt):")
      rose.foreach(r => println(s"  ${r.q}: ${r.o} -> ${r.n}"))
    }
    if (flagged.nonEmpty || rose.nonEmpty) sys.exit(1)
  }
}
