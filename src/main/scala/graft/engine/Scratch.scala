package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Session-scratch artifacts derived from a source path, built once
  * and reused until the SOURCE changes — the shape every
  * build-once-measure-many gate needs (bucketed layouts, sorted
  * layouts, staged stream inputs, on-disk indexes).
  *
  * Two prior ad-hoc versions of this had real hazards (round-5
  * ADVICE): keying by `dir.hashCode` (32-bit — a cross-dir collision
  * silently reads the wrong artifact) and guarding by bare `_SUCCESS`
  * (a regenerated source at the same path reuses the stale artifact
  * forever). Here the key embeds the sanitized FULL path (collisions
  * impossible by construction) and freshness compares the artifact
  * marker's mtime against the newest source file, like
  * [[graft.operators.Ivf.ensureIndex]].
  */
object Scratch {

  /** Per-JVM unique token for throwaway scratch paths. A FIXED
    * tmpdir name lets two drivers on the same machine delete each
    * other's in-flight scratch (flaky failures / wrong gate output);
    * a fresh UUID per CALL leaks a dir per bench rep. Per-process is
    * the right scope: concurrent drivers never collide, and reps
    * inside one JVM reuse-and-clear the same dir.
    */
  val runToken: String = java.util.UUID.randomUUID().toString.take(8)

  /** Per-process scratch is per-process garbage: the `graft_*_<token>`
    * dirs are reused-and-cleared WITHIN the JVM but nothing outside it
    * ever reuses them (the token is fresh next run), so without exit
    * cleanup every driver invocation permanently leaks one dir per
    * tmpdir-scratch query family. A shutdown hook deletes exactly this
    * process's dirs — matching `graft_*_<runToken>` under
    * `java.io.tmpdir` — and nothing else: the durable
    * `graft-scratch/` build-once cache (keyed by content, reused
    * across runs) and other processes' tokens are untouched.
    * Best-effort by design (a kill -9 still leaks; the next explicit
    * [[cleanupRunToken]] caller or OS tmp reaper picks that up).
    */
  def cleanupRunToken(): Unit = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val mine = Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("graft_") &&
        f.getName.endsWith("_" + runToken))
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(): Unit
    }
    mine.foreach(rm)
  }

  Runtime.getRuntime.addShutdownHook(new Thread(() => cleanupRunToken()))

  /** (newest mtime, direct-child count, total bytes) of a file or
    * directory — driver-side FS metadata, one listing.
    */
  private[graft] def stat(spark: SparkSession, p: String): (Long, Long, Long) = {
    val path = new Path(p)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(path)
    if (st.isDirectory) {
      val children = fs.listStatus(path)
      (children.map(_.getModificationTime)
        .foldLeft(st.getModificationTime)(math.max),
        children.length.toLong, children.map(_.getLen).sum)
    } else (st.getModificationTime, 1L, st.getLen)
  }

  /** Injective identifier-safe encoding of a path: alphanumerics pass
    * through, every other character becomes `_xx` (hex). Distinct
    * paths can NEVER encode to the same key — a lossy `[^A-Za-z0-9]→_`
    * sanitize would let `/data/b-c` and `/data/b_c` collide and serve
    * each other's artifacts.
    */
  private[graft] def encode(path: String): String =
    path.flatMap {
      case c if c.isLetterOrDigit && c < 128 => c.toString
      case c if c < 256 => f"_${c.toInt}%02x"
      case c => f"_u${c.toInt}%04x" // 'u' is not a hex digit → unambiguous
    }

  /** [[contentKey]] hardened for METASTORE table names, which are
    * case-folded by the catalog: [[encode]] passes `A` and `a` through
    * unchanged, so two paths differing only in letter case would
    * collide after `toLowerCase`. Here uppercase letters are hex-
    * escaped too (`A` → `_41`), making the key case-stable, and keys
    * longer than `maxLen` are truncated with a 64-bit content hash of
    * the FULL key appended — bounded identifier length without giving
    * up collision resistance on long paths.
    */
  def tableKey(spark: SparkSession, sourcePath: String,
               maxLen: Int = 96): String = {
    val full = encode(sourcePath).flatMap {
      case c if c.isUpper => f"_${c.toInt}%02x"
      case c => c.toString
    } + { val (m, n, b) = stat(spark, sourcePath); s"_${n}_${b}_$m" }
    if (full.length <= maxLen) full
    else {
      val h = java.security.MessageDigest.getInstance("SHA-256")
        .digest(full.getBytes("UTF-8")).take(8)
        .map(b => f"${b & 0xff}%02x").mkString
      full.take(maxLen - 18) + "_h" + h
    }
  }

  /** Human-readable content key for `sourcePath`: the injectively
    * encoded full path plus file count, total bytes, and newest mtime.
    * Distinct paths can never share a key, and regenerating the source
    * changes it — safe to embed in metastore table names that must
    * track their input (a stale-named table is simply never read
    * again).
    */
  def contentKey(spark: SparkSession, sourcePath: String): String = {
    val (m, n, b) = stat(spark, sourcePath)
    encode(sourcePath) + s"_${n}_${b}_$m"
  }

  /** Read a whole small marker file, looping to EOF (a single read may
    * legally return short).
    */
  private def readMarker(fs: org.apache.hadoop.fs.FileSystem,
                         p: Path): Option[String] = {
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](256)
      var n = in.read(buf)
      while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
      Some(out.toString("UTF-8"))
    } finally in.close()
  }

  /** The build-once protocol at an EXPLICIT artifact directory
    * (shared core of [[ensure]] and
    * [[graft.operators.Ivf.ensureIndex]]): rebuild iff the marker is
    * missing (crash mid-build), older than the newest source file
    * (regenerated source), or carrying a different `fingerprint`
    * (changed build parameters — an index built with other settings at
    * the same path must never be served).
    *
    * The rebuild is ATOMIC-swap, not delete-then-build-in-place
    * (round-6 ADVICE): `build` writes into a staging sibling, the
    * marker lands inside it, and ONE [[Commit]] swap (the old artifact
    * moving to `<dir>._old`) publishes artifact+marker together. A
    * concurrent reader races only the swap's two renames, and a crash
    * leaves the old artifact (moved home by the next call) or a
    * dangling staging dir — never a half-built artifact. A failed
    * publish (a lost race, or a real IO error: Hadoop `rename` returns
    * false on those too) is accepted iff a fresh artifact carrying OUR
    * fingerprint is in place.
    */
  def ensureAt(spark: SparkSession, artifactDir: String, sourcePath: String,
               fingerprint: String = "",
               markerName: String = "_GRAFT_READY")
              (build: String => Unit): Unit = {
    val (srcModified, _, _) = stat(spark, sourcePath)
    val target = new Path(artifactDir)
    val marker = new Path(s"$artifactDir/$markerName")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fresh: Boolean = fs.exists(marker) &&
      fs.getFileStatus(marker).getModificationTime >= srcModified &&
      readMarker(fs, marker).contains(fingerprint)
    recoverAt(fs, target)
    if (!fresh) {
      val staging = new Path(artifactDir + "._staging_" +
        java.util.UUID.randomUUID().toString.take(8))
      try {
        build(staging.toString)
        val o = fs.create(new Path(staging, markerName), true)
        o.write(fingerprint.getBytes("UTF-8")); o.close()
        // serving a stale/absent artifact is the one unacceptable outcome
        try Commit.swap(fs, Seq(artifactSwap(target, Some(staging))), None)
        catch { case e: java.io.IOException => if (!fresh) throw e }
      } finally fs.delete(staging, true) // no-op once published
    }
  }

  private def artifactSwap(target: Path, staged: Option[Path]) =
    Commit.Swap(staged, target, new Path(s"${target}._old"))

  /** Move home an artifact a crashed [[ensureAt]] left aside. */
  private[graft] def recoverAt(fs: org.apache.hadoop.fs.FileSystem, target: Path): Unit =
    Commit.recover(fs, Seq(artifactSwap(target, None)), None)

  /** Return a scratch directory for (`tag`, `sourcePath`), running
    * `build` first iff the artifact is missing, half-built (no marker:
    * a crash mid-build rebuilds), older than the newest source
    * file, or carrying a different `fingerprint`. Bump the
    * fingerprint whenever the ARTIFACT FORMAT changes — a
    * format-incompatible cached artifact from an older build is
    * otherwise indistinguishable from a fresh one. `build` writes
    * into the directory it is handed; the `_GRAFT_READY` marker lands
    * after it returns.
    */
  def ensure(spark: SparkSession, tag: String, sourcePath: String,
             fingerprint: String = "")
            (build: String => Unit): String = {
    val root = spark.conf.get("graft.scratch.dir",
      System.getProperty("java.io.tmpdir"))
    val dir = s"$root/graft-scratch/${tag}_" + encode(sourcePath)
    ensureAt(spark, dir, sourcePath, fingerprint)(build)
    dir
  }
}
