package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Multi-version parquet table with atomic commits, snapshot reads,
  * time travel, vacuum, and compaction — the generation-pointer
  * upgrade sketched in [[Upsert.atomicReplace]]'s scaladoc, replacing
  * rename-swap (single-writer, readers can catch a mid-swap window)
  * with an append-only generation ledger (reference behavior: Delta's
  * versioned commits, `3(1)_Gold_dim_model.py:163-176`, re-expressed
  * over plain parquet + atomic file creation).
  *
  * Layout:
  * {{{
  *   table/_claims/N        claim marker — atomically created, never
  *                          overwritten; the ledger of attempted commits
  *   table/_gen/N/…parquet  generation data, renamed in AFTER the claim
  *   table/_staging/UUID    writer scratch, invisible to readers
  * }}}
  *
  * Commit protocol (optimistic concurrency):
  *  1. write the full dataset to a private `_staging/UUID` dir;
  *  2. claim the next generation number by `create(_claims/N,
  *     overwrite=false)` — an ATOMIC filesystem primitive (HDFS and
  *     object stores with preconditions); exactly one writer wins N,
  *     the loser retries with N+1 — no lost updates, no lock server;
  *  3. rename staging → `_gen/N` (a metadata move: data was already
  *     written once — commit cost is O(1) in data size).
  *
  * A version is VISIBLE iff its claim AND its data dir both exist, so
  * every failure mode degrades safely: a crash before the claim leaves
  * invisible staging; a crash between claim and rename leaves an
  * orphan claim that readers skip and later writers step over. Old
  * generations are immutable — a reader that resolved version N keeps
  * a consistent snapshot no matter how many commits land meanwhile
  * (the isolation rename-swap could not give).
  *
  * Scale notes: resolving `latest` lists one directory of small marker
  * files (driver-side metadata, O(versions) — vacuum keeps it short);
  * data files are never copied or rewritten by a commit, only renamed.
  */
final class VersionedTable(val spark: SparkSession, val basePath: String) {

  private val base = new Path(basePath)
  private val claimsDir = new Path(base, "_claims")
  private val genDir = new Path(base, "_gen")
  private val stagingDir = new Path(base, "_staging")
  private val modePath = new Path(base, "_mode")
  private val vacuumedPath = new Path(base, "_vacuumed")
  /** The watermark's swap: `_vacuumed.new` over `_vacuumed`. */
  private val markSwap = Commit.Swap(Some(new Path(base, "_vacuumed.new")),
    vacuumedPath, new Path(base, "_vacuumed.old"))

  private def fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Table mode, recorded at the first mutation and immutable after:
    *
    *  - `overwrite` — each generation is a full snapshot ([[overwrite]]
    *    / [[overwriteIf]]); latest wins, [[compact]]/[[vacuum]] apply.
    *  - `append` — generations are [[commitBatch]] increments;
    *    consumers read the UNION ([[readAll]]). Compaction would
    *    duplicate the latest generation's rows in that union and
    *    vacuum would silently delete appended batches, so both refuse.
    *  - `cdc` — generations are batch-id-keyed snapshots
    *    ([[graft.streaming.StreamingCdc]]); latest wins like
    *    `overwrite`, but generation numbers belong to the STREAM's
    *    epoch sequence, so [[overwrite]]/[[compact]] (which claim
    *    max+1) would collide with a future batch id and make
    *    [[commitBatch]] silently skip that batch — they refuse;
    *    [[vacuum]] (snapshot retention) is fine.
    *
    * Tables written before mode markers existed have None and stay
    * unguarded (their first mutation under this version records one).
    */
  def modeMarker: Option[String] = readSmallFile(modePath)

  /** Read a whole (small) marker file. A single InputStream.read may
    * legally return fewer bytes than available — loop to EOF, or a
    * short first read would yield a truncated marker that misfires
    * every guard on a healthy table.
    */
  private def readSmallFile(p: Path): Option[String] = {
    val f = fs
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](64)
        var n = in.read(buf)
        while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
        val s = out.toString("UTF-8").trim
        if (s.isEmpty) None else Some(s)
      } finally in.close()
    }
  }

  private def ensureMode(mode: String): Unit = {
    def check(m: String): Unit = require(m == mode,
      s"table at $basePath is '$m'-mode; '$mode' writes would corrupt " +
        "its read/retention contract (see modeMarker scaladoc)")
    modeMarker match {
      case Some(m) => check(m)
      case None =>
        fs.mkdirs(base)
        val won =
          try { val o = fs.create(modePath, false)
                o.write(mode.getBytes("UTF-8")); o.close(); true }
          catch {
            case e: java.io.IOException =>
              // only a LOST RACE (marker now exists) may be swallowed —
              // a genuine IO failure must surface, or the guard is
              // silently disabled for the table's whole life
              if (!fs.exists(modePath)) throw e
              false
          }
        if (!won) modeMarker.foreach(check) // lost the creation race
    }
  }

  private def genPath(n: Long) = new Path(genDir, f"$n%06d")
  private def claimPath(n: Long) = new Path(claimsDir, f"$n%06d")

  private def listNumbers(dir: Path): Seq[Long] = {
    val f = fs
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .flatMap(st => scala.util.Try(st.getPath.getName.toLong).toOption)
      .sorted
  }

  /** Committed (claim + data both present) versions, ascending.
    * Versions at or below the vacuum watermark are RETIRED — hidden
    * even if their files still exist (the crash window of
    * [[compactAppend]]'s cleanup, where retired generations' rows
    * already live inside the squashed generation and counting both
    * would duplicate them).
    */
  def versions: Seq[Long] = {
    val f = fs
    val floor = vacuumedWatermark.getOrElse(-1L)
    listNumbers(claimsDir).filter(n => n > floor && f.exists(genPath(n)))
  }

  def latestVersion: Option[Long] = versions.lastOption

  def exists: Boolean = latestVersion.isDefined

  /** Snapshot read of the latest committed version. */
  def read(): DataFrame = readVersion(latestVersion.getOrElse(
    throw new IllegalStateException(s"no committed version at $basePath")))

  /** Time travel: read exactly version `n` (immutable until vacuumed). */
  def readVersion(n: Long): DataFrame = {
    require(fs.exists(claimPath(n)) && fs.exists(genPath(n)),
      s"version $n is not committed at $basePath")
    spark.read.parquet(genPath(resolveVersion(n)).toString)
  }

  /** A [[restore]]d generation is a one-line REDIRECT FILE at the
    * generation path (instead of a data directory) naming the version
    * whose files it re-exposes. None for a normal data generation.
    */
  private def redirectTarget(n: Long): Option[Long] = {
    val p = genPath(n)
    val f = fs
    if (!f.exists(p) || f.getFileStatus(p).isDirectory) None
    else readSmallFile(p).flatMap(s => scala.util.Try(s.trim.toLong).toOption)
  }

  /** The version whose DATA directory backs version `n` — `n` itself
    * for a normal generation, the redirect's target for a restored
    * one. [[restore]] resolves before writing, so redirects never
    * chain: one hop is always enough.
    */
  def resolveVersion(n: Long): Long = redirectTarget(n).getOrElse(n)

  /** RESTORE: make version `toVersion`'s content the LATEST, as a new
    * commit — Delta's `RESTORE TABLE ... TO VERSION AS OF`, with the
    * same metadata-only cost. The new generation is a redirect file
    * naming `toVersion`'s data directory; nothing is copied, so
    * restoring a 100 TB snapshot is one claim + one one-line file, not
    * a rewrite. History is preserved (the bad versions stay readable
    * for forensics until vacuumed), and the commit races like any
    * other: claim, then rename the staged marker in.
    *
    * [[vacuum]] knows: a redirect's target is protected for as long as
    * any KEPT version points at it, then retires normally once the
    * redirect itself is vacuumed away.
    */
  def restore(toVersion: Long): Long = {
    ensureMode("overwrite")
    require(fs.exists(claimPath(toVersion)) && fs.exists(genPath(toVersion)),
      s"version $toVersion is not committed at $basePath")
    val target = resolveVersion(toVersion)
    val f = fs
    f.mkdirs(claimsDir); f.mkdirs(genDir); f.mkdirs(stagingDir)
    val staging = new Path(stagingDir,
      "." + java.util.UUID.randomUUID().toString)
    val out = f.create(staging, true)
    out.write(target.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    try claimNext(staging) finally if (f.exists(staging)) f.delete(staging, false)
  }

  /** Claim the lowest free version and rename `staging` in as it: a lost
    * claim race moves on, a genuine IO failure surfaces. */
  private def claimNext(staging: Path): Long = {
    val f = fs
    var n = listNumbers(claimsDir).lastOption.getOrElse(-1L) + 1L
    def claimed: Boolean =
      try { f.create(claimPath(n), false).close(); true }
      catch {
        case e: java.io.IOException =>
          if (f.exists(claimPath(n))) false else throw e
      }
    while (!claimed) n += 1
    if (!f.rename(staging, genPath(n)))
      throw new java.io.IOException(s"rename $staging -> ${genPath(n)} failed")
    n
  }

  /** Commit `df` as the next generation; returns its version number.
    * Safe under concurrent writers — each commit lands as a distinct
    * version (last claim wins the "latest" title; nothing is lost).
    */
  def overwrite(df: DataFrame): Long = {
    ensureMode("overwrite")
    val f = fs
    f.mkdirs(claimsDir); f.mkdirs(genDir)
    // leading "." in the staging name: if a commit race ever nests a
    // loser's staging inside a committed generation (local-FS rename
    // semantics), Hadoop/Spark's hidden-path filter skips it
    // unconditionally during leaf-file listing — without it, a loser
    // that crashes before its cleanup delete leaves a visible subdir
    // whose part files surface as duplicate rows to readers
    val staging = new Path(stagingDir,
      "." + java.util.UUID.randomUUID().toString)
    df.write.mode("overwrite").parquet(staging.toString)
    // a failed commit must not leave staging garbage
    try claimNext(staging) finally if (f.exists(staging)) f.delete(staging, true)
  }

  /** Exactly-once streaming append: commit `df` as generation
    * `batchId` (the streaming engine's monotonically-replayed epoch).
    * Idempotent by construction — the claim file IS the dedup ledger:
    *
    *  - batch already fully committed (claim + data): returns false,
    *    nothing written — a post-checkpoint replay is a no-op;
    *  - orphan claim without data (crash between claim and rename):
    *    the replay COMPLETES the commit with its own staging copy —
    *    no batch is ever lost to a half-commit;
    *  - two replayers completing the same orphan: rename is atomic,
    *    exactly one wins, the loser discards staging.
    *
    * This is the `foreachBatch` sink contract ("may be re-invoked for
    * the same batchId after recovery") made safe without a
    * transaction coordinator. Append-mode consumers read the UNION of
    * generations via [[readAll]]; `overwrite`-mode tables and
    * streaming tables should not share a directory.
    */
  def commitBatch(batchId: Long, df: DataFrame): Boolean =
    commitBatchAs("append", batchId, df)

  /** [[commitBatch]] with an explicit mode marker — `cdc` callers
    * (snapshot-per-batch, [[graft.streaming.StreamingCdc]]) share the
    * claim-ledger protocol but a different read contract.
    */
  private[graft] def commitBatchAs(mode: String, batchId: Long,
                                   df: DataFrame,
                                   beforeRename: () => Unit = () => ()): Boolean = {
    require(batchId >= 0, s"batchId must be non-negative: $batchId")
    ensureMode(mode)
    val f = fs
    f.mkdirs(claimsDir); f.mkdirs(genDir)
    // a batch at or below the vacuum watermark WAS committed and has
    // been retired — a checkpoint-reset replay must see "already
    // committed", never rebuild a historical snapshot from a base that
    // no longer exists
    if (batchId <= vacuumedWatermark.getOrElse(-1L)) return false
    if (f.exists(claimPath(batchId)) && f.exists(genPath(batchId)))
      return false // fully committed — skip BEFORE paying the write
    // The winner is decided by an OWNERSHIP TOKEN read back after the
    // rename, never by the rename's return value: on Hadoop's local
    // FS, rename(src, dst) with dst an existing directory moves src
    // INSIDE dst and returns true, so two racers completing the same
    // batch could both "win" (observed: RobustnessSpec got
    // Vector(true, true) — a double-commit under a foreachBatch task
    // retry). The `_WRITER` file travels with the data through the
    // rename; whoever's id is at `genPath/_WRITER` afterwards owns
    // the commit, and exactly one writer can (the first rename CREATES
    // genPath; every later rename either fails (HDFS: dst exists) or
    // nests under it (local FS) without touching the winner's marker).
    val writerId = java.util.UUID.randomUUID().toString
    // "."-prefixed like every staging dir: a loser's dir nested inside
    // the winner's generation by the local-FS rename is hidden to
    // parquet leaf listing even if the loser dies before its cleanup
    val staging = new Path(stagingDir, "." + writerId)
    df.write.mode("overwrite").parquet(staging.toString)
    val tok = f.create(new Path(staging, "_WRITER"), true)
    tok.write(writerId.getBytes("UTF-8")); tok.close()
    try {
      try f.create(claimPath(batchId), false).close()
      catch {
        case e: java.io.IOException =>
          if (!f.exists(claimPath(batchId))) throw e
        // claim already present: either a completed commit (data
        // check below) or an orphan we are about to complete
      }
      if (f.exists(genPath(batchId))) false
      else {
        // test seam: lets RobustnessSpec park BOTH racers here (past
        // the exists check, before the rename) and prove the
        // ownership token still picks exactly one winner — the TOCTOU
        // window is otherwise sub-microsecond and untestable
        beforeRename()
        val renamed = f.rename(staging, genPath(batchId))
        val owner = readSmallFile(new Path(genPath(batchId), "_WRITER"))
        if (renamed && owner.contains(writerId)) true // sole committer
        else {
          // lost: another writer published between our exists check
          // and rename. Local-FS semantics may have nested OUR staging
          // inside the winner's dir — remove it so the committed
          // generation holds exactly the winner's files. Even if THIS
          // delete never runs (loser dies here), the "."-prefixed
          // staging name keeps the nested dir hidden from parquet
          // leaf-file listing, so readers still see only the winner's
          // rows.
          val nested = new Path(genPath(batchId), staging.getName)
          if (f.exists(nested)) f.delete(nested, true)
          if (f.exists(genPath(batchId))) false // batch IS committed
          else
            // rename failed and nothing is committed — a genuine IO
            // error; returning false would let the streaming
            // checkpoint advance past a batch that never landed
            throw new java.io.IOException(
              s"commitBatch($batchId): rename $staging -> " +
                s"${genPath(batchId)} failed with no committed data")
        }
      }
    } finally {
      if (f.exists(staging)) f.delete(staging, true)
    }
  }

  /** Append-mode read: the union of ALL committed generations (the
    * content of a [[commitBatch]]-fed streaming table).
    */
  def readAll(): DataFrame = {
    modeMarker.foreach(m => require(m == "append",
      s"readAll on a '$m'-mode table at $basePath would union " +
        "snapshots (duplicating rows); use read() for the latest one"))
    val vs = versions
    require(vs.nonEmpty, s"no committed version at $basePath")
    spark.read.parquet(vs.map(genPath(_).toString): _*)
  }

  /** Append-mode snapshot read: the union of committed generations with
    * id ≤ `n` — the table exactly as it stood once batch `n` landed.
    * Stable no matter how many later batches commit, which is what lets
    * a replayed incremental job compare against the same corpus state
    * its original run saw ([[graft.operators.Dedup.incrementalNearDups]]).
    */
  def readThrough(n: Long): DataFrame = {
    modeMarker.foreach(m => require(m == "append",
      s"readThrough on a '$m'-mode table at $basePath would union " +
        "snapshots (duplicating rows); use readVersion for one of them"))
    val vs = versions.filter(_ <= n)
    require(vs.nonEmpty, s"no committed version <= $n at $basePath")
    spark.read.parquet(vs.map(genPath(_).toString): _*)
  }

  /** Rewrite the LATEST snapshot into `ceil(bytes/targetFileBytes)`
    * files as a NEW generation — small-file compaction (the OPTIMIZE
    * maintenance pass) that is atomic by construction: readers on the
    * old version are untouched, time travel still works, and a crash
    * mid-compaction changes nothing. `coalesce` keeps it shuffle-free.
    */
  def compact(targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    val (v, nFiles) = compactionTarget(targetFileBytes)
    overwrite(readVersion(v).coalesce(nFiles))
  }

  /** Small files in the latest snapshot — the compaction-need meter
    * (metadata-only: one directory listing, no data read). */
  def smallFileCount(smallFileBytes: Long = 16L * 1024 * 1024): Int = {
    val v = latestVersion.getOrElse(return 0)
    fs.listStatus(genPath(resolveVersion(v))).toSeq
      .filter(s => s.getPath.getName.endsWith(".parquet") &&
        s.getLen < smallFileBytes)
      .size
  }

  /** Compaction-need policy, the [[graft.operators.Ivf.needsRebuild]]
    * convention: fire when the latest snapshot carries more than
    * `maxSmallFiles` files under `smallFileBytes`. The operational
    * loop is meter → trigger → [[compact]] → meter resets (the
    * compacted generation is size-targeted, so the count drops to
    * ~0); wire it wherever ingestion commits (the same place a Delta
    * pipeline schedules OPTIMIZE). Like the IVF drift policy this is
    * a POLICY, not an automatism — maintenance must run quiesced or
    * with retrying readers (see [[compactAppend]]'s visibility note),
    * so the engine reports, the operator schedules.
    */
  def needsCompaction(smallFileBytes: Long = 16L * 1024 * 1024,
                      maxSmallFiles: Int = 8): Boolean =
    smallFileCount(smallFileBytes) > maxSmallFiles

  /** OPTIMIZE ZORDER BY: rewrite the latest snapshot z-order-clustered
    * on `cols` into size-targeted files as a NEW generation — the
    * maintenance pass that makes subsequent multi-column range scans
    * skip files ([[Layout.zOrderedDf]] is the clustering plan). Same
    * atomicity as [[compact]]: readers on the old version are
    * untouched, a crash mid-pass changes nothing.
    */
  def compactZOrdered(cols: Seq[org.apache.spark.sql.Column],
                      targetFileBytes: Long = 128L * 1024 * 1024,
                      bits: Int = 16): Long = {
    require(cols.nonEmpty, "compactZOrdered needs at least one column")
    val (v, nFiles) = compactionTarget(targetFileBytes)
    overwrite(Layout.zOrderedDf(readVersion(v), nFiles, bits, cols: _*))
  }

  private def compactionTarget(targetFileBytes: Long): (Long, Int) = {
    modeMarker.foreach(m => require(m == "overwrite",
      s"compact on a '$m'-mode table at $basePath: 'append' would " +
        "duplicate the latest generation in readAll(), 'cdc' would " +
        "claim a generation number a future stream batch needs"))
    val v = latestVersion.getOrElse(
      throw new IllegalStateException(s"nothing to compact at $basePath"))
    // a restored latest is a redirect FILE — size the target's data dir
    val bytes = fs.listStatus(genPath(resolveVersion(v))).toSeq
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    (v, math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt)
  }

  /** Append-mode maintenance: fold every generation ≤ `upTo` into ONE
    * rewritten generation at id `upTo`, sized to `targetFileBytes`
    * files, optionally dropping rows via `keep` (signature retirement:
    * pass an anti-join on deleted ids). This is the LSM squash an
    * unbounded [[commitBatch]] ledger needs — at daily increments the
    * generation list is thousands of small files within a quarter, and
    * every [[readAll]]/[[readThrough]] pays an open per file.
    *
    * Semantics after the squash:
    *  - `readAll()` is unchanged (minus `keep`-dropped rows): the
    *    squashed generation holds exactly the union of the folded ones;
    *  - batches ≤ `upTo − 1` are RETIRED: the vacuum watermark
    *    advances, so a checkpoint-reset replay of one reads "already
    *    committed" ([[commitBatch]] returns false) rather than
    *    re-landing rows the squash already holds;
    *  - `readThrough(n)` for n ≥ `upTo` still answers exactly;
    *    n < `upTo` now fails loudly — same contract as vacuum
    *    breaking old time travel. Pick `upTo` at or below the
    *    consumers' replay horizon (the streaming checkpoint's
    *    committed epoch), exactly like choosing a Delta vacuum
    *    retention.
    *
    * Crash safety: the squash builds in a `.new` sibling and commits
    * with the advanced watermark in ONE journaled [[Commit]] swap (the
    * live generation moves aside to `.old`, the `.new` moves in), THEN
    * the retired generations delete — a crash at any point is finished
    * or undone by [[recoverCompaction]] (run automatically at the next
    * compactAppend; run it explicitly after a crash before trusting
    * reads). Concurrent APPENDS of batches > `upTo` are safe
    * throughout; concurrent readers can transiently see the table
    * without the squashing generation (between the two renames) —
    * run maintenance quiesced or retry the read, as with any
    * plain-filesystem table format.
    */
  def compactAppend(upTo: Long,
                    targetFileBytes: Long = 128L * 1024 * 1024,
                    keep: Option[DataFrame => DataFrame] = None): Long = {
    modeMarker.foreach(m => require(m == "append",
      s"compactAppend on a '$m'-mode table at $basePath: use compact/" +
        "vacuum — squashing snapshots would union duplicate rows"))
    recoverCompaction()
    val f = fs
    val vs = versions
    require(vs.contains(upTo), s"version $upTo is not committed at $basePath")
    val below = vs.filter(_ < upTo)
    if (below.isEmpty && keep.isEmpty) return upTo // nothing to fold
    val union = keep.fold(readThrough(upTo))(_(readThrough(upTo)))
    val bytes = (below :+ upTo).map(n => f.listStatus(genPath(n)).toSeq
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum).sum
    val nFiles = math.max(1L,
      (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    union.coalesce(nFiles).write.mode("overwrite")
      .parquet(genAux(upTo, "new").toString)
    Commit.swap(f, squashSwap(upTo) +: stageWatermark(upTo - 1).toSeq,
      Some(genAux(upTo, "commit")))
    dropRetired()
    upTo
  }

  private def genAux(n: Long, suffix: String) =
    new Path(genDir, f"$n%06d.$suffix")

  private def squashSwap(n: Long) =
    Commit.Swap(Some(genAux(n, "new")), genPath(n), genAux(n, "old"))

  /** Complete or undo a [[compactAppend]] interrupted at any point:
    * [[Commit.recover]] on each squash its `.new`/`.old`/`.commit`
    * siblings name (one that published without a journal still advances
    * the watermark) and on the watermark, then drop the retired
    * generations. Idempotent; one listing when there is nothing to do.
    */
  def recoverCompaction(): Unit = {
    val f = fs
    if (!f.exists(genDir)) return
    val squashes = f.listStatus(genDir).toSeq.map(_.getPath.getName)
      .flatMap(name => Seq(".new", ".old", ".commit").find(name.endsWith)
        .flatMap(suf => scala.util.Try(name.stripSuffix(suf).toLong).toOption))
      .distinct
    squashes.foreach { n =>
      val published = f.exists(genAux(n, "old"))
      Commit.recover(f, Seq(squashSwap(n)), Some(genAux(n, "commit")))
      if (published) advanceVacuumWatermark(n - 1)
    }
    // after the journals: a squash's journal may name `_vacuumed.new`
    recoverWatermark()
    if (squashes.nonEmpty) dropRetired()
  }

  /** Drop the retired claims and generations (at or below the watermark). */
  private def dropRetired(): Unit = {
    val f = fs
    val floor = vacuumedWatermark.getOrElse(-1L)
    listNumbers(claimsDir).filter(_ <= floor).foreach { m =>
      f.delete(genPath(m), true)
      f.delete(claimPath(m), false)
    }
  }

  /** Drop all but the newest `keepLast` committed versions (plus any
    * orphan claims below the kept range and leftover staging). Returns
    * the dropped version numbers. Readers still scanning a dropped
    * version fail — retention is the caller's contract, as in every
    * snapshot store.
    */
  def vacuum(keepLast: Int = 1, stagingOlderThanMs: Long = 3600000L): Seq[Long] = {
    require(keepLast >= 1, "must keep at least one version")
    recoverWatermark()
    modeMarker.foreach(m => require(m != "append",
      s"vacuum on the 'append'-mode table at $basePath would silently " +
        "delete appended batches from the readAll() union"))
    val f = fs
    // staging dirs are private to their writer until the commit rename;
    // only AGED ones (crashed writers) are garbage. "Age" = the newest
    // mtime among the dir and its direct children — a live long write
    // keeps touching its task files, a dead one goes quiet. The
    // threshold must still exceed any plausible single-task stall;
    // size it to the deployment's longest write, not wall-clock taste.
    if (f.exists(stagingDir)) {
      val cutoff = System.currentTimeMillis() - stagingOlderThanMs
      f.listStatus(stagingDir).foreach { st =>
        val lastTouched =
          try (st.getModificationTime +:
            f.listStatus(st.getPath).toSeq.map(_.getModificationTime)).max
          catch { case _: java.io.IOException => st.getModificationTime }
        if (lastTouched < cutoff) f.delete(st.getPath, true)
      }
    }
    val keep = versions.takeRight(keepLast).toSet
    // nothing committed ⇒ no claim is provably garbage: it may belong
    // to an IN-FLIGHT first commit (between its claim and rename) —
    // deleting it would orphan that writer's data dir
    if (keep.isEmpty) return Seq.empty
    // a kept RESTORE generation is a redirect file — the data dir it
    // names must survive with it, however old; once the redirect
    // itself falls out of the kept window the target retires normally
    val protectedTargets = keep.flatMap(redirectTarget)
    val dropped = listNumbers(claimsDir).filterNot(keep.contains)
      .filter(n => keep.forall(_ > n)) // never drop claims above the kept set
      .filterNot(protectedTargets.contains)
    // cdc generations ARE stream epochs: record the retirement BEFORE
    // deleting the claims, so a checkpoint-reset replay of a vacuumed
    // batch reads "already committed" instead of finding nothing and
    // rebuilding a wrong historical snapshot from a vanished base
    if (dropped.nonEmpty && modeMarker.contains("cdc"))
      advanceVacuumWatermark(dropped.max)
    dropped.foreach { n =>
      f.delete(genPath(n), true)
      f.delete(claimPath(n), false)
    }
    dropped
  }

  /** Highest version retired by [[vacuum]] on a `cdc` table — batch
    * ids at or below it are treated as already committed forever.
    */
  def vacuumedWatermark: Option[Long] =
    readSmallFile(vacuumedPath).flatMap(s =>
      scala.util.Try(s.trim.toLong).toOption)

  private def recoverWatermark(): Unit =
    Commit.recover(fs, Seq(markSwap), None)

  private def advanceVacuumWatermark(v: Long): Unit =
    stageWatermark(v).foreach(w => Commit.swap(fs, Seq(w), None))

  /** [[markSwap]] staged with watermark `v`, None when it is already
    * there. It advances BEFORE any claim/gen deletion, so a crash on
    * either side of it leaves a complete ledger. */
  private def stageWatermark(v: Long): Option[Commit.Swap] =
    if (v <= vacuumedWatermark.getOrElse(-1L)) None
    else {
      val o = fs.create(markSwap.staged.get, true)
      o.write(v.toString.getBytes("UTF-8")); o.close()
      Some(markSwap)
    }

  /** Commit `df` as version `expectedBase + 1` ONLY — the optimistic-
    * concurrency primitive for read-modify-write callers (claim taken ⇒
    * someone committed since `expectedBase` was read ⇒ the caller's
    * merge is stale): returns None so the caller can re-read and retry,
    * instead of silently landing a merge that misses the interleaved
    * commit. `expectedBase = None` claims version 0 (table creation).
    */
  def overwriteIf(df: DataFrame, expectedBase: Option[Long]): Option[Long] = {
    ensureMode("overwrite")
    val f = fs
    f.mkdirs(claimsDir); f.mkdirs(genDir)
    val n = expectedBase.map(_ + 1L).getOrElse(0L)
    // claim + data ⇒ a real commit landed since expectedBase was read:
    // the caller's merge is stale. Claim WITHOUT data is an orphan —
    // its writer died pre-rename and its private staging is gone, so
    // its delta never existed; ADOPTING the claim (renaming our data
    // in) is both correct and the only thing that un-wedges the table
    // (nothing else may delete a claim above the committed range).
    if (f.exists(claimPath(n)) && f.exists(genPath(n))) return None
    val staging = new Path(stagingDir,
      "." + java.util.UUID.randomUUID().toString)
    df.write.mode("overwrite").parquet(staging.toString)
    try {
      try f.create(claimPath(n), false).close()
      catch {
        case e: java.io.IOException =>
          if (!f.exists(claimPath(n))) throw e
          // claim appeared meanwhile: committed ⇒ stale; orphan ⇒ race
          // to complete it below
          if (f.exists(genPath(n))) return None
      }
      if (f.rename(staging, genPath(n))) Some(n)
      else if (f.exists(genPath(n))) None // lost the completion race
      else throw new java.io.IOException(
        s"overwriteIf: rename $staging -> ${genPath(n)} failed " +
          "with no committed data")
    } finally {
      if (f.exists(staging)) f.delete(staging, true)
    }
  }

  /** DESCRIBE HISTORY: one row per live version — `(version, kind,
    * target, n_files, bytes)` where `kind` is `data` or `restore` and
    * `target` is the version whose data directory backs it (itself
    * for a data generation). Driver-side metadata listing,
    * O(versions × files-per-generation) namenode calls and zero data
    * reads — the same cost class as resolving `latest`; vacuum keeps
    * the version list short.
    */
  def history(): DataFrame = {
    import spark.implicits._
    val f = fs
    versions.map { n =>
      val target = resolveVersion(n)
      val kind = if (target == n) "data" else "restore"
      val files = f.listStatus(genPath(target)).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
      (n, kind, target, files.length, files.map(_.getLen).sum)
    }.toDF("version", "kind", "target", "n_files", "bytes")
  }

  /** Remove the table entirely (tests and rebuild-from-scratch). */
  def destroy(): Unit = fs.delete(base, true)
}
