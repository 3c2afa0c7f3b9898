package graft.engine

import org.apache.spark.sql.{Column, DataFrame}

/** Physical-layout control for scan pruning.
  *
  * Parquet keeps min/max statistics per row group; a filtered scan
  * skips row groups (and with file-level stats, whole files) whose
  * range cannot match. That only pays off if the data is LAID OUT so
  * ranges are narrow — which is a write-time decision:
  * `repartitionByRange` clusters rows by the pruning columns into
  * disjoint file ranges, `sortWithinPartitions` narrows row-group
  * ranges inside each file. At 100 TB this is the difference between
  * "filter on ship date reads 3 files" and "reads all 30,000".
  *
  * (Single-column range layout; a Z-order curve generalizes this to
  * multi-column pruning — the single-column form covers the dominant
  * time-partitioned access pattern.)
  */
object Layout {

  /** Write `df` range-clustered and sorted on `cols` into
    * `numFiles` files with pairwise-disjoint value ranges
    * (LayoutSpec asserts the disjointness from the written files).
    */
  def writeRangeSorted(df: DataFrame, path: String, numFiles: Int,
                       cols: Column*): Unit =
    df.repartitionByRange(numFiles, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode("overwrite").parquet(path)

  /** Multi-column layout: cluster by the Z-order (Morton) value of the
    * given numeric columns, so every file's min/max is narrow in EVERY
    * listed column — filters on any of them prune files/row-groups,
    * where a plain range sort only prunes on its leading column.
    *
    * Each column is min/max-normalized to `bits` bits before
    * interleaving — WITHOUT normalization a wide column's high bits
    * dominate the curve and the narrow columns get no clustering at
    * all (the standard z-order pitfall). The min/max aggregate is one
    * small driver round-trip per write, same category as the
    * reference's max(key) collect.
    */
  def writeZOrdered(df: DataFrame, path: String, numFiles: Int,
                    bits: Int, cols: Column*): Unit =
    zOrderedDf(df, numFiles, bits, cols: _*)
      .write.mode("overwrite").parquet(path)

  /** The z-order clustering PLAN without the sink: `df` range-
    * partitioned and sorted on the interleaved z-value of `cols`
    * (dropped again before return). Shared by [[writeZOrdered]] and
    * [[VersionedTable.compactZOrdered]] so the normalization
    * arithmetic lives once.
    */
  def zOrderedDf(df: DataFrame, numFiles: Int,
                 bits: Int, cols: Column*): DataFrame = {
    import org.apache.spark.sql.functions._
    val stats = df.agg(
      cols.flatMap(c => Seq(min(c).cast("long"), max(c).cast("long"))).head,
      cols.flatMap(c => Seq(min(c).cast("long"), max(c).cast("long"))).tail: _*
    ).head()
    val scale = (1L << bits) - 1
    val normalized = cols.zipWithIndex.map { case (c, i) =>
      // all-null column → no stats; every value normalizes to 0 (nulls
      // are bucket 0 in the z-value anyway)
      val lo = if (stats.isNullAt(2 * i)) 0L else stats.getLong(2 * i)
      val hi = if (stats.isNullAt(2 * i + 1)) lo else stats.getLong(2 * i + 1)
      // (x−lo)·scale overflows int64 once the column range exceeds
      // Long.Max/scale (an epoch-nano span of a few decades already
      // does at bits=16 — ANSI mode would throw, legacy mode would
      // wrap every value into bucket 0), and hi−lo itself can overflow
      // for mixed-sign ranges. The stats are driver-known, so pick the
      // arithmetic per column: fast long ops when they provably can't
      // overflow (the common case — decimal costs ~2× per row),
      // decimal(38,0) otherwise (20-digit range × 5-digit scale fits
      // exactly). Integral `div` keeps the quotient exact either way,
      // where a double division would lose low bits past 2^53.
      val range = (BigInt(hi) - BigInt(lo)).max(BigInt(1))
      if (range <= BigInt(Long.MaxValue / scale))
        call_function("div",
          (c.cast("long") - lit(lo)) * lit(scale), lit(range.toLong))
      else {
        val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
        call_function("div",
          (c.cast("long").cast(dec38) -
            lit(java.math.BigDecimal.valueOf(lo)).cast(dec38)) * lit(scale),
          lit(new java.math.BigDecimal(range.bigInteger)))
      }
    }.map(_.cast("long"))
    val z = graft.functions.NativeExpressions.zorder(bits, normalized: _*)
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }

  // ── File-level data skipping ────────────────────────────────────────

  private def statsPath(tablePath: String): String = tablePath + "__stats"
  /** `staged` over the manifest, the live one moving to `__stats._old`. */
  private def manifestSwap(tablePath: String, staged: Option[org.apache.hadoop.fs.Path]) =
    Commit.Swap(staged, new org.apache.hadoop.fs.Path(statsPath(tablePath)),
      new org.apache.hadoop.fs.Path(statsPath(tablePath) + "._old"))
  private def lockFile(tablePath: String) =
    new org.apache.hadoop.fs.Path(statsPath(tablePath) + "._lock")

  /** Serialize manifest DML per table on a lock file next to the
    * manifest. Acquisition is create-exclusive (atomic on HDFS-like
    * stores; the raw local FS has a check-then-act window inside
    * `create(overwrite=false)`, so ownership is CONFIRMED by reading
    * the writer id back — the same token arbitration
    * [[VersionedTable.commitBatchAs]] uses for its commit rename) with
    * a stale break: a lock older than `staleMs` belongs to a dead
    * writer (a crash never releases it, and there is no heartbeat, so
    * `staleMs` must exceed the longest expected DML — the standard
    * lease tradeoff; a production deployment would renew the lease
    * mid-rewrite). Released on every exit including failure; crashed-
    * writer behavior is exercised separately via the stale break.
    */
  private[graft] def withManifestLock[T](fs: org.apache.hadoop.fs.FileSystem,
                                         tablePath: String,
                                         staleMs: Long = 600000L,
                                         timeoutMs: Long = 120000L)
                                        (body: => T): T = {
    val lock = lockFile(tablePath)
    val id = java.util.UUID.randomUUID().toString
    val deadline = System.currentTimeMillis() + timeoutMs
    var owned = false
    while (!owned) {
      val created = try {
        val out = fs.create(lock, false)
        out.write(id.getBytes("UTF-8")); out.close(); true
      } catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
      owned = created && {
        // confirm by content: if two creators raced through the local-FS
        // exists window, exactly one id survives in the file. The read
        // itself can race the OTHER creator's in-flight write — on a
        // ChecksumFileSystem the data and .crc sidecar replace
        // non-atomically, so the read-back may throw ChecksumException
        // (observed once in the concurrent-delete spec). An unreadable
        // lock is by definition NOT confirmed ours: treat any read
        // failure as contention and retry, never propagate it
        try {
          val in = fs.open(lock)
          val got = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                    finally in.close()
          got == id
        } catch { case _: java.io.IOException => false }
      }
      if (!owned) {
        val st = try Some(fs.getFileStatus(lock))
                 catch { case _: java.io.FileNotFoundException => None }
        st.foreach { s =>
          if (s.getModificationTime < System.currentTimeMillis() - staleMs)
            fs.delete(lock, false) // dead writer's lease expired
        }
        if (System.currentTimeMillis() > deadline)
          throw new java.io.IOException(
            s"manifest DML lock at $lock held past ${timeoutMs}ms " +
              "(live writer, or raise staleMs past the longest DML)")
        Thread.sleep(50)
      }
    }
    try body
    finally fs.delete(lock, false)
  }

  /** Complete (or roll back) a manifest swap a crashed writer left
    * mid-flight. MUST run under the table's manifest lock. The staging
    * is private to the dead writer, so [[Commit.recover]] ROLLS BACK a
    * swap that had not published — always correct, because
    * [[rewriteMatching]] deletes the dirty data files only AFTER a
    * successful swap (the moved-in survivors are unlisted garbage
    * [[vacuumUnlisted]] sweeps). Any `__stats._new.*` staging is then
    * discarded (writers serialize on the lock, so none is live).
    */
  private[graft] def recoverManifest(fs: org.apache.hadoop.fs.FileSystem,
                                     tablePath: String): Unit = {
    val swap = manifestSwap(tablePath, None)
    Commit.recover(fs, Seq(swap), None)
    val parent = swap.live.getParent
    val prefix = swap.live.getName + "._new."
    if (parent != null && fs.exists(parent))
      fs.listStatus(parent)
        .filter(_.getPath.getName.startsWith(prefix))
        .foreach(st => fs.delete(st.getPath, true))
  }

  /** The live manifest as a DataFrame — the one read path every
    * manifest consumer goes through. Fast path (manifest present):
    * one `exists` probe, zero extra I/O. If it is MISSING, a writer
    * died between its two swap renames — take the lock and run
    * [[recoverManifest]] (which rolls the aside back), then read.
    */
  private def statsDf(spark: org.apache.spark.sql.SparkSession,
                      tablePath: String): DataFrame = {
    val statsDir = new org.apache.hadoop.fs.Path(statsPath(tablePath))
    val fs = statsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(statsDir))
      withManifestLock(fs, tablePath)(recoverManifest(fs, tablePath))
    spark.read.parquet(statsPath(tablePath))
  }

  /** Build + persist the per-file min/max manifest over `cols` — the
    * lakehouse data-skipping index (Delta's stats / Iceberg's
    * manifests, re-expressed as a tiny parquet side table). ONE
    * distributed aggregation groups by `input_file_name()`; the
    * manifest has one row per data file, so its size is O(files) and
    * reading it is a driver-scale operation no matter how big the
    * table is. Rebuild after every rewrite (the write paths above are
    * full overwrites, so staleness is all-or-nothing — a stale
    * manifest names files that no longer exist and fails loudly, never
    * silently wrong).
    *
    * The manifest stores file NAMES, not absolute paths, and readers
    * resolve them against the table path they were handed. Absolute
    * `input_file_name()` URIs freeze the BUILD location into the
    * artifact — a table built in a staging directory and renamed into
    * place (the build-then-publish pattern every atomic writer uses,
    * including [[Scratch.ensureAt]]) would carry a manifest full of
    * paths that no longer exist.
    */
  /** The per-file stat row: [min, max] per tracked column PLUS the
    * aggregation-pushdown stats — row count and per-column sum — so
    * COUNT(*)/SUM(col) answer from the manifest alone
    * ([[metadataAgg]]), the Delta metadata-only-count idea extended to
    * sums. Tracked columns must be numeric (a sum over strings has no
    * meaning and would fail the build).
    */
  /** Default Bloom sizing for manifest blooms. The parameters shape
    * the FALSE-POSITIVE rate only (a false positive is one wasted
    * file open, never a wrong row), so a DML rebuild using these
    * defaults on files originally indexed with other parameters is
    * still correct.
    */
  private val BloomExpectedPerFile = 1L << 17
  private val BloomFpp = 0.01

  private def bloomAgg(c: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(BloomExpectedPerFile, BloomFpp)
    val agg = new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(
        org.apache.spark.sql.graftshim.ColumnBridge
          .expression(xxhash64(col(c))),
        org.apache.spark.sql.catalyst.expressions.Literal(
          BloomExpectedPerFile),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
    org.apache.spark.sql.graftshim.ColumnBridge
      .column(agg.toAggregateExpression()).as(s"bloom_$c")
  }

  private def statAggs(cols: Seq[String], bloomCols: Seq[String] = Nil,
                       cntCols: Seq[String] = Nil)
      : Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions._
    (count(lit(1)).as("n_rows") +: cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
        sum(col(c)).as(s"sum_$c")))) ++
      // per-file NON-NULL counts (manifest v4): what COUNT(col) needs
      // that COUNT(*) doesn't — SQL count skips nulls
      cntCols.map(c => count(col(c)).as(s"cnt_$c")) ++
      bloomCols.map(bloomAgg)
  }

  /** `cols` (numeric) get min/max/sum stats; `bloomCols` (long or
    * string) additionally get a per-file Bloom for equality skipping
    * ([[pointRead]]). Blooms live in the SAME manifest row as the
    * range stats, so the DML rewrite path maintains them with the
    * ranges — a table whose Bloom index lives in a side directory
    * goes stale the first time a DELETE moves rows between files.
    */
  def writeFileStats(spark: org.apache.spark.sql.SparkSession,
                     tablePath: String, cols: Seq[String],
                     bloomCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions._
    val aggs = statAggs(cols, bloomCols, cntCols = cols)
    spark.read.parquet(tablePath)
      .groupBy(regexp_replace(input_file_name(), "^.*/", "").as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(statsPath(tablePath))
  }

  /** Metadata-only aggregates: COUNT(*), SUM, MIN, MAX, and (manifest
    * v4) non-null COUNT of every tracked column, answered from the
    * manifest without opening ONE data file — at 100 TB the difference
    * between a catalog lookup and a table scan. Exact by construction:
    * the manifest rows are maintained by the same writers that move
    * data ([[writeFileStats]], [[rewriteMatching]] — DML recomputes
    * stats for rewritten files and carries untouched rows verbatim).
    * Exactness of the derived forms:
    *  - MIN(col) = min over per-file minima; an all-null file has a
    *    null min and the outer min skips it — exactly SQL MIN's
    *    null-skipping (all files all-null → null, = MIN of the table);
    *  - COUNT(col) = Σ per-file non-null counts; served only when the
    *    manifest carries `cnt_` columns (pre-v4 manifests simply omit
    *    the column rather than approximating with n_rows, which counts
    *    nulls).
    */
  def metadataAgg(spark: org.apache.spark.sql.SparkSession,
                  tablePath: String): org.apache.spark.sql.DataFrame =
    metadataAggFrom(statsDf(spark, tablePath))

  /** [[metadataAgg]] over an already-loaded manifest — lets a caller
    * that has read the manifest (the [[readAgg]] front door checks
    * coverage against the same columns) serve the aggregate without
    * a second manifest read.
    */
  private def metadataAggFrom(stats: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val sumCols = stats.columns.filter(_.startsWith("sum_")).toSeq
    val minCols = stats.columns.filter(_.startsWith("min_")).toSeq
    val maxCols = stats.columns.filter(_.startsWith("max_")).toSeq
    val cntCols = stats.columns.filter(_.startsWith("cnt_")).toSeq
    // n_rows / cnt_* are COUNTS: over a zero-row manifest (a table of
    // zero files) SQL's sum() is NULL but the true count is 0 —
    // coalesce so count(*) / count(col) fold to 0, exactly what the
    // full scan of an empty table returns. Data sums and min/max keep
    // NULL: that IS sum/min/max of an empty table.
    val aggs = coalesce(sum(col("n_rows")), lit(0L)).as("n_rows") +:
      (sumCols.map(c => sum(col(c)).as(c)) ++
        minCols.map(c => min(col(c)).as(c)) ++
        maxCols.map(c => max(col(c)).as(c)) ++
        cntCols.map(c => coalesce(sum(col(c)), lit(0L)).as(c)))
    stats.agg(aggs.head, aggs.tail: _*)
  }

  /** Interval read through the manifest: open ONLY the files whose
    * [min, max] intersects [lo, hi], then apply the exact filter to
    * the survivors. A skipped file provably contains no matching row
    * (its range misses the interval; all-null files have null stats
    * and are skipped — BETWEEN excludes nulls anyway), so the result
    * is EXACTLY the full-scan filter. At 100 TB this turns "filter on
    * ship date" from 30,000 file opens into the 3 the layout
    * (writeRangeSorted / writeZOrdered) confined the range to.
    */
  def prunedRead(spark: org.apache.spark.sql.SparkSession,
                 tablePath: String, colName: String,
                 lo: Any, hi: Any): DataFrame = {
    import org.apache.spark.sql.functions._
    val stats = statsDf(spark, tablePath)
    // file list = driver metadata, same category as the planner's own
    // file listing; one row per file by construction. Names resolve
    // against the CURRENT table path (see writeFileStats: the
    // manifest is location-independent by design).
    val files = stats
      .filter(col(s"max_$colName") >= lit(lo) &&
        col(s"min_$colName") <= lit(hi))
      .select(col("file")).collect()
      .map(r => s"$tablePath/${r.getString(0)}")
    val pred = col(colName).between(lit(lo), lit(hi))
    if (files.isEmpty)
      // full-table relation ONLY here (schema for the empty result):
      // building it unconditionally would pay the full O(files)
      // listing the manifest exists to avoid
      spark.read.parquet(tablePath).filter(lit(false))
    else spark.read.parquet(files.toIndexedSeq: _*).filter(pred)
  }

  /** Read the table THROUGH its manifest: exactly the files the
    * manifest lists (the visibility contract [[deleteMatching]]
    * relies on — data files not in the manifest are invisible,
    * whatever else sits in the directory).
    */
  def manifestRead(spark: org.apache.spark.sql.SparkSession,
                   tablePath: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val files = statsDf(spark, tablePath)
      .select(col("file")).collect()
      .map(r => s"$tablePath/${r.getString(0)}")
    require(files.nonEmpty, s"empty manifest at ${statsPath(tablePath)}")
    spark.read.parquet(files.toIndexedSeq: _*)
  }

  /** Targeted DELETE through the manifest — the GDPR/retention
    * rewrite at lakehouse scale: only the files whose [min, max]
    * intersects the doomed interval are rewritten; every other file
    * is untouched bytes (at 100 TB with a range-clustered layout
    * that is 3 files out of 30,000, not a table rewrite). Returns
    * (rewritten, untouched) file counts.
    *
    * Protocol (manifest = the visibility pointer; the whole DML runs
    * under the per-table manifest lock, so concurrent DML serializes —
    * see [[withManifestLock]]):
    *  1. survivors of the dirty files are written to a staging
    *     sibling, then MOVED into the table dir under fresh names —
    *     invisible to manifest readers until step 2;
    *  2. the manifest is replaced crash-atomically: the new manifest
    *     (untouched files keep their existing rows — their stats
    *     cannot have changed — new files get freshly aggregated rows;
    *     an incremental update, not a re-scan) is built in a
    *     per-writer staging dir, then published by rename-aside:
    *     `__stats` → `__stats._old`, staging → `__stats`, drop
    *     `._old`. Every intermediate state is recognized and repaired
    *     by [[recoverManifest]]: aside+live → finish; aside without a
    *     live manifest → roll back (always correct, because step 3
    *     has not run yet); stranded staging → discard. Readers
    *     self-heal: [[statsDf]] runs recovery (under the lock) iff
    *     the manifest is missing;
    *  3. the dirty files are deleted — now-unlisted garbage either
    *     way, invisible to [[manifestRead]]/[[prunedRead]] consumers.
    * A crash anywhere leaves either the OLD table or the NEW table
    * (plus inert unlisted files [[vacuumUnlisted]] sweeps) — never a
    * manifest-less table. Plain `spark.read.parquet(dir)` readers do
    * NOT get this isolation (they would see unlisted files) — a table
    * maintained this way is read through its manifest, period.
    */
  def deleteMatching(spark: org.apache.spark.sql.SparkSession,
                     tablePath: String, colName: String,
                     lo: Any, hi: Any): (Long, Long) = {
    import org.apache.spark.sql.functions._
    // SQL DELETE WHERE col BETWEEN lo AND hi: a NULL key makes the
    // predicate UNKNOWN, so the row is NOT deleted. A bare
    // !between(...) is also NULL for NULL keys, which would drop
    // NULL-keyed rows that happen to live in dirty files while
    // identical rows in untouched files survive — placement-dependent
    // semantics. coalesce pins NULL-keyed rows as survivors everywhere.
    rewriteMatching(spark, tablePath, colName, lo, hi,
      _.filter(!coalesce(col(colName).between(lit(lo), lit(hi)), lit(false))))
  }

  /** Copy-on-write UPDATE through the manifest — [[deleteMatching]]'s
    * file-pruned protocol with an arbitrary rewrite of the dirty
    * files' content (the caller's `rewrite` sees exactly those files'
    * rows and returns their replacement; rows outside the interval
    * pass through it too, so a row-level update writes
    * `when(matching, new).otherwise(old)`). Untouched files stay
    * untouched bytes; same crash/visibility contract.
    */
  def updateMatching(spark: org.apache.spark.sql.SparkSession,
                     tablePath: String, colName: String,
                     lo: Any, hi: Any)
                    (rewrite: DataFrame => DataFrame): (Long, Long) =
    rewriteMatching(spark, tablePath, colName, lo, hi, rewrite)

  private def rewriteMatching(spark: org.apache.spark.sql.SparkSession,
                              tablePath: String, colName: String,
                              lo: Any, hi: Any,
                              rewrite: DataFrame => DataFrame): (Long, Long) = {
    import org.apache.spark.sql.functions._
    val hadoopPath = new org.apache.hadoop.fs.Path(tablePath)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    withManifestLock(fs, tablePath) {
      // heal whatever a dead predecessor left (we hold the lock, so any
      // aside/staging sibling is provably abandoned)
      recoverManifest(fs, tablePath)
      val stats = spark.read.parquet(statsPath(tablePath))
      val dirtyPred = col(s"max_$colName") >= lit(lo) &&
        col(s"min_$colName") <= lit(hi)
      val dirty = stats.filter(dirtyPred)
        .select(col("file")).collect().map(_.getString(0))
      // an ALL-NULL-keyed file has null min/max, so dirtyPred is NULL
      // for it: it can never be dirty (no key in range), but a bare
      // !dirtyPred would ALSO exclude it from the carried-over rows —
      // silently dropping the whole file from the manifest. Pin it
      // untouched.
      val untouched = stats.filter(!coalesce(dirtyPred, lit(false)))
      val nUntouched = untouched.count()
      if (dirty.isEmpty) (0L, nUntouched)
      else {
        // 1. rewritten content of the dirty files → staging, then move
        //    in under fresh names
        val staging = new org.apache.hadoop.fs.Path(
          tablePath + "__rewrite_" +
            java.util.UUID.randomUUID().toString.take(8))
        rewrite(
          spark.read.parquet(
            dirty.map(n => s"$tablePath/$n").toIndexedSeq: _*))
          .write.parquet(staging.toString)
        val moved = fs.listStatus(staging)
          .filter(_.getPath.getName.endsWith(".parquet"))
          .map { st =>
            val name =
              s"rw-${java.util.UUID.randomUUID().toString.take(8)}-" +
                st.getPath.getName
            if (!fs.rename(st.getPath, new org.apache.hadoop.fs.Path(
              hadoopPath, name)))
              throw new java.io.IOException(
                s"deleteMatching: could not move ${st.getPath} into " +
                  tablePath)
            name
          }
        fs.delete(staging, true)

        // 2. crash-atomic manifest swap (stats of NEW files only;
        //    untouched rows carried over verbatim). Build in a
        //    per-writer staging dir, publish by Commit's rename-aside
        //    swap — never delete the live manifest before its
        //    replacement is in place (see recoverManifest for the
        //    repair of every intermediate state).
        val cols = stats.columns.filter(_.startsWith("min_"))
          .map(_.stripPrefix("min_"))
        val bloomCols = stats.columns.filter(_.startsWith("bloom_"))
          .map(_.stripPrefix("bloom_"))
        // cnt_ columns are derived from the EXISTING manifest, not the
        // current writeFileStats defaults — a pre-v4 manifest rebuilds
        // without them (no mixed null/exact column), a v4 manifest
        // keeps its non-null counts exact through the rewrite
        val cntCols = stats.columns.filter(_.startsWith("cnt_"))
          .map(_.stripPrefix("cnt_"))
        val newRows =
          if (moved.isEmpty) untouched
          else {
            val aggs = statAggs(cols.toSeq, bloomCols.toSeq, cntCols.toSeq)
            untouched.unionByName(
              spark.read.parquet(
                moved.map(n => s"$tablePath/$n").toIndexedSeq: _*)
                .groupBy(regexp_replace(input_file_name(), "^.*/", "")
                  .as("file"))
                .agg(aggs.head, aggs.tail: _*))
          }
        val statsStaging = new org.apache.hadoop.fs.Path(
          statsPath(tablePath) + "._new." +
            java.util.UUID.randomUUID().toString.take(8))
        newRows.coalesce(1).write.mode("overwrite")
          .parquet(statsStaging.toString)
        Commit.swap(fs, Seq(manifestSwap(tablePath, Some(statsStaging))), None)

        // 3. dirty files are unlisted garbage now
        dirty.foreach(n =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$tablePath/$n"), false))
        (dirty.length.toLong, nUntouched)
      }
    }
  }

  /** Delete AGED data files the manifest does not list — the cleanup
    * sweep for [[deleteMatching]]/[[updateMatching]] crash leftovers
    * (a crash after the manifest swap leaves the replaced files
    * unlisted; a crash before it leaves the moved-in survivors
    * unlisted — both invisible to manifest readers, both garbage).
    * Only files older than `olderThanMs` go: a FRESH unlisted file
    * may be a concurrent rewrite's staging mid-publish (same age
    * heuristic as [[VersionedTable.vacuum]]'s staging sweep). Returns
    * the deleted names.
    */
  def vacuumUnlisted(spark: org.apache.spark.sql.SparkSession,
                     tablePath: String,
                     olderThanMs: Long = 3600000L): Seq[String] = {
    val dir = new org.apache.hadoop.fs.Path(tablePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed = statsDf(spark, tablePath)
      .select(org.apache.spark.sql.functions.col("file"))
      .collect().map(_.getString(0)).toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    fs.listStatus(dir).toSeq
      .filter { st =>
        val n = st.getPath.getName
        n.endsWith(".parquet") && !listed(n) &&
          st.getModificationTime < cutoff
      }
      .map { st => fs.delete(st.getPath, false); st.getPath.getName }
  }

  /** How many files [[prunedRead]] would open for the interval —
    * the observability hook LayoutExtensionsSpec pins pruning with.
    */
  def filesForInterval(spark: org.apache.spark.sql.SparkSession,
                       tablePath: String, colName: String,
                       lo: Any, hi: Any): (Long, Long) = {
    import org.apache.spark.sql.functions._
    val stats = statsDf(spark, tablePath)
    val total = stats.count()
    val kept = stats.filter(col(s"max_$colName") >= lit(lo) &&
      col(s"min_$colName") <= lit(hi)).count()
    (kept, total)
  }

  // ── Bloom-filter equality skipping ─────────────────────────────────
  //
  // The skipping companion to the min/max manifest: range stats prune
  // interval scans, but a point lookup on a HASH-distributed key
  // (user id, order key) intersects every file's range and prunes
  // nothing. A per-file Bloom answers "might this file contain k?"
  // instead, so the lookup opens ~1 file out of 30,000 with
  // fpp-bounded false opens. Built Spark-native in ONE pass:
  // Catalyst's own BloomFilterAggregate (the kernel behind runtime
  // row-filter pushdown) over xxhash64(col), grouped by
  // input_file_name — no per-file driver loop. Blooms are manifest
  // COLUMNS ([[writeFileStats]] `bloomCols`), so the DML rewrite path
  // regenerates them for rewritten files exactly like the ranges.

  /** The driver-side hash matching `xxhash64(col)` for the two
    * supported key types (Spark's XXH64, seed 42).
    *
    * The Bloom was built over `xxhash64` of the column's STORED type,
    * and XXH64 hashes an Int and the equal-valued Long differently
    * (`hashInt` vs `hashLong`). So the probe value must be coerced to
    * the column's Catalyst type BEFORE hashing — probing an
    * IntegerType column with a Long would otherwise prune every file
    * and silently return zero rows (a false NEGATIVE, breaking the
    * "false positive = wasted open, never a wrong row" contract).
    * Incompatible probe types throw instead of returning empty.
    */
  private[graft] def bloomHashTyped(dt: org.apache.spark.sql.types.DataType,
                                    value: Any): Long = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.expressions.{XXH64 => xx}
    def bad(): Nothing = throw new IllegalArgumentException(
      s"bloom probe ${value} (${value.getClass.getSimpleName}) " +
        s"incompatible with column type $dt")
    dt match {
      case LongType => value match {
        case l: Long  => xx.hashLong(l, 42L)
        case i: Int   => xx.hashLong(i.toLong, 42L)
        case s: Short => xx.hashLong(s.toLong, 42L)
        case b: Byte  => xx.hashLong(b.toLong, 42L)
        case _        => bad()
      }
      case IntegerType => value match {
        case i: Int               => xx.hashInt(i, 42L)
        case l: Long if l.isValidInt => xx.hashInt(l.toInt, 42L)
        case s: Short             => xx.hashInt(s.toInt, 42L)
        case b: Byte              => xx.hashInt(b.toInt, 42L)
        case _                    => bad()
      }
      case StringType => value match {
        case s: String =>
          val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          xx.hashUnsafeBytes(
            b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
            b.length, 42L)
        case _ => bad()
      }
      case _ => throw new IllegalArgumentException(
        s"bloom key column type unsupported: $dt")
    }
  }

  /** Resolve `colName`'s stored type from the MANIFEST: the
    * `min_<col>` stat column carries the data column's exact type, so
    * the common case costs nothing beyond the manifest the caller
    * already holds — never `spark.read.parquet(tablePath)`, whose
    * O(files) directory listing is exactly what the manifest exists
    * to avoid (a point-lookup loop on a 30k-file table would pay a
    * 30k-entry listing per probe). A bloom-only column without range
    * stats falls back to ONE manifest-listed file's footer.
    */
  private def probeType(spark: org.apache.spark.sql.SparkSession,
                        tablePath: String,
                        stats: org.apache.spark.sql.DataFrame,
                        colName: String)
      : org.apache.spark.sql.types.DataType =
    stats.schema.fields.find(_.name == s"min_$colName").map(_.dataType)
      .getOrElse {
        val f = stats.select(org.apache.spark.sql.functions.col("file"))
          .limit(1).collect()
        require(f.nonEmpty, s"empty manifest at $tablePath")
        spark.read.parquet(s"$tablePath/${f(0).getString(0)}")
          .schema(colName).dataType
      }

  /** Point lookup through the Bloom index: open only the files whose
    * Bloom might contain the key, then apply the exact equality
    * filter. Returns the rows; [[filesForPoint]] reports the pruning
    * ratio for the plan-quality pins.
    */
  def pointRead(spark: org.apache.spark.sql.SparkSession,
                tablePath: String, colName: String,
                value: Any): DataFrame = {
    import org.apache.spark.sql.functions._
    // manifest rows = one small row per file (driver metadata, same
    // category as the planner's file listing); statsDf runs manifest
    // recovery first, so a crashed DML never strands the lookup.
    // ONE manifest read serves the probe-type resolution AND the
    // bloom scan
    val stats = statsDf(spark, tablePath)
    val h = bloomHashTyped(probeType(spark, tablePath, stats, colName),
      value)
    val files = stats
      .select(col("file"), col(s"bloom_$colName"))
      .collect()
      .filter { r =>
        val bf = org.apache.spark.util.sketch.BloomFilter
          .readFrom(r.getAs[Array[Byte]](1))
        bf.mightContainLong(h)
      }
      .map(r => s"$tablePath/${r.getString(0)}")
    if (files.isEmpty)
      spark.read.parquet(tablePath).filter(lit(false))
    else spark.read.parquet(files.toIndexedSeq: _*)
      .filter(col(colName) === lit(value))
  }

  /** (files a point lookup opens, total files) — the skipping
    * effectiveness meter.
    */
  def filesForPoint(spark: org.apache.spark.sql.SparkSession,
                    tablePath: String, colName: String,
                    value: Any): (Long, Long) = {
    val stats = statsDf(spark, tablePath)
    val h = bloomHashTyped(probeType(spark, tablePath, stats, colName),
      value)
    val rows = stats
      .select(org.apache.spark.sql.functions.col(s"bloom_$colName"))
      .collect()
    val kept = rows.count { r =>
      org.apache.spark.util.sketch.BloomFilter
        .readFrom(r.getAs[Array[Byte]](0)).mightContainLong(h)
    }
    (kept.toLong, rows.length.toLong)
  }

  // ── One read front door ────────────────────────────────────────────
  //
  // prunedRead / pointRead / metadataAgg grew up as separate entry
  // points; a user shouldn't have to know which skipping structure the
  // manifest happens to carry. `read` routes a predicate to the best
  // available structure (bloom for equality, min/max ranges for
  // intervals, plain manifest read otherwise) and `readAgg` answers
  // manifest-servable aggregates without opening a data file. Every
  // path goes through [[statsDf]], which runs manifest crash recovery
  // under the table lock first — the front door is also the recovery
  // point.

  /** Predicate language of [[read]]: what the manifest's skipping
    * structures can accelerate. Anything richer belongs in a normal
    * `.filter` on the returned DataFrame — Spark pushes it into the
    * parquet scan anyway; the manifest's job is only choosing which
    * FILES to open.
    */
  sealed trait TablePredicate
  /** `col = value` — bloom-skippable. */
  final case class PointEq(colName: String, value: Any) extends TablePredicate
  /** `col BETWEEN lo AND hi` — min/max-skippable. */
  final case class Interval(colName: String, lo: Any, hi: Any)
      extends TablePredicate

  /** Read the table through its manifest, opening only the files the
    * best available skipping structure keeps:
    *  - [[PointEq]] with a `bloom_<col>` manifest column → Bloom
    *    skipping ([[pointRead]]: ~1 open out of 30k under hash layout);
    *  - [[PointEq]] with only range stats → min/max pruning with
    *    lo = hi = value;
    *  - [[Interval]] with range stats → min/max pruning
    *    ([[prunedRead]]);
    *  - no stats for the column / no predicate → [[manifestRead]]
    *    (+ the exact filter — correct, just unpruned).
    * The exact predicate is always re-applied to the survivors, so
    * the result equals the full-scan filter regardless of the route.
    */
  def read(spark: org.apache.spark.sql.SparkSession, tablePath: String,
           predicate: Option[TablePredicate] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    lazy val statCols = statsDf(spark, tablePath).columns.toSet
    predicate match {
      case None => manifestRead(spark, tablePath)
      case Some(PointEq(c, v)) if statCols(s"bloom_$c") =>
        pointRead(spark, tablePath, c, v)
      case Some(PointEq(c, v)) if statCols(s"min_$c") =>
        prunedRead(spark, tablePath, c, v, v)
      case Some(PointEq(c, v)) =>
        manifestRead(spark, tablePath).filter(col(c) === lit(v))
      case Some(Interval(c, lo, hi)) if statCols(s"min_$c") =>
        prunedRead(spark, tablePath, c, lo, hi)
      case Some(Interval(c, lo, hi)) =>
        manifestRead(spark, tablePath)
          .filter(col(c).between(lit(lo), lit(hi)))
    }
  }

  /** Aggregate through the front door. `aggs` are (function, column)
    * pairs from {count(*), count(col), sum, min, max}; when there is
    * no predicate and EVERY requested aggregate is manifest-servable
    * (the tracked-stat set covers it), the answer comes from
    * [[metadataAgg]] — zero data files opened; otherwise it computes
    * over [[read]] (predicate-pruned). Both routes emit the SAME
    * column names (`n_rows`, `sum_c`, `min_c`, `max_c`, `cnt_c`), so
    * callers can't tell which one served them — except by speed.
    */
  def readAgg(spark: org.apache.spark.sql.SparkSession, tablePath: String,
              aggs: Seq[(String, String)],
              predicate: Option[TablePredicate] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    require(aggs.nonEmpty, "readAgg needs at least one aggregate")
    def outName(f: String, c: String): String = (f, c) match {
      case ("count", "*") => "n_rows"
      case ("count", _)   => s"cnt_$c"
      case ("sum", _)     => s"sum_$c"
      case ("min", _)     => s"min_$c"
      case ("max", _)     => s"max_$c"
      case _ => throw new IllegalArgumentException(
        s"readAgg supports count/sum/min/max, got $f($c)")
    }
    val wanted = aggs.map { case (f, c) => outName(f, c) }
    // ONE manifest read serves the coverage check AND the aggregate
    lazy val stats = statsDf(spark, tablePath)
    val servable = predicate.isEmpty && {
      val statCols = stats.columns.toSet
      wanted.forall(statCols.contains) // n_rows/sum_/min_/max_/cnt_ all
                                       // appear verbatim in the manifest
    }
    if (servable)
      metadataAggFrom(stats)
        .select(wanted.map(col).toIndexedSeq: _*)
    else {
      val base = read(spark, tablePath, predicate)
      val exprs = aggs.map {
        case ("count", "*") => count(lit(1)).as("n_rows")
        case ("count", c)   => count(col(c)).as(s"cnt_$c")
        case ("sum", c)     => sum(col(c)).as(s"sum_$c")
        case ("min", c)     => min(col(c)).as(s"min_$c")
        case ("max", c)     => max(col(c)).as(s"max_$c")
        case (f, c) => throw new IllegalArgumentException(
          s"readAgg supports count/sum/min/max, got $f($c)")
      }
      base.agg(exprs.head, exprs.tail: _*)
    }
  }

  // ── Planner integration ────────────────────────────────────────────
  //
  // [[read]] prunes only for callers who call it; a user who writes
  // plain `SELECT … FROM parquet.`/t` WHERE k = 5` gets a full scan.
  // These hooks serve [[graft.plans.GraftRules.ManifestSkip]], the
  // injected Catalyst rule that rewrites such a Filter-over-scan to
  // the bloom/minmax-pruned file set — the same decision [[read]]
  // makes, surfaced to pure SQL. The hooks must NEVER fail a query:
  // any error means "don't prune" (the unrewritten plan is always
  // correct, just slower).

  /** One extracted skipping opportunity from a Filter conjunct:
    * equality probe, lower bound, or upper bound on a column. Strict
    * bounds are passed as their inclusive relaxation — file pruning
    * keeps a SUPERSET of matching files and the exact predicate still
    * runs, so relaxing a bound never changes results.
    */
  sealed trait PlannerBound { def colName: String }
  final case class BoundEq(colName: String, value: Any) extends PlannerBound
  final case class BoundLo(colName: String, value: Any) extends PlannerBound
  final case class BoundHi(colName: String, value: Any) extends PlannerBound
  /** `col IN (v…)` — a file survives if ANY value could be present
    * (bloom: any probe hits; min/max: any value inside the range).
    */
  final case class BoundIn(colName: String, values: Seq[Any])
      extends PlannerBound

  /** Does `tablePath` carry a manifest? One `exists` probe — the
    * planner's cheap eligibility test, safe on any path.
    */
  def hasManifest(spark: org.apache.spark.sql.SparkSession,
                  tablePath: String): Boolean =
    try {
      val p = new org.apache.hadoop.fs.Path(statsPath(tablePath))
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Manifest file-NAME set, memoized by manifest fingerprint — the
    * planner's consistency probe. A pure-SQL `parquet.`/t`` scan is a
    * DIRECTORY read by the user's own words, so the planner rewrites
    * ([[graft.plans.GraftRules.ManifestSkip]]/`ManifestAgg`) must fire
    * only when the manifest's view EQUALS the directory's file set:
    * the rewrite's own staleness argument ("the manifest fails loudly
    * on a missing file") covers only the deleted-file direction —
    * files appended out-of-band after [[writeFileStats]] would be
    * silently DROPPED from results/aggregates otherwise. Callers
    * compare against the relation's actual `inputFiles` basenames
    * (fresh per optimizer invocation), so a data-dir change is caught
    * even while the manifest fingerprint — and therefore this memo —
    * is unchanged. Basenames suffice: eligibility requires a single
    * unpartitioned root, and names are unique within one directory.
    */
  private val manifestNamesMemo =
    new java.util.LinkedHashMap[String, Option[Set[String]]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Option[Set[String]]]): Boolean =
        size() > 256
    }

  /** Memo key for a manifest's current CONTENT: mtime/count/bytes
    * from [[Scratch.stat]] PLUS a hash of the stats dir's sorted
    * child (name, length) listing. mtime granularity alone can't
    * distinguish two rewrites landing in one granule with identical
    * file count and total size — but a rewrite always changes the
    * part-file names (task UUIDs), so the name hash makes the key
    * content-accurate without reading any data (round-12 ADVICE).
    * One extra listStatus per memo probe, driver-side.
    */
  private[graft] def manifestMemoKey(spark: org.apache.spark.sql.SparkSession,
                              tablePath: String): String = {
    val p = new org.apache.hadoop.fs.Path(statsPath(tablePath))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).map(c => c.getPath.getName + ":" + c.getLen)
          .sorted
      else Array.empty[String]
    var h = -3750763034362895579L // FNV-1a 64 offset basis
    names.foreach { s =>
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
        h ^= (b & 0xffL); h *= 1099511628211L
      }
      h ^= 0x1fL; h *= 1099511628211L // record separator
    }
    tablePath + "§" + Scratch.stat(spark, statsPath(tablePath)) + "§" +
      java.lang.Long.toHexString(h)
  }

  private[graft] def manifestFileNames(
      spark: org.apache.spark.sql.SparkSession,
      tablePath: String): Option[Set[String]] =
    try {
      val key = manifestMemoKey(spark, tablePath)
      manifestNamesMemo.synchronized {
        val hit = manifestNamesMemo.get(key)
        if (hit != null) return hit
      }
      val computed = Some(statsDf(spark, tablePath)
        .select(org.apache.spark.sql.functions.col("file"))
        .collect().map(_.getString(0)).toSet)
      manifestNamesMemo.synchronized { manifestNamesMemo.put(key, computed) }
      computed
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Memo of planner pruning decisions, keyed by (table, bounds,
    * manifest fingerprint). The optimizer runs its rule batches to
    * fixpoint, so an eligible-but-unprunable filter would otherwise
    * pay the manifest read on every batch iteration — and a bench
    * rep re-running the same query would pay it every rep. The
    * fingerprint is [[manifestMemoKey]] ([[Scratch.stat]] of the
    * manifest dir plus a hash of its child names): any DML republish
    * changes it — including a same-mtime-granule rewrite of identical
    * size, which rewrites part-file names — so a stale decision is
    * never served across a table rewrite. Bounded; driver-side only.
    */
  private val plannerMemo =
    new java.util.LinkedHashMap[String, Option[Seq[String]]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Option[Seq[String]]]): Boolean =
        size() > 256
    }

  /** The files a Filter carrying `bounds` needs to open, or None when
    * no skipping structure applies (untracked columns, unusable
    * types, any internal error). ONE manifest read evaluates every
    * bound: min/max conditions filter the stats rows in Spark;
    * bloom probes test the collected per-file filters driver-side.
    * Returned paths are absolute (manifest names resolved against
    * `tablePath`). A column with NULL stats for a bounded column is
    * pruned — correct, because every bound predicate is
    * null-rejecting (an all-null file cannot satisfy `c = v` or a
    * range).
    */
  private[graft] def plannerKeptFiles(spark: org.apache.spark.sql.SparkSession,
                                      tablePath: String,
                                      bounds: Seq[PlannerBound])
      : Option[Seq[String]] =
    try {
      // same content-accurate key as manifestFileNames: the pruning
      // decision must never survive a same-granule same-size rewrite
      val key = manifestMemoKey(spark, tablePath) + "§" +
        bounds.mkString("|")
      plannerMemo.synchronized {
        val hit = plannerMemo.get(key)
        if (hit != null) return hit
      }
      val computed = plannerKeptFilesUncached(spark, tablePath, bounds)
      plannerMemo.synchronized { plannerMemo.put(key, computed) }
      computed
    } catch { case scala.util.control.NonFatal(_) => None }

  private def plannerKeptFilesUncached(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      bounds: Seq[PlannerBound]): Option[Seq[String]] = {
    import org.apache.spark.sql.functions._
    val stats = statsDf(spark, tablePath)
    val statCols = stats.columns.toSet
    // min/max conditions — evaluated inside the (tiny) stats scan;
    // bounds AND together, an IN-list's values OR within the bound
    val rangeConds: Seq[org.apache.spark.sql.Column] = bounds.flatMap {
      case BoundEq(c, v) if statCols(s"min_$c") =>
        Some(col(s"max_$c") >= lit(v) && col(s"min_$c") <= lit(v))
      case BoundLo(c, v) if statCols(s"min_$c") =>
        Some(col(s"max_$c") >= lit(v))
      case BoundHi(c, v) if statCols(s"min_$c") =>
        Some(col(s"min_$c") <= lit(v))
      case BoundIn(c, vs) if statCols(s"min_$c") && !statCols(s"bloom_$c")
          && vs.nonEmpty =>
        Some(vs.map(v => col(s"max_$c") >= lit(v) && col(s"min_$c") <= lit(v))
          .reduce(_ || _))
      case _ => None
    }
    // bloom probes — driver-side over the collected filters; each
    // entry is (bloom column, acceptable hashes): a file survives the
    // entry if ANY hash might be present (1 hash for equality, the
    // value list for IN), and must survive EVERY entry
    val bloomProbes: Seq[(String, Seq[Any])] = bounds.collect {
      case BoundEq(c, v) if statCols(s"bloom_$c") => (c, Seq(v))
      case BoundIn(c, vs) if statCols(s"bloom_$c") && vs.nonEmpty => (c, vs)
    }
    if (rangeConds.isEmpty && bloomProbes.isEmpty) return None
    val hashes = bloomProbes.map { case (c, vs) =>
      val dt = probeType(spark, tablePath, stats, c)
      (s"bloom_$c", vs.map(bloomHashTyped(dt, _)))
    }
    val filtered = rangeConds.foldLeft(stats)((df, c) => df.filter(c))
    val rows = filtered
      .select((col("file") +: hashes.map { case (bc, _) => col(bc) })
        .toIndexedSeq: _*)
      .collect()
    val kept = rows.filter { r =>
      hashes.zipWithIndex.forall { case ((_, hs), i) =>
        val bf = org.apache.spark.util.sketch.BloomFilter
          .readFrom(r.getAs[Array[Byte]](i + 1))
        hs.exists(bf.mightContainLong)
      }
    }.map(r => s"$tablePath/${r.getString(0)}")
    Some(kept.toIndexedSeq)
  }
}
