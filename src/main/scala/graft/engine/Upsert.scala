package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-backed MERGE (SCD Type-1 upsert) — the one genuinely custom
  * execution component of the engine.
  *
  * The reference runs Delta Lake MERGE:
  * `DeltaTable.forPath(...).alias('trg').merge(df.alias('src'), cond)
  *   .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()`
  * (`3(1)_Gold_dim_model.py:163-169` single-key;
  * `4_Gold_fact_sales_table.py:68-74` composite 4-column key).
  *
  * No Delta jars ship with this environment, so we re-derive the same
  * observable semantics from first principles on the public DataFrame
  * API. `whenMatchedUpdateAll + whenNotMatchedInsertAll` with a
  * full-row source decomposes into three key-equi joins:
  *
  *   kept     = target ANTI-JOIN  source ON keys   (rows not touched)
  *   updated  = target.keys INNER-JOIN source      (one source copy
  *              per matched target row — preserves target multiplicity,
  *              exactly Delta's update-each-matched-row behavior when
  *              the merge keys are not unique in the target)
  *   inserted = source ANTI-JOIN  target ON keys
  *   result   = kept ∪ updated ∪ inserted
  *
  * At 100 TB this matters:
  *   - when the incremental source is small (the overwhelmingly common
  *     case: daily delta vs. huge target), AQE runs every join as a
  *     broadcast join — but the target IS shuffled once per MERGE. A
  *     source built by joins carries a size estimate far above the
  *     broadcast threshold, so AQE's initial plan is a sort-merge anti
  *     join, and the target side's shuffle map stage runs before AQE
  *     sees the real source size and switches to a broadcast. The
  *     multiplicity-preserving `updated` join broadcasts the target's
  *     KEY columns (only those). A 1,000-row delta into a 30,000-row
  *     fact shuffles about 1 MB this way (perfbench `sales_cdc`,
  *     `fact.shuffle_bytes`);
  *   - when both sides are large, they are shuffle joins on the merge
  *     keys — the same cost Delta's inner "find touched files" join
  *     pays, without the second rewrite join;
  *   - the unions are free (no shuffle).
  *
  * Like Delta, a source with duplicate keys makes "which source row
  * updates a match" ambiguous — callers should dedup the source first
  * (Delta throws; we keep whichever rows the join produces).
  *
  * Durability: write to `<path>__tmp`, then atomically swap directories
  * via Hadoop rename (single-writer pipeline — same guarantee level the
  * reference actually relies on; Delta's log adds concurrent-writer
  * isolation we don't need).
  *
  * Null-safe key equality (`<=>`) so null keys match like Delta's
  * `=` on nulls does NOT — we intentionally use null-safe semantics so
  * a null-keyed row cannot duplicate forever across runs.
  */
object Upsert {

  /** Fluent handle mirroring `DeltaTable.forPath` (`3(1):165`). */
  def forPath(spark: SparkSession, path: String): UpsertTable =
    new UpsertTable(spark, path)

  /** Name-addressed handle mirroring `DeltaTable.forName`
    * (`4_Gold_fact_sales_table.py:69`): the catalog resolves
    * `catalog.schema.table` to its filesystem location and the merge
    * protocol is [[forPath]]'s — the two reference entry shapes are
    * the same table, addressed two ways.
    */
  def forName(catalog: TableCatalog, name: String): UpsertTable =
    new UpsertTable(catalog.spark, catalog.pathFor(name))

  /** Core merge: source wins on key match; unmatched source rows are
    * inserted; unmatched target rows are kept.
    * Column alignment is BY NAME, case-insensitive (the pipeline mixes
    * `Rev_Per_unit`/`Rev_Per_Unit` — `4_Fact:50` vs `2_Silver:49`).
    *
    * @param uniqueKeyTarget caller-declared invariant: the merge keys
    *        are unique in the target (e.g. SCD surrogate keys). Skips
    *        the multiplicity-preserving update join — the result is
    *        identical under the invariant, with one join instead of
    *        three.
    * @param mergeSchema Delta's automatic schema evolution
    *        (`spark.databricks.delta.schema.autoMerge`): source-only
    *        columns are APPENDED to the target schema; pre-existing
    *        target rows read null there. Without it (default), new
    *        source columns are dropped — exactly Delta's non-evolving
    *        UpdateAll/InsertAll.
    */
  def merge(spark: SparkSession, targetPath: String, source: DataFrame,
            keys: Seq[String], uniqueKeyTarget: Boolean = false,
            mergeSchema: Boolean = false): Unit = {
    require(keys.nonEmpty, "merge requires at least one key column")
    val p = new Path(targetPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // heal a swap that died between its two renames BEFORE the
    // existence check — otherwise the table (alive only in __old)
    // reads as "new" and the increment silently becomes the whole table
    recoverReplace(fs, p)

    if (!fs.exists(p)) {
      source.write.mode("overwrite").parquet(targetPath)
      return
    }

    val existing = ParquetTable.open(spark, targetPath)
    // schema evolution = widen the TARGET with null-typed new columns
    // BEFORE alignment; every join below then works on the evolved
    // schema and kept rows carry nulls in the new columns
    val target =
      if (!mergeSchema) existing
      else source.columns
        .filterNot(c => existing.columns.exists(_.equalsIgnoreCase(c)))
        .foldLeft(existing)((df, c) =>
          df.withColumn(c, lit(null).cast(source.schema(c).dataType)))
    val src = alignByName(source, target)

    val keptCond: Column = keys
      .map(k => target(k) <=> src(k))
      .reduce(_ && _)
    val kept = target.join(src, keptCond, "left_anti")
    val result =
      if (uniqueKeyTarget) kept.unionByName(src)
      else {
        // one updated copy per matched target row (multiplicity kept)
        val targetKeys = target.select(keys.map(col).toIndexedSeq: _*)
        val updCond: Column = keys
          .map(k => targetKeys(k) <=> src(k))
          .reduce(_ && _)
        val updated = targetKeys.join(src, updCond, "inner")
          .select(src.columns.map(src(_)).toIndexedSeq: _*)
        val inserted = src.join(target, keptCond, "left_anti")
        kept.unionByName(updated).unionByName(inserted)
      }

    atomicReplace(spark, targetPath, result)
  }

  /** Apply a CDC changefeed (insert/update/delete rows tagged by an op
    * column) in ONE atomic commit — the `whenMatchedDelete` +
    * `whenMatchedUpdateAll` + `whenNotMatchedInsertAll` Delta clause
    * stack, driven by the op tag:
    *
    *   - op = delete: matched target rows are REMOVED; an unmatched
    *     delete is a no-op (never inserted);
    *   - any other op: upsert (update matched, insert unmatched).
    *
    * Same execution accounting as [[merge]]: the changefeed is the
    * (small) broadcastable side; the target is never shuffled when the
    * feed broadcasts; one rewrite commit.
    */
  def applyChanges(spark: SparkSession, targetPath: String,
                   changes: DataFrame, keys: Seq[String],
                   opCol: String = "op", deleteOp: String = "D",
                   uniqueKeyTarget: Boolean = false): Unit = {
    require(keys.nonEmpty, "applyChanges requires at least one key column")
    val p = new Path(targetPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverReplace(fs, p)
    if (!fs.exists(p)) {
      applyChangesPlan(None, changes, keys, opCol, deleteOp, uniqueKeyTarget)
        .write.mode("overwrite").parquet(targetPath)
      return
    }
    val target = spark.read.parquet(targetPath)
    atomicReplace(spark, targetPath,
      applyChangesPlan(Some(target), changes, keys, opCol, deleteOp,
        uniqueKeyTarget))
  }

  /** The merged-state PLAN for a changefeed applied to an optional
    * target — pure and lazy, shared by the batch path above and the
    * streaming path ([[graft.streaming.StreamingCdc]]), so the CDC
    * merge semantics (null-safe key matching, delete-before-upsert,
    * schema alignment, multiplicity handling) live in exactly one
    * place. `target = None` means the table does not exist yet:
    * deletes against nothing are no-ops.
    */
  private[graft] def applyChangesPlan(target: Option[DataFrame],
                                      changes: DataFrame, keys: Seq[String],
                                      opCol: String, deleteOp: String,
                                      uniqueKeyTarget: Boolean): DataFrame = {
    // null-safe: a NULL op is "any other op" (upsert), not silently
    // dropped — plain =!= would evaluate NULL and exclude the row from
    // BOTH branches
    val upserts = changes.filter(!(col(opCol) <=> deleteOp)).drop(opCol)
    target match {
      case None => upserts
      case Some(t) =>
        val delKeys = changes.filter(col(opCol) === deleteOp)
          .select(keys.map(col).toIndexedSeq: _*).distinct()
        val delCond: Column = keys.map(k => t(k) <=> delKeys(k))
          .reduce(_ && _)
        val survivors = t.join(delKeys, delCond, "left_anti")
        val src = alignByName(upserts, t)
        val keptCond: Column = keys.map(k => survivors(k) <=> src(k))
          .reduce(_ && _)
        val kept = survivors.join(src, keptCond, "left_anti")
        if (uniqueKeyTarget) kept.unionByName(src)
        else {
          // one updated copy per matched target row (multiplicity kept)
          val survivorKeys = survivors.select(keys.map(col).toIndexedSeq: _*)
          val updCond: Column = keys.map(k => survivorKeys(k) <=> src(k))
            .reduce(_ && _)
          val updated = survivorKeys.join(src, updCond, "inner")
            .select(src.columns.map(src(_)).toIndexedSeq: _*)
          val inserted = src.join(survivors, keptCond, "left_anti")
          kept.unionByName(updated).unionByName(inserted)
        }
    }
  }

  /** Change data feed: diff two keyed snapshots into the op-tagged
    * changefeed that replays one into the other — the inverse of
    * [[applyChanges]], and the contract is exactly that round trip:
    * `applyChanges(before, changeFeed(before, after)) ≡ after`
    * (PropertySpec pins it on random data).
    *
    *  - key only in `after`  → I (insert, after's row values)
    *  - key only in `before` → D (delete, BEFORE's row values — what
    *    Delta's change feed emits, so downstream consumers can see
    *    what was removed)
    *  - key in both, any non-key column differing (null-safe) → U
    *  - key in both, identical → no row (unchanged data produces no
    *    change traffic — the property that makes CDC cheaper than
    *    full-snapshot shipping)
    *
    * Keys must be unique per snapshot (snapshot = keyed table state).
    * One full-outer join on the keys; at 100 TB both sides shuffle
    * once on the key — this IS the minimal data movement for a diff
    * of two unordered snapshots.
    */
  def changeFeed(before: DataFrame, after: DataFrame, keys: Seq[String],
                 opCol: String = "op"): DataFrame = {
    require(keys.nonEmpty, "changeFeed requires at least one key column")
    val cols = after.columns.toSeq
    require(before.columns.toSeq.map(_.toLowerCase).sorted ==
      cols.map(_.toLowerCase).sorted,
      "changeFeed requires identical snapshot schemas " +
        "(use merge(mergeSchema=true) semantics upstream for evolution)")
    val nonKeys = cols.filterNot(keys.contains)
    val b = before.select(cols.map(col): _*)
      .withColumn("__b", lit(true)).as("b")
    val a = after.withColumn("__a", lit(true)).as("a")
    val cond: Column = keys.map(k => col(s"b.$k") <=> col(s"a.$k"))
      .reduce(_ && _)
    val joined = b.join(a, cond, "full_outer")
    val changed: Column = nonKeys
      .map(c => !(col(s"b.$c") <=> col(s"a.$c")))
      .foldLeft(lit(false))(_ || _)
    val op = when(col("a.__a").isNull, lit("D"))
      .when(col("b.__b").isNull, lit("I"))
      .when(changed, lit("U"))
    val side = when(col("a.__a").isNull, lit("b")).otherwise(lit("a"))
    joined
      .select(cols.map(c =>
        when(side === "b", col(s"b.$c")).otherwise(col(s"a.$c")).as(c)) :+
        op.as(opCol): _*)
      .filter(col(opCol).isNotNull)
  }

  /** The WEIGHTED form of [[changeFeed]]: every change becomes image
    * rows carrying a ±1 `weight` — delete = (old image, −1), insert =
    * (new image, +1), update = BOTH — the retract-stream / Z-set
    * representation incremental view maintenance consumes
    * ([[graft.operators.IncrementalAgg.updateFromChanges]]): any
    * distributive aggregate over the stream folds with plain weighted
    * addition, updates included, and a key that moves groups retracts
    * from the old group and inserts into the new one with no special
    * casing.
    *
    * Execution shape: ONE null-safe full-outer join on `keys` (same as
    * changeFeed), then a scan-side explode of at most two kept struct
    * images per row — no second join, no window.
    */
  def retractStream(before: DataFrame, after: DataFrame, keys: Seq[String],
                    weightCol: String = "weight"): DataFrame = {
    require(keys.nonEmpty, "retractStream requires at least one key column")
    val cols = after.columns.toSeq
    require(before.columns.toSeq.map(_.toLowerCase).sorted ==
      cols.map(_.toLowerCase).sorted,
      "retractStream requires identical snapshot schemas")
    require(!cols.contains(weightCol),
      s"weight column '$weightCol' collides with a data column")
    val nonKeys = cols.filterNot(keys.contains)
    val b = before.select(cols.map(col): _*)
      .withColumn("__b", lit(true)).as("b")
    val a = after.withColumn("__a", lit(true)).as("a")
    val cond: Column = keys.map(k => col(s"b.$k") <=> col(s"a.$k"))
      .reduce(_ && _)
    val changed: Column = nonKeys
      .map(c => !(col(s"b.$c") <=> col(s"a.$c")))
      .foldLeft(lit(false))(_ || _)
    val isD = col("a.__a").isNull
    val isI = col("b.__b").isNull
    val isU = !isD && !isI && changed
    def image(side: String, w: Int, keep: Column): Column =
      struct(cols.map(c => col(s"$side.$c").as(c)) :+
        lit(w).as(weightCol) :+ keep.as("__keep"): _*)
    b.join(a, cond, "full_outer")
      .select(explode(filter(
        array(image("b", -1, isD || isU), image("a", 1, isI || isU)),
        s => s.getField("__keep"))).as("__r"))
      .select(cols.map(c => col(s"__r.$c")) :+
        col(s"__r.$weightCol").as(weightCol): _*)
  }

  /** Resolve `source` columns to `target`'s column order, names, and
    * case (case-insensitive by name; target columns missing from the
    * source are null-filled with the target's type). Both merge paths
    * share this because the pipeline mixes `Rev_Per_unit`/
    * `Rev_Per_Unit` (`4_Fact:50` vs `2_Silver:49`).
    */
  private[graft] def alignByName(source: DataFrame, target: DataFrame): DataFrame = {
    val lower = source.columns.map(c => c.toLowerCase -> c).toMap
    val aligned = target.columns.map { tc =>
      lower.get(tc.toLowerCase) match {
        case Some(sc) => source(sc).as(tc)
        case None     => lit(null).cast(target.schema(tc).dataType).as(tc)
      }
    }
    source.select(aligned.toIndexedSeq: _*)
  }

  /** Partition-pruned MERGE for a hive-partitioned target: only the
    * partitions present in the source are read, merged, and rewritten —
    * the rest of the table is untouched. This is the 100 TB form of
    * upsert: a daily increment touching 3 of 3,000 date partitions
    * costs 0.1% of a full-table rewrite, and the anti join's partition
    * filter is pushed into the target scan (IN (<source partitions>)).
    *
    * Commit granularity is per-partition-set via Spark's dynamic
    * partition overwrite (replaces exactly the partitions written).
    * `partitionCol` must be part of every source row; rows may move
    * INTO a partition but a key is assumed not to move BETWEEN
    * partitions (same invariant Delta's partitioned merges rely on for
    * file pruning).
    */
  def mergePartitioned(spark: SparkSession, targetPath: String,
                       source: DataFrame, keys: Seq[String],
                       partitionCol: String): Unit = {
    require(keys.nonEmpty, "mergePartitioned requires at least one key column")
    val p = new Path(targetPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(targetPath + "__delta_tmp")
    val backup = new Path(targetPath + "__backup")
    // crash recovery FIRST — before the target read snapshots its file
    // listing. A crashed run may have left partitions only in the
    // backup dir; restoring after the read would make their old rows
    // invisible to this merge (and lost when the commit rewrites them).
    fs.delete(tmp, true)
    recoverBackup(fs, p, backup)
    if (!fs.exists(p)) {
      source.write.partitionBy(partitionCol).parquet(targetPath)
      return
    }
    // the deliberate driver round-trip: the distinct partition values of
    // the increment (small by construction)
    val parts = source.select(col(partitionCol)).distinct().collect()
      .map(_.get(0))
    val target = spark.read.parquet(targetPath)
    val srcAligned = alignByName(source, target)
    // isin() never matches null, so a null-keyed source partition needs
    // an explicit isNull arm — without it the target's existing
    // null-partition rows would be excluded from `affected`, yet the
    // commit rename would still replace their directory
    // (__HIVE_DEFAULT_PARTITION__), silently dropping them
    val nonNullParts = parts.filter(_ != null)
    val partFilter0 = col(partitionCol).isin(nonNullParts.toIndexedSeq: _*)
    val partFilter =
      if (parts.contains(null)) partFilter0 || col(partitionCol).isNull
      else partFilter0
    val affected = target.filter(partFilter)
    val cond = keys.map(k => affected(k) <=> srcAligned(k)).reduce(_ && _)
    val kept = affected.join(srcAligned, cond, "left_anti")
    // preserve matched-row multiplicity (see merge())
    val affectedKeys = affected.select(keys.map(col).toIndexedSeq: _*)
    val updCond = keys.map(k => affectedKeys(k) <=> srcAligned(k)).reduce(_ && _)
    val updated = affectedKeys.join(srcAligned, updCond, "inner")
      .select(srcAligned.columns.map(srcAligned(_)).toIndexedSeq: _*)
    val inserted = srcAligned.join(affected, cond, "left_anti")
    val merged = kept.unionByName(updated).unionByName(inserted)
    // single staged write (merged reads from targetPath, so it cannot be
    // written in place): the tmp output IS partitioned, and each affected
    // partition directory is swapped into the target by rename — affected
    // data is written exactly once, untouched partitions are never opened.
    //
    // Two-phase commit so a crash or failed rename mid-swap cannot strand
    // the table half-updated with the old data gone: phase 1 renames every
    // affected target partition into a backup dir OUTSIDE the table root
    // (never deleted until all swaps succeed — and outside so a leftover
    // backup can't be misparsed as a partition value by a later read);
    // phase 2 renames the tmp partitions in; any failure rolls back by
    // deleting the partially-renamed new dirs and restoring the backups.
    merged.write.partitionBy(partitionCol).parquet(tmp.toString)
    val partDirs = fs.listStatus(tmp)
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(partitionCol + "="))
    val stagedOut = scala.collection.mutable.ListBuffer.empty[(Path, Path)]
    val renamedIn = scala.collection.mutable.ListBuffer.empty[Path]
    try {
      fs.mkdirs(backup)
      partDirs.foreach { st => // phase 1: stage affected originals aside
        val dst = new Path(p, st.getPath.getName)
        if (fs.exists(dst)) {
          val bak = new Path(backup, st.getPath.getName)
          if (!fs.rename(dst, bak))
            throw new java.io.IOException(
              s"mergePartitioned: cannot stage out $dst")
          stagedOut += ((dst, bak))
        }
      }
      partDirs.foreach { st => // phase 2: swap the new partitions in
        val dst = new Path(p, st.getPath.getName)
        if (!fs.rename(st.getPath, dst))
          throw new java.io.IOException(
            s"mergePartitioned: cannot commit ${st.getPath} -> $dst")
        renamedIn += dst
      }
    } catch {
      case e: Throwable =>
        renamedIn.foreach(dst => fs.delete(dst, true))
        // restores must be CHECKED: a failed restore means the staged
        // original survives only in the backup dir — in that case keep
        // the backup on disk (recoverBackup on the next run retries)
        // instead of deleting the only remaining copy
        val allRestored = stagedOut.forall { case (dst, bak) =>
          fs.rename(bak, dst) || fs.exists(dst)
        }
        fs.delete(tmp, true)
        if (allRestored) fs.delete(backup, true)
        throw e
    }
    fs.delete(backup, true)
    fs.delete(tmp, true)
  }

  /** Crash recovery for [[mergePartitioned]]'s two-phase commit: a
    * leftover backup dir means a prior run died between staging a
    * partition out (phase 1) and renaming its replacement in (phase 2)
    * — for any staged partition the target no longer has, the backup
    * holds the ONLY copy, so restore it before anything deletes the
    * backup. Partitions the target does have were committed (or never
    * staged); their backup copies are stale and dropped.
    */
  private def recoverBackup(fs: org.apache.hadoop.fs.FileSystem,
                            target: Path, backup: Path): Unit = {
    if (fs.exists(backup)) {
      fs.listStatus(backup).foreach { st =>
        val dst = new Path(target, st.getPath.getName)
        if (!fs.exists(dst) && !fs.rename(st.getPath, dst))
          throw new java.io.IOException(
            s"mergePartitioned: cannot recover ${st.getPath} -> $dst")
      }
      fs.delete(backup, true)
    }
  }

  /** Heal a [[atomicReplace]] that crashed between its two renames:
    * the table then lives ONLY at `<path>__old` — restore it. A stale
    * `__old` next to a live table (crash after commit, before cleanup)
    * is just dropped.
    */
  private def recoverReplace(fs: org.apache.hadoop.fs.FileSystem,
                             dst: Path): Unit = {
    val old = new Path(dst.toString + "__old")
    if (!fs.exists(dst) && fs.exists(old) && !fs.rename(old, dst))
      throw new java.io.IOException(
        s"upsert: cannot recover $old -> $dst")
  }

  /** Write `df` to `path` atomically even though `df`'s plan reads from
    * `path`: materialize to `<path>__tmp`, swap via rename, drop the old
    * generation. Rename is atomic on HDFS-like filesystems; on object
    * stores a committer would take this role — the contract (readers see
    * old or new, never partial) is the same.
    *
    * Known window (single-writer contract): between the `dst → old` and
    * `tmp → dst` renames the table directory briefly does not exist, so
    * a CONCURRENT reader listing at that instant fails fast (it never
    * sees partial data). The engine's pipelines are single-writer/
    * single-reader per table, matching the guarantee level the reference
    * actually relies on; multi-reader deployments would front this with
    * a generation pointer (a small file naming the current directory)
    * updated by one rename.
    */
  def atomicReplace(spark: SparkSession, path: String, df: DataFrame): Unit = {
    val dst = new Path(path)
    val tmp = new Path(path + "__tmp")
    val old = new Path(path + "__old")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverReplace(fs, dst)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(old)) fs.delete(old, true)
    df.write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(dst) && !fs.rename(dst, old))
      throw new java.io.IOException(s"upsert: cannot stage out $dst")
    if (!fs.rename(tmp, dst)) {
      fs.rename(old, dst) // roll back
      throw new java.io.IOException(s"upsert: cannot commit $tmp -> $dst")
    }
    fs.delete(old, true)
  }
}

/** Mirrors the Delta fluent surface the reference uses — enough API to
  * make `3(1):163-169` / `4_Fact:68-74` read 1:1 in Scala:
  *
  * {{{
  * Upsert.forPath(spark, path)
  *   .merge(dfFinal, Seq("dim_model_key"))
  *   .whenMatchedUpdateAll()
  *   .whenNotMatchedInsertAll()
  *   .execute()
  * }}}
  */
final class UpsertTable(spark: SparkSession, path: String) {
  def merge(source: DataFrame, keys: Seq[String]): MergeBuilder =
    new MergeBuilder(spark, path, source, keys)
  def toDF: DataFrame = spark.read.parquet(path)
}

final class MergeBuilder(spark: SparkSession, path: String,
                         source: DataFrame, keys: Seq[String]) {
  private var updateAll = false
  private var insertAll = false
  private var uniqueKeys = false
  private var evolve = false

  def whenMatchedUpdateAll(): MergeBuilder = { updateAll = true; this }
  def whenNotMatchedInsertAll(): MergeBuilder = { insertAll = true; this }
  /** Declare the target's merge keys unique (see Upsert.merge). */
  def withUniqueKeyTarget(): MergeBuilder = { uniqueKeys = true; this }
  /** Delta `withSchemaEvolution()`: append source-only columns. */
  def withSchemaEvolution(): MergeBuilder = { evolve = true; this }

  def execute(): Unit = {
    require(updateAll && insertAll,
      "only whenMatchedUpdateAll + whenNotMatchedInsertAll is supported " +
        "(the full surface the reference exercises)")
    Upsert.merge(spark, path, source, keys, uniqueKeys, evolve)
  }
}
