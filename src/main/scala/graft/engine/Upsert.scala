package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}
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
  * Durability: the result is written to `<path>__tmp` and published by
  * [[Commit]]'s swap, the live table moving aside to `<path>__old`
  * first. Every writer runs [[Commit.recover]] before it reads the
  * target, so a crash at any point leaves the old table or the new one
  * (single-writer pipeline, the guarantee level the reference relies
  * on; Delta's log adds concurrent-writer isolation we don't need).
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
    rewrite(spark, targetPath) {
      case None => source
      case Some(existing) =>
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
    }
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
    * Same execution accounting as [[merge]]: the target is opened from
    * one footer, the changefeed is the (small) broadcastable side, and
    * the target's shuffle map stage runs once before AQE switches the
    * anti join to a broadcast; one rewrite commit.
    */
  def applyChanges(spark: SparkSession, targetPath: String,
                   changes: DataFrame, keys: Seq[String],
                   opCol: String = "op", deleteOp: String = "D",
                   uniqueKeyTarget: Boolean = false): Unit = {
    require(keys.nonEmpty, "applyChanges requires at least one key column")
    rewrite(spark, targetPath)(
      applyChangesPlan(_, changes, keys, opCol, deleteOp, uniqueKeyTarget))
  }

  /** The prologue [[merge]] and [[applyChanges]] share: recover BEFORE
    * the existence check (a table alive only in `__old` must not read
    * as "new"), then write `plan(None)` as the new table or swap in
    * `plan` of the target opened from its footer.
    */
  private def rewrite(spark: SparkSession, targetPath: String)
                     (plan: Option[DataFrame] => DataFrame): Unit = {
    val p = new Path(targetPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(fs, p)
    if (!fs.exists(p)) plan(None).write.mode("overwrite").parquet(targetPath)
    else atomicReplace(spark, targetPath,
      plan(Some(ParquetTable.open(spark, targetPath))))
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
    * The merged partitions land in `<path>__delta_tmp` and commit as one
    * journaled [[Commit]] swap: each live partition moves aside into
    * `<path>__backup` (outside the table root, so a leftover can't be
    * misparsed as a partition value), then its replacement moves in.
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
    val (tmp, backup) = partitionedScratch(p)
    // crash recovery FIRST — before the target read snapshots its file
    // listing. A crashed run may have left partitions only in the
    // backup dir; restoring after the read would make their old rows
    // invisible to this merge (and lost when the commit rewrites them).
    recoverPartitioned(fs, p)
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
    // commit would still replace their directory
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
    // single staged write (merged reads from targetPath, so it cannot be
    // written in place): affected data is written exactly once, and
    // untouched partitions are never opened
    kept.unionByName(updated).unionByName(inserted)
      .write.partitionBy(partitionCol).parquet(tmp.toString)
    fs.mkdirs(backup)
    Commit.swap(fs, fs.listStatus(tmp).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(partitionCol + "="))
      .map(st => partSwap(p, st.getPath.getName)), Some(new Path(tmp, "_COMMIT")))
    fs.delete(backup, true)
    fs.delete(tmp, true)
  }

  /** `<path>__delta_tmp` (the staged partitions and the journal) and
    * `<path>__backup` (the live partitions moved aside). */
  private def partitionedScratch(p: Path) =
    (new Path(s"${p}__delta_tmp"), new Path(s"${p}__backup"))

  private def partSwap(p: Path, name: String) = Commit.Swap(
    Some(new Path(s"${p}__delta_tmp/$name")), new Path(p, name), new Path(s"${p}__backup/$name"))

  /** Finish or undo a [[mergePartitioned]] commit a crash interrupted;
    * without a journal, the partitions in `__backup` are pending. */
  private[graft] def recoverPartitioned(fs: FileSystem, p: Path): Unit = {
    val (tmp, backup) = partitionedScratch(p)
    val pending =
      if (!fs.exists(backup)) Nil
      else fs.listStatus(backup).toSeq.map(st => partSwap(p, st.getPath.getName))
    Commit.recover(fs, pending, Some(new Path(tmp, "_COMMIT")))
    fs.delete(tmp, true)
    fs.delete(backup, true)
  }

  private def replaceSwap(dst: Path) =
    Commit.Swap(Some(new Path(s"${dst}__tmp")), dst, new Path(s"${dst}__old"))

  /** Finish or undo an [[atomicReplace]] a crash interrupted. */
  private[graft] def recover(fs: FileSystem, path: Path): Unit =
    Commit.recover(fs, Seq(replaceSwap(path)), None)

  /** Write `df` to `path` atomically even though `df`'s plan reads from
    * `path`: materialize to `<path>__tmp`, then publish it with
    * [[Commit]]'s swap (the live table moves to `<path>__old`, the new
    * one moves in, the old one is dropped). Rename is atomic on
    * HDFS-like filesystems; on object stores a committer would take
    * this role — the contract (readers see old or new, never partial)
    * is the same.
    *
    * Between the swap's two renames a CONCURRENT reader listing fails
    * fast (it never sees partial data), and a crash there is rolled
    * forward by the next writer's [[Commit.recover]]; the pipelines are
    * single-writer/single-reader per table, like the reference.
    */
  def atomicReplace(spark: SparkSession, path: String, df: DataFrame): Unit = {
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val swap = replaceSwap(dst)
    recover(fs, dst)
    df.write.mode("overwrite").parquet(swap.staged.get.toString)
    Commit.swap(fs, Seq(swap), None)
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
  def toDF: DataFrame = ParquetTable.open(spark, path)
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
