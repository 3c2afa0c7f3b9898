package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Specification of one SCD Type-1 dimension.
  *
  * The reference's four dimension notebooks are one template ×4
  * (`3(1)`..`3(4)` differ only in table name, natural key, and attr
  * columns), so the engine has one parameterized component instead of
  * four transliterations (SURVEY.md §7.1).
  *
  * @param table       gold table name, e.g. "cars_catalog.gold.dim_model"
  * @param naturalKey  business key columns, e.g. Seq("Model_ID")
  * @param attrs       type-1 attribute columns, e.g. Seq("model_category")
  * @param surrogateKey generated key column, e.g. "dim_model_key"
  */
final case class DimSpec(table: String, naturalKey: Seq[String],
                         attrs: Seq[String], surrogateKey: String) {
  def cols: Seq[String] = naturalKey ++ attrs
}

/** SCD Type-1 dimension maintenance — the `3(x)` notebook template:
  *
  *   distinct(naturalKey, attrs) over silver            (`3(1):44-46`)
  *   → left join against the current sink               (`3(1):79`)
  *   → null-split into old (matched) / new (unmatched)  (`3(1):92,102`)
  *   → allocate surrogate keys base + mid()             (`3(1):120-133`)
  *   → positional union (new first, then old)           (`3(1):146`)
  *   → initial overwrite or MERGE on the surrogate key  (`3(1):163-176`)
  *
  * Preserved quirks (deliberate — they are the reference's observable
  * semantics):
  *  - keys come from `lit(base) + monotonically_increasing_id()`:
  *    unique and increasing but NOT contiguous (partition-dependent
  *    33-bit shift). Tests assert invariants, never exact values.
  *  - the MERGE matches on the *surrogate* key, not the natural key
  *    (`3(1):166`) — correct only because matched rows carry their
  *    existing keys through the union; we keep it as-is.
  *  - union is positional (`union`, not `unionByName`) with both sides
  *    arranged (naturalKey…, attrs…, surrogateKey).
  *
  * Scale notes (100 TB):
  *  - the distinct is a hash aggregate on the dim's natural key —
  *    partial map-side combine means the shuffle carries only distinct
  *    keys per input partition, not raw fact rows;
  *  - the src-vs-sink join broadcasts whenever the dim fits under
  *    autoBroadcastJoinThreshold; for a billion-row dimension it
  *    degrades gracefully to a shuffle join on the natural key;
  *  - the key base is the sink's `max(key)` (`3(1):123-124` — a
  *    single Long), taken first from the parquet row-group statistics
  *    on the driver ([[ScdType1.keyBase]]); only a sink without usable
  *    statistics pays the reference's scalar `agg(max)` round-trip.
  *    Either way the base is fixed before the MERGE job starts,
  *    sequencing key allocation exactly like the reference.
  */
final class ScdType1(spark: SparkSession, catalog: TableCatalog) {

  /** Build/refresh one dimension from the silver table.
    * @param incremental the `Incremental_Flag` widget (`3(1):13-17`)
    * @return the dimension content as written
    */
  def build(spec: DimSpec, silver: DataFrame, incremental: Boolean): DataFrame =
    buildFrom(spec,
      silver.select(spec.cols.map(col).toIndexedSeq: _*).distinct(),
      incremental)

  /** Build ALL dimensions with ONE pass over silver: a GROUPING SETS
    * aggregation computes every dimension's distinct (naturalKey,
    * attrs) set in a single scan + single shuffle, where per-dim
    * `build` would scan silver once per dimension. At 100 TB the scan
    * IS the cost (the distinct outputs are dimension-sized), so this
    * divides the dominant I/O by the number of dimensions.
    *
    * The small grouped result is materialised once as a leaf relation
    * (an RDD-backed DataFrame over the aggregate, then persisted) and
    * every branch of every dim's join/MERGE reads that. Persisting the
    * aggregate itself does not do this: a dim's plan uses the source
    * several times (the src⋈sink join, the old/new split, the MERGE's
    * anti join and union), the analyzer re-instances the repeated
    * Expand-aggregate subtrees, and those copies no longer match the
    * cached plan — three of the four source branches of each MERGE
    * re-scanned silver and re-ran the aggregate. A leaf relation has
    * nothing to re-instance, so every copy hits the cache, and its RDD
    * lineage recomputes a lost block (unlike `localCheckpoint`, whose
    * blocks die with their executor).
    */
  def buildAll(specs: Seq[DimSpec], silver: DataFrame,
               incremental: Boolean): Map[String, DataFrame] = {
    import org.apache.spark.sql.functions.grouping_id
    val allCols: Seq[String] = specs.flatMap(_.cols).distinct
    val agg = silver
      .groupingSets(specs.map(_.cols.map(col)), allCols.map(col): _*)
      .agg(grouping_id().as("__gid"))
    val grouped = spark.createDataFrame(agg.rdd, agg.schema).persist()
    try {
      // grouping_id: bit (n-1-i) set iff allCols(i) is aggregated away
      def gidFor(spec: DimSpec): Long =
        allCols.zipWithIndex.collect {
          case (c, i) if !spec.cols.contains(c) =>
            1L << (allCols.size - 1 - i)
        }.sum
      specs.map { spec =>
        val dfSrc = grouped
          .filter(col("__gid") === gidFor(spec))
          .select(spec.cols.map(col).toIndexedSeq: _*)
        spec.table -> buildFrom(spec, dfSrc, incremental)
      }.toMap
    } finally grouped.unpersist()
  }

  private def buildFrom(spec: DimSpec, dfSrc: DataFrame,
                        incremental: Boolean): DataFrame = {
    val key = spec.surrogateKey

    // sink: existing dim, or an empty correctly-typed relation derived
    // WHERE-1=0-style (`3(1):63-68`); reference types the empty key by
    // the literal 1 (int) — we normalize to LongType up front so the
    // later union/merge never silently casts (SURVEY §7.4).
    val exists = catalog.tableExists(spec.table)
    // the empty sink is a LocalRelation with FRESH attribute ids (not a
    // filter(false) over dfSrc — that self-join lineage would be
    // ambiguous now that buildAll feeds every dim from one shared
    // grouping-sets DataFrame)
    val dfSink: DataFrame =
      if (exists)
        catalog.read(spec.table)
          .select((key +: spec.naturalKey).map(col).toIndexedSeq: _*)
      else {
        val schema = org.apache.spark.sql.types.StructType(
          org.apache.spark.sql.types.StructField(key, LongType) +:
            spec.naturalKey.map(k => dfSrc.schema(k)))
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      }

    // left join src→sink on the natural key; lineage-qualified select
    // keeps both Model_IDs apart until projection (`3(1):79`, P6)
    val joinCond = spec.naturalKey
      .map(k => dfSrc(k) === dfSink(k))
      .reduce(_ && _)
    val joined = dfSrc.join(dfSink, joinCond, "left")
    val projected = joined.select(
      (spec.cols.map(dfSrc(_)) :+ dfSink(key)).toIndexedSeq: _*)

    // null-split: old = matched, keeps existing key (`3(1):92`);
    // new = unmatched (`3(1):102`)
    val dfOld = projected.filter(col(key).isNotNull)
    val dfNew = projected.filter(col(key).isNull).drop(key)

    // surrogate-key base (`3(1):120-124`): flag=0 → literal 1; else
    // max+1 with a null-guard for an empty sink (SURVEY §7.4)
    val base: Long =
      if (!incremental || !exists) 1L
      else ScdType1.keyBase(spark, catalog.pathFor(spec.table), key)

    // key allocation (`3(1):133`): base + monotonically_increasing_id()
    val dfNewKeyed = dfNew.withColumn(
      key, lit(base) + monotonically_increasing_id())

    // positional union, new first (`3(1):146`)
    val dfFinal = dfNewKeyed.union(
      dfOld.select(dfNewKeyed.columns.map(col).toIndexedSeq: _*))

    // initial overwrite vs MERGE-on-surrogate-key (`3(1):163-176`)
    if (!exists) catalog.overwrite(spec.table, dfFinal)
    else {
      Upsert.forPath(spark, catalog.pathFor(spec.table))
        .merge(dfFinal, Seq(key))
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .withUniqueKeyTarget() // surrogate keys unique by construction
        .execute()
      // refresh post-MERGE file listing; schema is dfFinal's (aligned)
      catalog.register(spec.table, Some(dfFinal.schema))
    }

    catalog.read(spec.table)
  }
}

object ScdType1 {

  /** The incremental key base of the sink table at `path`: `max(key) +
    * 1`, or 1 when no row holds a non-null key. The maximum comes from
    * the parquet row-group statistics ([[ParquetTable.footerMax]]) with
    * no Spark job; a sink where some non-empty row group lacks them
    * falls back to the `agg(max)` job.
    */
  private[graft] def keyBase(spark: SparkSession, path: String,
                             key: String): Long = {
    val maxKey = ParquetTable.footerMax(spark, path, key).getOrElse {
      val row = ParquetTable.open(spark, path).agg(max(col(key))).head()
      if (row.isNullAt(0)) None else Some(row.getLong(0))
    }
    maxKey.fold(1L)(_ + 1L)
  }

  /** The four reference dimensions (`3(1)`–`3(4)`; schemas per
    * FIXTURES.md §A3).
    */
  val dimModel: DimSpec =
    DimSpec("cars_catalog.gold.dim_model", Seq("Model_ID"),
      Seq("model_category"), "dim_model_key")
  val dimBranch: DimSpec =
    DimSpec("cars_catalog.gold.dim_branch", Seq("Branch_ID"),
      Seq("BranchName"), "dim_branch_key")
  val dimDealer: DimSpec =
    DimSpec("cars_catalog.gold.dim_dealer", Seq("Dealer_ID"),
      Seq("DealerName"), "dim_dealer_key")
  val dimDate: DimSpec =
    DimSpec("cars_catalog.gold.dim_date", Seq("Date_ID"),
      Seq.empty, "dim_date_key")

  val all: Seq[DimSpec] = Seq(dimModel, dimBranch, dimDealer, dimDate)
}
