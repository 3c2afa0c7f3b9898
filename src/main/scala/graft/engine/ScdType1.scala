package graft.engine

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
  *  - the left join is null-unsafe: a source row with a NULL natural
  *    key, or one whose match carries a NULL surrogate key, counts as
  *    new and gets a fresh key on every run;
  *  - the MERGE matches on the *surrogate* key, not the natural key
  *    (`3(1):166`) — correct only because matched rows carry their
  *    existing keys through the union; we keep it as-is;
  *  - union is positional (`union`, not `unionByName`) with both sides
  *    arranged (naturalKey…, attrs…, surrogateKey).
  *
  * Bounded dims run on the driver. The dims are tiny next to the
  * silver they come from, and the distributed template costs about
  * seven Spark jobs per dim, each paying the fixed job latency. So one
  * `limit(cap + 1).collect()` of the distinct source rows is both the
  * size check and the data fetch ([[DriverRowCap]] is the cap). When it
  * holds at most `cap` rows and every existing target holds at most
  * `cap` rows by its parquet footers (no job), each dim collects its
  * target (one job), runs the template above on the driver, and
  * writes the result as one file from a local relation (one job),
  * published by [[Upsert.atomicReplace]]'s swap, for the initial load
  * too. Above the cap, or where the driver's value equality could
  * differ from Spark's (a natural key that is not a string, integral,
  * boolean, date or timestamp column, or a target whose column types
  * differ from the source's), the distributed template runs unchanged.
  *
  * Surrogate keys are unique and increasing, never reused. On the
  * driver they are contiguous: `base + 0 … base + n − 1` in the order
  * the source rows arrive. The distributed path takes them from
  * `lit(base) + monotonically_increasing_id()`, which is not
  * contiguous (a partition-dependent 33-bit shift). Tests assert these
  * invariants, never exact values.
  *
  * Failure contract of [[buildAll]]: the dims commit independently.
  * When one dim fails, any subset of the others may have committed,
  * each reads exactly its old or its new state, and the call throws,
  * so [[SalesPipeline.run]] builds no fact from a partial set.
  *
  * Scale notes (100 TB):
  *  - the distinct is a hash aggregate on the dim's natural key —
  *    partial map-side combine means the shuffle carries only distinct
  *    keys per input partition, not raw fact rows;
  *  - the src-vs-sink join broadcasts whenever the dim fits under
  *    autoBroadcastJoinThreshold; for a billion-row dimension it
  *    degrades gracefully to a shuffle join on the natural key;
  *  - the key base is the sink's `max(key)` (`3(1):123-124` — a
  *    single Long). On the driver it comes from the collected target;
  *    on the distributed path first from the parquet row-group
  *    statistics ([[ScdType1.keyBase]]), and only a sink without
  *    usable statistics pays the reference's scalar `agg(max)`
  *    round-trip. Either way the base is fixed before any key is
  *    allocated, sequencing key allocation exactly like the reference.
  */
final class ScdType1(spark: SparkSession, catalog: TableCatalog) {
  import ScdType1._

  /** Build/refresh one dimension from the silver table.
    * @param incremental the `Incremental_Flag` widget (`3(1):13-17`)
    * @return the dimension content as written
    */
  def build(spec: DimSpec, silver: DataFrame, incremental: Boolean): DataFrame =
    build(spec, silver, incremental, DriverRowCap)

  /** [[build]] with the driver cap as an argument; a negative cap
    * always takes the distributed path.
    */
  private[graft] def build(spec: DimSpec, silver: DataFrame,
                           incremental: Boolean, cap: Int): DataFrame = {
    recover(Seq(spec))
    val src = silver.select(spec.cols.map(col).toIndexedSeq: _*).distinct()
    val probe = src.limit(cap + 1).collect()
    val dim = Source(spec, src.schema, probe.toSeq)
    if (fitsDriver(probe.length, cap, Seq(dim))) {
      onDriver(Seq(dim), incremental)
      catalog.read(spec.table)
    } else buildFrom(spec, src, incremental)
  }

  /** Build ALL dimensions with ONE pass over silver: a GROUPING SETS
    * aggregation computes every dimension's distinct (naturalKey,
    * attrs) set in a single scan + single shuffle, where per-dim
    * `build` would scan silver once per dimension. At 100 TB the scan
    * IS the cost (the distinct outputs are dimension-sized), so this
    * divides the dominant I/O by the number of dimensions.
    *
    * Bounded dims then run on the driver, concurrently, one driver
    * thread per dim: each reads only the probe's rows and its own
    * target, and writes only its own table. The session catalog
    * registrations run after the wave on the calling thread, and the
    * call returns or throws only once every dim has finished.
    *
    * The grouped result is materialised once as a leaf relation (an
    * RDD-backed DataFrame over the aggregate, then persisted): the probe
    * reads it, and above the cap every branch of every dim's join/MERGE
    * reads it, so silver is scanned and aggregated once on either path.
    * Persisting the aggregate itself does not do this: a dim's plan
    * uses the source several times (the src⋈sink join, the old/new
    * split, the MERGE's anti join and union), the analyzer re-instances
    * the repeated Expand-aggregate subtrees, and those copies no longer
    * match the cached plan — three of the four source branches of each
    * MERGE re-scanned silver and re-ran the aggregate. A leaf relation
    * has nothing to re-instance, so every copy hits the cache, and its
    * RDD lineage recomputes a lost block (unlike `localCheckpoint`,
    * whose blocks die with their executor).
    */
  def buildAll(specs: Seq[DimSpec], silver: DataFrame,
               incremental: Boolean): Map[String, DataFrame] =
    buildAll(specs, silver, incremental, DriverRowCap)

  /** [[buildAll]] with the driver cap as an argument; a negative cap
    * always takes the distributed path.
    */
  private[graft] def buildAll(specs: Seq[DimSpec], silver: DataFrame,
                              incremental: Boolean,
                              cap: Int): Map[String, DataFrame] = {
    import org.apache.spark.sql.functions.grouping_id
    recover(specs)
    val allCols: Seq[String] = specs.flatMap(_.cols).distinct
    val agg = silver
      .groupingSets(specs.map(_.cols.map(col)), allCols.map(col): _*)
      .agg(grouping_id().as("__gid"))
    // grouping_id: bit (n-1-i) set iff allCols(i) is aggregated away
    def gidFor(spec: DimSpec): Long =
      allCols.zipWithIndex.collect {
        case (c, i) if !spec.cols.contains(c) =>
          1L << (allCols.size - 1 - i)
      }.sum
    val grouped = spark.createDataFrame(agg.rdd, agg.schema).persist()
    try {
      val probe = grouped.limit(cap + 1).collect()
      val gid = agg.schema.fieldIndex("__gid")
      val dims = specs.map { spec =>
        val idx = spec.cols.map(c => agg.columns.indexWhere(_.equalsIgnoreCase(c)))
        Source(spec, StructType(idx.map(agg.schema.fields(_))),
          probe.toSeq.filter(_.getLong(gid) == gidFor(spec))
            .map(r => Row.fromSeq(idx.map(r.get))))
      }
      if (fitsDriver(probe.length, cap, dims)) {
        onDriver(dims, incremental)
        specs.map(s => s.table -> catalog.read(s.table)).toMap
      } else specs.map { spec =>
        val dfSrc = grouped
          .filter(col("__gid") === gidFor(spec))
          .select(spec.cols.map(col).toIndexedSeq: _*)
        spec.table -> buildFrom(spec, dfSrc, incremental)
      }.toMap
    } finally grouped.unpersist()
  }

  /** Finish or undo a dim commit a crash interrupted, before the
    * existence check reads the table.
    */
  private def recover(specs: Seq[DimSpec]): Unit = specs.foreach { s =>
    val p = new Path(catalog.pathFor(s.table))
    Upsert.recover(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Whether the bounded step takes `dims`: the probe held at most `cap`
    * rows, each existing target holds at most `cap` rows by its footers,
    * and the driver compares every value the way Spark does.
    */
  private def fitsDriver(probed: Int, cap: Int, dims: Seq[Source]): Boolean =
    probed <= cap && dims.forall { d =>
      d.schema.fields.take(d.spec.naturalKey.size)
        .forall(f => PlainEquality(f.dataType)) &&
        (!catalog.tableExists(d.spec.table) || {
          val path = catalog.pathFor(d.spec.table)
          val target = catalog.read(d.spec.table).schema
          ParquetTable.footerRows(spark, path).exists(_ <= cap) &&
            d.finalSchema.forall(f => target.exists(t =>
              t.name.equalsIgnoreCase(f.name) && t.dataType == f.dataType))
        })
    }

  /** Run each dim's template on the driver, concurrently, and register
    * the committed ones; rethrow the first failure once all are done.
    */
  private def onDriver(dims: Seq[Source], incremental: Boolean): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(dims.size)
    val outcomes =
      try dims.map(d => pool.submit[Unit](() => commitOnDriver(d, incremental)))
        .map(f => scala.util.Try(f.get()))
      finally pool.shutdown()
    dims.zip(outcomes).foreach {
      case (d, scala.util.Success(_)) =>
        catalog.register(d.spec.table, Some(d.finalSchema))
      case _ =>
    }
    outcomes.collectFirst {
      case scala.util.Failure(e: java.util.concurrent.ExecutionException) =>
        throw e.getCause
      case scala.util.Failure(e) => throw e
    }
  }

  /** One dim's template over collected rows, written as one file. */
  private def commitOnDriver(d: Source, incremental: Boolean): Unit = {
    val spec = d.spec
    val exists = catalog.tableExists(spec.table)
    val target = if (exists) Some(catalog.read(spec.table)) else None
    val sink = target.fold(Array.empty[Row])(_.collect())
    val schema = target.fold(d.finalSchema)(_.schema)
    def at(name: String) = schema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
    val sinkKey = at(spec.surrogateKey)
    val sinkNk = spec.naturalKey.map(at)

    // left join src→sink on the natural key, NULL never matching
    // (`3(1):79`): one projected row per match, multiplicity kept
    val keysOf: Map[Seq[Any], Seq[Any]] = sink.toSeq
      .filter(r => sinkNk.forall(!r.isNullAt(_)))
      .groupBy(r => sinkNk.map(r.get))
      .map { case (nk, rs) => nk -> rs.map(_.get(sinkKey)) }
    val projected: Seq[(Row, Any)] = d.rows.flatMap { r =>
      val nk = spec.naturalKey.indices.map(r.get)
      keysOf.get(nk).fold(Seq[(Row, Any)](r -> null))(_.map(r -> _))
    }
    // null-split (`3(1):92,102`) and key allocation: base + 0 … n − 1
    val (old, fresh) = projected.partition(_._2 != null)
    val base: Long =
      if (!incremental || !exists) 1L
      else sink.collect { case r if !r.isNullAt(sinkKey) => r.getLong(sinkKey) }
        .maxOption.fold(1L)(_ + 1L)
    val dfFinal: Seq[Row] =
      fresh.zipWithIndex.map { case ((r, _), i) => Row.fromSeq(r.toSeq :+ (base + i)) } ++
        old.map { case (r, k) => Row.fromSeq(r.toSeq :+ k) }

    // initial write, or MERGE on the surrogate key (`3(1):163-176`):
    // target rows whose key no final row carries, then the final rows
    // aligned to the target's columns by name
    val written: Seq[Row] = target.fold(dfFinal) { _ =>
      val finalKeys = dfFinal.map(_.getLong(spec.cols.size)).toSet
      val kept = sink.toSeq
        .filter(r => r.isNullAt(sinkKey) || !finalKeys(r.getLong(sinkKey)))
      val from = schema.fieldNames.map(n => d.finalSchema.fieldNames
        .indexWhere(_.equalsIgnoreCase(n)))
      kept ++ dfFinal.map(r => Row.fromSeq(from.map(i => if (i < 0) null else r.get(i))))
    }
    Upsert.atomicReplace(spark, catalog.pathFor(spec.table),
      spark.createDataFrame(written.asJava, schema).coalesce(1))
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

  /** The most distinct source rows, and target rows per dim, that the
    * bounded step holds on the driver: a few MB of rows, where the
    * reference's dims hold thousands.
    */
  val DriverRowCap: Int = 100000

  /** Types whose collected values compare equal exactly when Spark's
    * `===` does.
    */
  private val PlainEquality: Set[DataType] = Set(StringType, BooleanType,
    ByteType, ShortType, IntegerType, LongType, DateType, TimestampType)

  /** One dim's distinct source rows, columns `spec.cols` in order. */
  private final case class Source(spec: DimSpec, schema: StructType,
                                  rows: Seq[Row]) {
    /** The template's result columns: `spec.cols`, then the key. */
    def finalSchema: StructType = schema.add(spec.surrogateKey, LongType)
  }

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
