package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gold fact build — `4_Gold_fact_sales_table.py`.
  *
  * silver ⟕ dim_model ⟕ dim_branch ⟕ dim_dealer ⟕ dim_date on natural
  * keys, projecting measures + the four surrogate FKs (`4_Fact:46-51`),
  * then composite-key MERGE on all four surrogate keys (`4_Fact:68-74`).
  *
  * Scale notes (100 TB):
  *  - each dim side of the chained left joins is explicitly
  *    `broadcast()`-hinted: dimension tables are orders of magnitude
  *    smaller than the fact source, so all four joins execute as
  *    BroadcastHashJoin in ONE stage over the silver scan — zero
  *    shuffles for the whole fact projection. (Catalyst would choose
  *    this anyway under the size threshold; the hint makes it
  *    plan-stable when dim stats are missing.)
  *  - `Rev_Per_Unit` is selected with different casing than silver
  *    wrote (`4_Fact:50` vs `2_Silver:49`) — engine relies on Spark's
  *    default case-insensitive resolution; do not enable
  *    spark.sql.caseSensitive.
  *  - the composite merge is a left_anti join on 4 key columns. The
  *    incremental source is small, so AQE ends with a broadcast anti
  *    join, but the existing fact is still shuffled once: the source's
  *    estimate (a product over the chained joins) starts the plan as a
  *    sort-merge join, whose fact-side shuffle map stage runs before
  *    AQE switches, and the multiplicity-preserving update join
  *    broadcasts the fact's four key columns (see [[Upsert]]).
  */
object FactBuilder {

  final case class FactSpec(table: String,
                            measures: Seq[String],
                            dims: Seq[DimSpec])

  val factSales: FactSpec = FactSpec(
    "cars_catalog.gold.factsales",
    Seq("Revenue", "Units_Sold", "Rev_Per_Unit"),
    ScdType1.all)

  /** The 4-way chained left join + projection (`4_Fact:31-51`). */
  def project(silver: DataFrame, dims: Map[String, DataFrame],
              spec: FactSpec = factSales): DataFrame = {
    val joined = spec.dims.foldLeft(silver) { (acc, d) =>
      val dim = broadcast(
        dims(d.table).select((d.surrogateKey +: d.naturalKey).map(col).toIndexedSeq: _*))
      val cond = d.naturalKey.map(k => acc(k) === dim(k)).reduce(_ && _)
      // drop EVERY dim-side natural-key column: leaving any behind
      // creates a duplicate name the next dim's acc(k) can no longer
      // resolve (AMBIGUOUS_REFERENCE) when a dim has a composite key
      d.naturalKey.foldLeft(acc.join(dim, cond, "left")) { (j, k) =>
        j.drop(dim(k))
      }
    }
    joined.select(
      (spec.measures ++ spec.dims.map(_.surrogateKey)).map(col).toIndexedSeq: _*)
  }

  /** Initial overwrite vs composite-key MERGE (`4_Fact:68-81`). */
  def build(spark: SparkSession, catalog: TableCatalog, silver: DataFrame,
            spec: FactSpec = factSales): DataFrame = {
    val dims = spec.dims.map(d => d.table -> catalog.read(d.table)).toMap
    val fact = project(silver, dims, spec)
    if (!catalog.tableExists(spec.table)) catalog.overwrite(spec.table, fact)
    else {
      Upsert.forPath(spark, catalog.pathFor(spec.table))
        .merge(fact, spec.dims.map(_.surrogateKey))
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
      // refresh post-MERGE file listing; schema is the fact projection's
      catalog.register(spec.table, Some(fact.schema))
    }
    catalog.read(spec.table)
  }
}
