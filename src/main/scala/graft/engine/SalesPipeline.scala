package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** End-to-end medallion pipeline: the whole reference workload as one
  * re-runnable, parameterized batch job.
  *
  *   CSV → bronze parquet → silver (+derived cols) → 4 SCD1 dims →
  *   fact (star join + composite merge)
  *
  * `incremental = false` reproduces the initial load
  * (`SalesData.csv`); `incremental = true` the incremental re-run
  * (`IncrementalSales.csv`) — the reference's "streaming" story is
  * exactly this parameterized batch re-run (SURVEY.md §2.9), driven by
  * a widget flag (`3(1):13-17`) that we take as a plain parameter.
  */
final class SalesPipeline(spark: SparkSession, catalog: TableCatalog) {

  private val scd = new ScdType1(spark, catalog)

  def bronzePath: String = catalog.pathFor("cars_catalog.bronze.rawdata")
  def silverPath: String = catalog.pathFor("cars_catalog.silver.sales")

  /** Run the full pipeline from a raw CSV. Returns the fact table. */
  def run(csvPath: String, incremental: Boolean): DataFrame = {
    val bronze = Ingest.csvToBronze(spark, csvPath, bronzePath)
    val silver = SilverTransform.transform(bronze)
    SilverTransform.writeSilver(silver, silverPath)
    val silverBack = ParquetTable.open(spark, silverPath)
    // one silver scan computes all four dims' distinct key sets
    scd.buildAll(ScdType1.all, silverBack, incremental)
    FactBuilder.build(spark, catalog, silverBack)
  }

  def dim(spec: DimSpec): DataFrame = catalog.read(spec.table)
  def fact: DataFrame = catalog.read(FactBuilder.factSales.table)
  def silverAnalysis: DataFrame =
    SilverTransform.unitsByBranchYear(spark.read.parquet(silverPath))
}
