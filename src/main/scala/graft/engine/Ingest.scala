package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bronze ingest: CSV → parquet.
  *
  * The reference offloads this to an ADF copy activity (outside its
  * code); the code then reads bronze parquet with schema inference on
  * (`2_Silver_Notebook.py:7-9`). We make the CSV→parquet hop an engine
  * component so the pipeline is self-contained.
  *
  * CSV edge cases the reference data exercises (FIXTURES.md §A):
  *  - header row (`SalesData.csv:1`);
  *  - quoted fields with embedded commas
  *    (`IncrementalSales.csv:2` — `"Fisker, Karma Motors"`);
  *  - empty-string DealerName values;
  *  - UTF-8 BOM on the first header cell.
  *
  * Scale note: schema inference costs one extra pass over the input.
  * At 100 TB you pass an explicit schema (`schema` param) and the read
  * is single-pass with predicate/column pushdown preserved into the
  * parquet it lands as.
  */
object Ingest {

  def readCsv(spark: SparkSession, path: String,
              schema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val base = spark.read
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .option("encoding", "UTF-8")
    val df = schema match {
      case Some(s) => base.schema(s).csv(path)
      case None    => base.option("inferSchema", "true").csv(path)
    }
    stripBom(df)
  }

  /** A UTF-8 BOM survives into the first header name on some CSV
    * writers; normalize it away so column resolution works.
    */
  private def stripBom(df: DataFrame): DataFrame = {
    val cleaned = df.columns.map(_.replace("﻿", ""))
    df.toDF(cleaned.toIndexedSeq: _*)
  }

  /** Land CSV as bronze parquet (the ADF copy step, in-engine). */
  def csvToBronze(spark: SparkSession, csvPath: String,
                  bronzePath: String): DataFrame = {
    val df = readCsv(spark, csvPath)
    df.write.mode("overwrite").parquet(bronzePath)
    ParquetTable.open(spark, bronzePath)
  }

  /** Bronze parquet scan — `spark.read.format('parquet')
    * .option('inferSchema', True).load(path)` (`2_Silver:7-9`).
    * inferSchema is a no-op for self-describing parquet; kept for
    * fidelity of surface. The schema comes from one footer read on the
    * driver ([[ParquetTable.open]]), not from an inference job.
    */
  def readBronze(spark: SparkSession, bronzePath: String): DataFrame =
    ParquetTable.open(spark, bronzePath, Map("inferSchema" -> "true"))

  /** JSON-lines source (the third landing format a lakehouse ingest
    * meets after CSV and parquet). Same schema discipline as
    * [[readCsv]]: inference is a convenience pass for exploration; at
    * scale pass the schema and the read is single-pass. JSON scans
    * can't push predicates the way parquet does — land as bronze
    * parquet before any repeated querying.
    */
  def readJson(spark: SparkSession, path: String,
               schema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame =
    schema match {
      case Some(s) => spark.read.schema(s).json(path)
      case None    => spark.read.json(path)
    }

  /** ORC source — the other self-describing columnar landing format
    * (Hive-lineage warehouses hand these over). Like parquet it
    * carries its schema and min/max stripe statistics, so predicate
    * and column pushdown survive without an explicit schema.
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
}
