package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.engine._

/** [[ParquetTable]] against Spark's own parquet inference: `open` must
  * give every table the schema and rows `spark.read.parquet` gives it,
  * without the inference job, and must leave every layout it does not
  * read itself to Spark. `footerMax` must agree with `agg(max)`.
  */
class ParquetTableSpec extends SparkSpec {
  import PipelineSpec._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def assertSameAsSpark(path: String,
                                options: Map[String, String] = Map.empty): Unit = {
    val (opened, jobs) = jobsOf(ParquetTable.open(spark, path, options))
    val inferred = spark.read.options(options).parquet(path)
    assert(opened.schema == inferred.schema, path)
    assert(rows(opened) == rows(inferred), path)
    assert(jobs == 0, s"$path: open started $jobs job(s)")
  }

  test("open ≡ spark.read.parquet on bronze, silver, the four dims, the " +
    "fact and a merge target, with no inference job") {
    val base = tmpDir("ptable")
    val catalog = TableCatalog(spark, base + "/warehouse")
    val pipeline = new SalesPipeline(spark, catalog)
    val tables = Seq(pipeline.bronzePath, pipeline.silverPath) ++
      (ScdType1.all.map(_.table) :+ FactBuilder.factSales.table)
        .map(catalog.pathFor)

    // initial load: bronze and silver hold the fixtures' edge cases (the
    // BOM header, the quoted comma, the empty DealerName, Rev_Per_unit)
    pipeline.run(writeCsv(base + "/initial.csv", initialRows),
      incremental = false)
    val silver = spark.read.parquet(pipeline.silverPath)
    assert(silver.columns.head == "Branch_ID")
    assert(silver.columns.contains("Rev_Per_unit"))
    assert(silver.filter(col("DealerName") === "Fisker, Karma").count() > 0)
    assert(silver.filter(col("DealerName").isNull).count() > 0)
    tables.foreach(assertSameAsSpark(_))
    assertSameAsSpark(pipeline.bronzePath, Map("inferSchema" -> "true"))

    // a merge target, created by one merge and rewritten by a second
    val target = base + "/merge_target"
    Upsert.merge(spark, target, silver.limit(5), Seq("Branch_ID", "Date_ID"))
    Upsert.merge(spark, target, silver, Seq("Branch_ID", "Date_ID"))
    assertSameAsSpark(target)

    // incremental run: dims and fact rewritten by their MERGEs
    pipeline.run(writeCsv(base + "/incremental.csv", incrementalRows),
      incremental = true)
    tables.foreach(assertSameAsSpark(_))
  }

  test("open fails on a missing or empty directory exactly as " +
    "spark.read.parquet fails") {
    val empty = tmpDir("ptable_empty")
    val onlyMarker = tmpDir("ptable_marker")
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(onlyMarker, "_SUCCESS"))
    Seq(empty + "/missing", empty, onlyMarker).foreach { p =>
      val ours = intercept[Exception](ParquetTable.open(spark, p))
      val spark0 = intercept[Exception](spark.read.parquet(p))
      assert(ours.getClass == spark0.getClass, p)
      assert(ours.getMessage == spark0.getMessage, p)
    }
  }

  test("mergeSchema (read option or session conf) and k=v partition " +
    "directories go through Spark's inference") {
    import spark.implicits._
    val mixed = tmpDir("ptable_mixed") + "/t"
    Seq((1L, "a")).toDF("id", "x").write.parquet(mixed)
    Seq((2L, 3.5)).toDF("id", "y").write.mode("append").parquet(mixed)
    // without merging, both read the one footer Spark picks
    assertSameAsSpark(mixed)

    val opt = Map("mergeSchema" -> "true")
    assert(ParquetTable.open(spark, mixed, opt).schema ==
      spark.read.options(opt).parquet(mixed).schema)
    assert(ParquetTable.open(spark, mixed, opt).columns.toSet ==
      Set("id", "x", "y"))

    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      val merged = ParquetTable.open(spark, mixed)
      assert(merged.schema == spark.read.parquet(mixed).schema)
      assert(merged.columns.toSet == Set("id", "x", "y"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")

    val parted = tmpDir("ptable_parted") + "/t"
    Seq((1L, "p"), (2L, "q")).toDF("id", "k").write.partitionBy("k")
      .parquet(parted)
    val opened = ParquetTable.open(spark, parted)
    val inferred = spark.read.parquet(parted)
    assert(opened.schema == inferred.schema)
    assert(opened.columns.toSeq == Seq("id", "k"))
    assert(rows(opened) == rows(inferred))
  }

  private val keySchema = StructType(Seq(StructField("k", LongType)))

  private def keyTable(path: String, keys: Seq[java.lang.Long], files: Int,
                       options: Map[String, String] = Map.empty): Unit =
    spark.createDataFrame(
      spark.sparkContext.parallelize(keys.map(Row(_)), files), keySchema)
      .write.options(options).mode("overwrite").parquet(path)

  private def aggMax(path: String): Option[Long] = {
    val r = spark.read.parquet(path).agg(max(col("k"))).head()
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  test("footer key base == agg(max) + 1 on a sink of several files, " +
    "with no job") {
    val sink = tmpDir("keybase") + "/sink"
    keyTable(sink, Seq[java.lang.Long](5L, null, 17L, 3L, 8589934592L, 11L), 4)
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(42L), Row(null)), 2), keySchema)
      .write.mode("append").parquet(sink)
    assert(new java.io.File(sink).listFiles()
      .count(_.getName.endsWith(".parquet")) >= 5)
    assert(ParquetTable.footerMax(spark, sink, "k") == Some(Some(8589934592L)))
    val (base, jobs) = jobsOf(ScdType1.keyBase(spark, sink, "k"))
    assert(base == aggMax(sink).get + 1L)
    assert(jobs == 0)
  }

  test("footer key base is 1 for a sink with no non-null key") {
    val dir = tmpDir("keybase_null")
    keyTable(dir + "/nulls", Seq[java.lang.Long](null, null, null), 2)
    keyTable(dir + "/empty", Seq.empty, 1)
    Seq(dir + "/nulls", dir + "/empty").foreach { sink =>
      assert(aggMax(sink).isEmpty)
      assert(ParquetTable.footerMax(spark, sink, "k") == Some(None), sink)
      val (base, jobs) = jobsOf(ScdType1.keyBase(spark, sink, "k"))
      assert(base == 1L && jobs == 0, sink)
    }
  }

  test("footer key base falls back to the agg(max) job when the sink was " +
    "written without column statistics") {
    val sink = tmpDir("keybase_nostats") + "/sink"
    keyTable(sink, Seq[java.lang.Long](7L, 2L, null, 40L), 2,
      Map("parquet.column.statistics.enabled" -> "false"))
    assert(ParquetTable.footerMax(spark, sink, "k").isEmpty)
    val (base, jobs) = jobsOf(ScdType1.keyBase(spark, sink, "k"))
    assert(base == 41L)
    assert(jobs > 0)
    // so does a column the files do not hold
    assert(ParquetTable.footerMax(spark, sink, "missing").isEmpty)
  }
}
