package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.SpecBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.engine._

/** Golden end-to-end pipeline test over reference-shaped fixtures
  * (FIXTURES.md §A): BOM+CRLF CSV → bronze → silver → 4 SCD1 dims →
  * fact; then an incremental run with a novel-entity "Surprise" row
  * (mirrors `RawData/IncrementalSales.csv:5`).
  */
class PipelineSpec extends SparkSpec {
  import PipelineSpec._

  test("initial load → silver, dims, fact match golden counts; then " +
    "incremental run inserts the Surprise entity and updates the fact") {
    val base = tmpDir("pipeline")
    val catalog = TableCatalog(spark, base + "/warehouse")
    val pipeline = new SalesPipeline(spark, catalog)
    val initCsv = writeCsv(base + "/initial.csv", initialRows)
    val incCsv = writeCsv(base + "/incremental.csv", incrementalRows)

    // ── initial run ──────────────────────────────────────────────
    val fact0 = pipeline.run(initCsv, incremental = false)
    val silver = spark.read.parquet(pipeline.silverPath)

    assert(silver.count() == 8)
    // BOM stripped from first header cell
    assert(silver.columns.contains("Branch_ID"))
    // derived columns: split head + int/int → double division
    assert(silver.schema("Rev_Per_unit").dataType.typeName == "double")
    val cats = silver.select("model_category").distinct()
      .collect().map(_.getString(0)).toSet
    assert(cats == Set("BMW", "Hon", "Kia"))
    // quoted comma and empty dealer names survive CSV parsing
    val dealers = silver.select("DealerName").distinct()
      .collect().map(r => Option(r.getString(0)).getOrElse("")).toSet
    assert(dealers.contains("Fisker, Karma"))

    assert(pipeline.dim(ScdType1.dimModel).count() == 3)
    assert(pipeline.dim(ScdType1.dimBranch).count() == 3)
    assert(pipeline.dim(ScdType1.dimDealer).count() == 3)
    assert(pipeline.dim(ScdType1.dimDate).count() == 4)
    assert(fact0.count() == 8)
    // fact schema: measures + 4 surrogate keys, case-insensitive
    // Rev_Per_Unit resolution over silver's Rev_Per_unit
    assert(fact0.columns.map(_.toLowerCase).toSet ==
      Set("revenue", "units_sold", "rev_per_unit", "dim_model_key",
        "dim_branch_key", "dim_dealer_key", "dim_date_key"))

    // surrogate keys: unique, >= 1 (flag=0 base)
    val modelKeys0 = pipeline.dim(ScdType1.dimModel)
      .select("dim_model_key").collect().map(_.getLong(0))
    assert(modelKeys0.distinct.length == modelKeys0.length)
    assert(modelKeys0.forall(_ >= 1L))
    val keyByModel0 = pipeline.dim(ScdType1.dimModel)
      .collect().map(r => r.getAs[String]("Model_ID") ->
        r.getAs[Long]("dim_model_key")).toMap

    // ── incremental run ──────────────────────────────────────────
    val fact1 = pipeline.run(incCsv, incremental = true)

    val dimModel1 = pipeline.dim(ScdType1.dimModel).collect()
    assert(dimModel1.length == 4) // +ZYXM13
    val keyByModel1 = dimModel1.map(r => r.getAs[String]("Model_ID") ->
      r.getAs[Long]("dim_model_key")).toMap
    // old keys stable across the merge
    keyByModel0.foreach { case (m, k) => assert(keyByModel1(m) == k) }
    // new key allocated above the previous max
    assert(keyByModel1("ZYXM13") > modelKeys0.max)
    // no-dash Model_ID: split('-')[0] is the whole string
    val surpriseCat = pipeline.dim(ScdType1.dimModel)
      .filter(col("Model_ID") === "ZYXM13")
      .select("model_category").head.getString(0)
    assert(surpriseCat == "ZYXM13")

    assert(pipeline.dim(ScdType1.dimBranch).count() == 4)
    assert(pipeline.dim(ScdType1.dimDealer).count() == 4)
    assert(pipeline.dim(ScdType1.dimDate).count() == 6) // +DT005, +DT999

    // fact: row 1 of the incremental repeats an initial dim-combo →
    // update-in-place; the other two are new combos → insert
    assert(fact1.count() == 10)
    val updated = fact1.filter(col("Revenue") === 5555555)
    assert(updated.count() == 1)
    assert(fact1.filter(col("Revenue") === 1000000).count() == 0)

    // gold tables are registered in the session catalog: SQL users read
    // them by name, reference-style, and see post-MERGE contents
    assert(spark.table("cars_catalog_gold_dim_model").count() == 4)
    assert(spark.sql(
      "SELECT count(*) FROM cars_catalog_gold_factsales").head.getLong(0) == 10)
  }

  /** Spark jobs of one incremental run on these fixtures in the test
    * session (`local[4]`, 4 shuffle partitions), as measured. Job count
    * does not depend on box load, so a rise above it is a deterministic
    * regression signal; a change that cuts jobs lowers it.
    */
  private val incrementalRunJobCeiling = 38

  test("an incremental run stays within its Spark job ceiling") {
    val base = tmpDir("pipeline_jobs")
    val pipeline = new SalesPipeline(spark,
      TableCatalog(spark, base + "/warehouse"))
    pipeline.run(writeCsv(base + "/initial.csv", initialRows),
      incremental = false)
    val incCsv = writeCsv(base + "/incremental.csv", incrementalRows)
    val (fact, jobs) = jobsOf(pipeline.run(incCsv, incremental = true))
    assert(jobs <= incrementalRunJobCeiling,
      s"incremental run took $jobs Spark jobs " +
        s"(ceiling $incrementalRunJobCeiling)")
    assert(fact.count() == 10)
  }

  /** Physical plans of the SQL executions `body` runs (writes included). */
  private def plansOf(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; SpecBus.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  /** Nodes of a physical plan, through AQE's final plan and its query
    * stages; a cached relation's own plan is not part of the query.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => (other.children ++ other.subqueries).flatMap(nodes)
  })

  private def scans(p: SparkPlan, dir: String): Boolean = nodes(p).exists {
    case s: FileSourceScanExec =>
      s.relation.location.rootPaths.exists(_.toUri.getPath == dir)
    case _ => false
  }

  test("buildAll (one grouping-sets pass) builds the same dims as per-dim build") {
    val base = tmpDir("buildall")
    val catA = TableCatalog(spark, base + "/a")
    val catB = TableCatalog(spark, base + "/b")
    val scdA = new ScdType1(spark, catA)
    val scdB = new ScdType1(spark, catB)
    // silver written and reopened, the way SalesPipeline.run feeds buildAll
    def silverOf(name: String, rows: Seq[String]): (String, DataFrame) = {
      val bronze = Ingest.csvToBronze(spark,
        writeCsv(s"$base/$name.csv", rows), s"$base/$name/bronze")
      val dir = s"$base/$name/silver"
      SilverTransform.writeSilver(SilverTransform.transform(bronze), dir)
      (new java.io.File(dir).getCanonicalPath, ParquetTable.open(spark, dir))
    }
    def entities(cat: TableCatalog, s: DimSpec): Set[Seq[Any]] =
      cat.read(s.table).select(s.cols.map(col).toIndexedSeq: _*)
        .collect().map(_.toSeq).toSet
    def keys(cat: TableCatalog, s: DimSpec): Map[Seq[Any], Long] =
      cat.read(s.table).collect().map(r =>
        s.naturalKey.map(r.getAs[Any]) -> r.getAs[Long](s.surrogateKey)).toMap

    // ── initial load ────────────────────────────────────────────
    val (_, silver0) = silverOf("init", initialRows)
    scdA.buildAll(ScdType1.all, silver0, incremental = false)
    ScdType1.all.foreach(s => scdB.build(s, silver0, incremental = false))
    ScdType1.all.foreach { s =>
      assert(entities(catA, s) == entities(catB, s),
        s"${s.table}: buildAll != per-dim build")
      // surrogate keys unique and >= 1 in both
      val ks = catA.read(s.table).select(s.surrogateKey)
        .collect().map(_.getLong(0))
      assert(ks.distinct.length == ks.length && ks.forall(_ >= 1L))
    }
    val keys0 = ScdType1.all.map(s => s -> keys(catA, s)).toMap

    // ── incremental run ─────────────────────────────────────────
    val (silverDir1, silver1) = silverOf("inc", incrementalRows)
    val plansA = plansOf(scdA.buildAll(ScdType1.all, silver1, incremental = true))
    val plansB = plansOf(ScdType1.all.foreach(s =>
      scdB.build(s, silver1, incremental = true)))
    ScdType1.all.foreach { s =>
      assert(entities(catA, s) == entities(catB, s),
        s"${s.table}: incremental buildAll != per-dim build")
      val before = keys0(s)
      val after = keys(catA, s)
      before.foreach { case (nk, k) =>
        assert(after(nk) == k, s"${s.table}: key of $nk moved")
      }
      val added = (after -- before.keys).values.toSeq
      assert(added.nonEmpty, s"${s.table}: the Surprise entity is missing")
      assert(added.distinct.length == added.length, s"${s.table}: new keys collide")
      assert(added.forall(_ > before.values.max),
        s"${s.table}: new keys not above the previous max")
    }
    // every dim's MERGE reads the materialised grouping-sets result: no
    // write plan scans silver (per-dim build does, which shows the
    // check can see a scan), and nothing else scans it more than once
    val writesA = plansA.filter(nodes(_).exists(_.isInstanceOf[DataWritingCommandExec]))
    assert(writesA.length >= ScdType1.all.length)
    assert(!writesA.exists(scans(_, silverDir1)),
      "a dim MERGE re-scanned silver")
    assert(plansA.count(scans(_, silverDir1)) <= 1)
    assert(plansB.exists(scans(_, silverDir1)))
  }

}

/** The reference-shaped CSV fixtures, shared with the specs that
  * rebuild the pipeline's tables (ParquetTableSpec).
  */
object PipelineSpec {
  val header =
    "Branch_ID,Dealer_ID,Model_ID,Revenue,Units_Sold,Date_ID,Day,Month,Year,BranchName,DealerName,Product_Name"

  // 8 rows; 3 branches, 3 dealers, 3 models, 4 dates, 2 years;
  // one empty DealerName, one quoted-comma DealerName, repeated Date_ID
  val initialRows = Seq(
    "BR01,DLR01,BMW-M1,1000000,2,DT001,1,1,2017,Alpha Motors,Alpha Dealer,BMW",
    "BR01,DLR01,BMW-M1,2000000,1,DT002,2,1,2017,Alpha Motors,Alpha Dealer,BMW",
    "BR02,DLR02,Hon-M2,1500000,3,DT002,2,1,2017,Beta Motors,\"Fisker, Karma\",Honda",
    "BR02,DLR02,Hon-M2,1200000,2,DT003,3,2,2018,Beta Motors,\"Fisker, Karma\",Honda",
    "BR03,DLR03,Kia-M3,900000,1,DT003,3,2,2018,Gamma Motors,,Kia",
    "BR03,DLR03,Kia-M3,800000,2,DT004,4,2,2018,Gamma Motors,,Kia",
    "BR01,DLR02,Hon-M2,700000,1,DT004,4,2,2018,Alpha Motors,\"Fisker, Karma\",Honda",
    "BR02,DLR01,BMW-M1,600000,3,DT001,1,1,2017,Beta Motors,Alpha Dealer,BMW")

  // 2 existing-key rows (one exact dim-combo repeat with new Revenue)
  // + 1 all-novel Surprise row whose Model_ID has NO dash
  val incrementalRows = Seq(
    "BR01,DLR01,BMW-M1,5555555,2,DT001,1,1,2017,Alpha Motors,Alpha Dealer,BMW",
    "BR02,DLR02,Hon-M2,4444444,1,DT005,5,3,2018,Beta Motors,\"Fisker, Karma\",Honda",
    "XYZ99,XYZ01,ZYXM13,22372413,3,DT999,31,5,2020,DataFam Motors,Datafam Dealers,Surprise")

  def writeCsv(path: String, rows: Seq[String]): String = {
    val bom = "﻿"
    val content = (bom + header + "\r\n") + rows.mkString("", "\r\n", "\r\n")
    Files.write(Paths.get(path), content.getBytes(StandardCharsets.UTF_8))
    path
  }
}
