package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Thin catalog facade over a warehouse directory of parquet tables.
  *
  * Replicates the reference's 3-level `catalog.schema.table` namespace
  * (`1_db_Notebook.py:8,24,29`) and its existence-probe branch points
  * (`3(1)_Gold_dim_model.py:56,163`, `4_Gold_fact_sales_table.py:68`)
  * without requiring a Hive metastore or Delta: a table named
  * `cars_catalog.gold.dim_model` maps to the directory
  * `<base>/cars_catalog/gold/dim_model`.
  *
  * Scale note: existence checks and path resolution are driver-side
  * filesystem metadata calls (O(1)); data stays distributed. The facade
  * never collects table contents.
  */
final class TableCatalog(val spark: SparkSession, val basePath: String) {

  private def fs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `catalog.schema.table` → filesystem path (case-insensitive names,
    * mirroring spark.sql.caseSensitive=false).
    */
  def pathFor(name: String): String =
    (basePath +: name.toLowerCase.split('.').toSeq).mkString("/")

  /** Existence probe — the branch condition for initial-vs-incremental
    * load (`3(1):56`). A table exists iff its directory has committed
    * parquet output (_SUCCESS or at least one data file).
    */
  def tableExists(name: String): Boolean = {
    val p = new Path(pathFor(name))
    val f = fs(p)
    f.exists(p) && f.listStatus(p).exists { st =>
      val n = st.getPath.getName
      n == "_SUCCESS" || n.endsWith(".parquet")
    }
  }

  /** The table's rows, opened without a schema-inference job
    * ([[ParquetTable.open]]).
    */
  def read(name: String): DataFrame = ParquetTable.open(spark, pathFor(name))

  /** Initial full load — `format('parquet').mode('overwrite')
    * .option('path', …).saveAsTable(…)` (`3(1):171-176`): the parquet
    * write plus session-catalog registration, so SQL users can read
    * the gold table by name exactly like the reference's metastore
    * reads (`4_Fact:31-37`).
    */
  def overwrite(name: String, df: DataFrame): Unit = {
    df.write.mode("overwrite").parquet(pathFor(name))
    register(name, Some(df.schema))
  }

  /** (Re-)register `name` in the session catalog as an EXTERNAL
    * parquet table at its warehouse path (`spark.table(
    * "cars_catalog_gold_dim_model")` — the flat session catalog stands
    * in for the reference's 3-level namespace). DROP+CREATE keeps the
    * location current and never touches data (external table); REFRESH
    * is implicit in the re-create, so readers see post-MERGE contents.
    * Pass the schema when the caller knows it — a schema-less CREATE
    * infers it from parquet footers, a file-touching job this driver-
    * side metadata operation shouldn't pay.
    */
  def register(name: String,
               schema: Option[org.apache.spark.sql.types.StructType] = None): Unit = {
    val t = metastoreName(name)
    val ddl = schema.map(s => s" (${s.toDDL})").getOrElse("")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t$ddl USING parquet LOCATION '${pathFor(name)}'")
  }

  def createSchema(schemaName: String): Unit = {
    val p = new Path((basePath +: schemaName.toLowerCase.split('.').toSeq).mkString("/"))
    fs(p).mkdirs(p)
  }

  def dropTable(name: String): Unit = {
    val p = new Path(pathFor(name))
    val f = fs(p)
    if (f.exists(p)) f.delete(p, true)
  }

  /** Metastore name for a catalog path (session catalog is flat). */
  def metastoreName(name: String): String =
    name.toLowerCase.replace('.', '_')

  /** Bucketed + sorted table write — the co-located-join path. Two
    * tables bucketed the same way on their join key join WITHOUT any
    * exchange (PlanQualitySpec pins it): at 100 TB this removes the
    * dominant shuffle from repeated fact⋈fact / fact⋈bigdim joins.
    * Bucketed tables need metastore bucketing metadata, so this goes
    * through the session catalog (`saveAsTable`), not a bare path.
    */
  def overwriteBucketed(name: String, df: DataFrame,
                        bucketCols: Seq[String], numBuckets: Int): Unit =
    // external at pathFor(name): bucketed tables live in THIS catalog's
    // warehouse like every other table, not the session default
    // (spark-warehouse under the driver's cwd)
    df.write.mode("overwrite")
      .option("path", pathFor(name))
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(metastoreName(name))

  def readBucketed(name: String): DataFrame =
    spark.table(metastoreName(name))

  /** Populate catalog statistics (row count, size, optional per-column
    * NDV/min/max) for a registered table — what lets the cost-based
    * optimizer pick broadcast sides and join orders from DATA rather
    * than file-size guesses. One scan per call (two with columns);
    * stats persist in the session catalog with the table.
    */
  def analyze(name: String, columns: Seq[String] = Nil): Unit = {
    val t = metastoreName(name)
    // FOR COLUMNS already computes row count + size — issuing the
    // plain form too would scan the table twice for nothing
    if (columns.nonEmpty)
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS " +
        columns.mkString(", "))
    else spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS")
  }

  /** (rowCount, sizeInBytes) from the catalog — the observability hook
    * for [[analyze]]; None until stats exist (including for a table
    * that is not registered at all).
    */
  def tableStats(name: String): Option[(Option[BigInt], BigInt)] = {
    val id = org.apache.spark.sql.catalyst.TableIdentifier(
      metastoreName(name))
    if (!spark.sessionState.catalog.tableExists(id)) None
    else spark.sessionState.catalog.getTableMetadata(id).stats
      .map(s => (s.rowCount, s.sizeInBytes))
  }
}

object TableCatalog {
  def apply(spark: SparkSession, basePath: String): TableCatalog =
    new TableCatalog(spark, basePath)
}
