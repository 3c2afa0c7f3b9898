package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.NativeExpressions
import graft.operators.{ClusterStore, Hnsw, Ivf,
  VectorMaintenanceReference => Ref}

/** Both engines' append, delete, upsert, compaction and maintenance run
  * through [[graft.operators.ClusterStore]]'s one mutation path. Each
  * op here runs on one copy of an index and its pre-store body
  * ([[graft.operators.VectorMaintenanceReference]]) on another, and the
  * two must agree after every op in the return value, the rows of every
  * partition (HNSW adjacency included), `_ROWS`, `_ROWS_BASE`,
  * `_SCHEMA`, the files per partition and the Spark job count. The
  * store opens the data directory once per mutation where the pre-store
  * upserts opened it twice, so every upsert takes exactly one job fewer.
  */
class VectorMaintenanceEquivalenceSpec extends SparkSpec {

  // 600 seeded 32-d gaussian vectors labelled 0..9, NULL on every 7th
  // id: a delete predicate over NULL labels must keep those rows
  private lazy val src: String = {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val p = tmpDir("vme-src")
    (0L until 600L)
      .map(id => (id, Seq.fill(32)(rnd.nextGaussian().toFloat),
        if (id % 7 == 0) None else Some((id * 31 % 10).toInt)))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(p)
    p
  }
  private def vectors: DataFrame = spark.read.parquet(src)
  private def ids(lo: Long, hi: Long): DataFrame =
    vectors.filter(col("vec_id") >= lo && col("vec_id") < hi)
  /** New vectors for existing ids: the stored ones negated. */
  private def updated(lo: Long, hi: Long): DataFrame =
    ids(lo, hi).select(col("vec_id"),
      transform(col("embedding"), x => (-x).cast("float")).as("embedding"),
      col("label"))

  private def text(path: String): Option[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8"))
  }

  private def state(idx: String, dataDir: String)
      : VectorMaintenanceEquivalenceSpec.State = {
    val dir = s"$idx/$dataDir"
    spark.catalog.refreshByPath(dir)
    val rows =
      if (!ClusterStore.hasParquetFiles(spark, dir)) Map.empty[Int, Set[String]]
      else spark.read.parquet(dir).collect().toSeq
        .groupBy(r => r.getAs[Int]("cluster"))
        .map { case (c, rs) => c -> rs.map(_.toSeq.mkString("|")).toSet }
    VectorMaintenanceEquivalenceSpec.State(rows,
      Seq("_ROWS", "_ROWS_BASE", "_SCHEMA").map(f => text(s"$idx/$f")),
      ClusterStore.filesPerCluster(spark, dir))
  }

  private def copyOf(idx: String, tag: String): String = {
    val dst = tmpDir(tag) + "/idx"
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(idx).getFileSystem(conf)
    FileUtil.copy(fs, new Path(idx), fs, new Path(dst), false, conf)
    Ivf.loadModelCached(spark, s"$dst/centroids")
    dst
  }

  /** Rewrite every partition of both copies into three files, the
    * layout many small writers leave behind.
    */
  private def fragment(dataDir: String, idxs: String*): Unit =
    idxs.foreach { idx =>
      val dir = s"$idx/$dataDir"
      val tmp = tmpDir("vme-frag") + "/out"
      spark.read.parquet(dir).repartition(3, col("vec_id"))
        .write.partitionBy("cluster").parquet(tmp)
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new Path(dir).getFileSystem(conf)
      fs.delete(new Path(dir), true)
      FileUtil.copy(fs, new Path(tmp), fs, new Path(dir), false, conf)
      spark.catalog.refreshByPath(dir)
    }

  /** Runs `got` on copy `a` and `want` on copy `b`; both must agree,
    * and `got` must take exactly `jobsSaved` Spark jobs fewer.
    */
  private final class Pair(a: String, b: String, dataDir: String) {
    def step[T](tag: String, jobsSaved: Int = 0)(got: String => T)(
        want: String => T): T = {
      val (g, gJobs) = jobsOf(got(a))
      val (w, wJobs) = jobsOf(want(b))
      assert(g == w, s"$tag: returned $g vs $w")
      val (sa, sb) = (state(a, dataDir), state(b, dataDir))
      assert(sa.rows == sb.rows, s"$tag: partition rows diverged")
      assert(sa.counts == sb.counts, s"$tag: count files ${sa.counts} vs ${sb.counts}")
      assert(sa.files == sb.files, s"$tag: files ${sa.files} vs ${sb.files}")
      assert(gJobs == wJobs - jobsSaved,
        s"$tag: $gJobs Spark jobs vs $wJobs less $jobsSaved")
      g
    }
    def fragmentBoth(): Unit = {
      fragment(dataDir, a, b)
      assert(ClusterStore.filesPerCluster(spark, s"$a/$dataDir").values
        .exists(_ > 1), "construction: the fixture must fragment")
    }
  }

  private val nullLabels: Column = col("label") < 3
  private def idsOf(df: DataFrame): Seq[Long] = {
    import spark.implicits._
    df.select(col("vec_id")).as[Long].collect().toSeq
  }

  test("IVF: append, delete, deleteIds, upsert (with and without the " +
    "row hint), upsertIds, delete-all, append to empty, compact and " +
    "maintain equal the pre-store bodies") {
    val built = tmpDir("vme-ivf") + "/idx"
    val base = ids(0, 400)
    Ivf.writeIndex(base, Ivf.train(base, k = 4, iters = 2), built,
      quantize = true, binarize = true, mrlDims = 4)
    val ix = new Pair(copyOf(built, "vme-ivf-a"), copyOf(built, "vme-ivf-b"),
      "corpus")
    ix.step("append")(Ivf.appendToIndex(ids(400, 500), _))(
      Ref.ivfAppendToIndex(ids(400, 500), _))
    val nDel = ix.step("delete (NULL labels kept)")(
      Ivf.deleteFromIndex(spark, _, nullLabels))(
      Ref.ivfDeleteFromIndex(spark, _, nullLabels))
    assert(nDel > 0, "construction: the predicate must match rows")
    val doomed = ids(0, 500).filter(col("vec_id") % 5 === 1)
      .select(col("vec_id"))
    ix.step("deleteIds")(Ivf.deleteIdsFromIndex(spark, _, doomed))(
      Ref.ivfDeleteIdsFromIndex(spark, _, doomed))
    val delta = updated(100, 140).unionByName(ids(500, 520))
    val touched = col("vec_id").isin(idsOf(delta) ++ Seq(3L, 4L, 5L): _*)
    ix.step("upsert", jobsSaved = 1)(
      Ivf.upsertToIndex(spark, _, touched, delta))(
      Ref.ivfUpsertToIndex(spark, _, touched, delta))
    val delta2 = updated(140, 160).unionByName(ids(520, 540))
    val touched2 = col("vec_id").isin(idsOf(delta2): _*)
    val hint = Some(delta2.count())
    ix.step("upsert with deltaRowsHint", jobsSaved = 1)(
      Ivf.upsertToIndex(spark, _, touched2, delta2, deltaRowsHint = hint))(
      Ref.ivfUpsertToIndex(spark, _, touched2, delta2, deltaRowsHint = hint))
    val delta3 = updated(160, 180).unionByName(ids(540, 560))
    val ids3 = delta3.select(col("vec_id"))
    ix.step("upsertIds", jobsSaved = 1)(
      Ivf.upsertIdsToIndex(spark, _, ids3, delta3))(
      Ref.ivfUpsertIdsToIndex(spark, _, ids3, delta3))
    ix.step("delete all")(Ivf.deleteFromIndex(spark, _, lit(true)))(
      Ref.ivfDeleteFromIndex(spark, _, lit(true)))
    ix.step("append to empty")(Ivf.appendToIndex(ids(560, 600), _))(
      Ref.ivfAppendToIndex(ids(560, 600), _))
    ix.fragmentBoth()
    val nCompacted = ix.step("compact")(Ivf.compactIndex(spark, _))(
      Ref.ivfCompactIndex(spark, _))
    assert(nCompacted > 0, "construction: compaction must act")
    ix.fragmentBoth()
    ix.step("maintain")(Ivf.maintain(spark, _, maxFilesPerCluster = 1))(
      Ref.ivfMaintain(spark, _, maxFilesPerCluster = 1))
    ix.step("appendedFraction")(Ivf.appendedFraction(spark, _))(
      Ref.ivfAppendedFraction(spark, _))
  }

  test("HNSW (attr-carrying): append, delete, deleteIds, upsert (with " +
    "and without the row and cluster hints), upsertIds, delete-all, " +
    "append to empty, compact and maintain equal the pre-store bodies") {
    val built = tmpDir("vme-hnsw") + "/idx"
    Hnsw.ensureIndex(ids(0, 400), src, built, shards = 4, m = 8, efC = 32,
      attrCols = Seq("label"))
    val a = copyOf(built, "vme-hnsw-a")
    val ix = new Pair(a, copyOf(built, "vme-hnsw-b"), "graph")
    ix.step("append")(Hnsw.appendToIndex(ids(400, 500), _))(
      Ref.hnswAppendToIndex(ids(400, 500), _))
    val nDel = ix.step("delete (NULL labels kept)")(
      Hnsw.deleteFromIndex(spark, _, nullLabels))(
      Ref.hnswDeleteFromIndex(spark, _, nullLabels))
    assert(nDel > 0, "construction: the predicate must match rows")
    val doomed = ids(0, 500).filter(col("vec_id") % 5 === 1)
      .select(col("vec_id"))
    ix.step("deleteIds")(Hnsw.deleteIdsFromIndex(spark, _, doomed))(
      Ref.hnswDeleteIdsFromIndex(spark, _, doomed))
    val delta = updated(100, 140).unionByName(ids(500, 520))
    val touched = col("vec_id").isin(idsOf(delta) ++ Seq(3L, 4L, 5L): _*)
    ix.step("upsert", jobsSaved = 1)(
      Hnsw.upsertToIndex(spark, _, touched, delta))(
      Ref.hnswUpsertToIndex(spark, _, touched, delta))
    val delta2 = updated(140, 160).unionByName(ids(520, 540))
    val touched2 = col("vec_id").isin(idsOf(delta2): _*)
    val rows = Some(delta2.count())
    val model = Ivf.loadModelCached(spark, s"$a/centroids")
    val norms = NativeExpressions.centroidNorms(model.centroids)
    val clusters = Some(delta2.select(col("embedding")).collect()
      .map(r => NativeExpressions.nearestCentroidDriver(
        r.getSeq[Float](0), model.centroids, norms)).distinct)
    ix.step("upsert with deltaRowsHint and deltaClustersHint",
      jobsSaved = 1)(
      Hnsw.upsertToIndex(spark, _, touched2, delta2,
        deltaRowsHint = rows, deltaClustersHint = clusters))(
      Ref.hnswUpsertToIndex(spark, _, touched2, delta2,
        deltaRowsHint = rows, deltaClustersHint = clusters))
    val delta3 = updated(160, 180).unionByName(ids(540, 560))
    val ids3 = delta3.select(col("vec_id"))
    ix.step("upsertIds", jobsSaved = 1)(
      Hnsw.upsertIdsToIndex(spark, _, ids3, delta3))(
      Ref.hnswUpsertIdsToIndex(spark, _, ids3, delta3))
    ix.step("delete all")(Hnsw.deleteFromIndex(spark, _, lit(true)))(
      Ref.hnswDeleteFromIndex(spark, _, lit(true)))
    ix.step("append to empty")(Hnsw.appendToIndex(ids(560, 600), _))(
      Ref.hnswAppendToIndex(ids(560, 600), _))
    ix.fragmentBoth()
    val nCompacted = ix.step("compact")(Hnsw.compactShards(spark, _))(
      Ref.hnswCompactShards(spark, _))
    assert(nCompacted > 0, "construction: compaction must act")
    ix.fragmentBoth()
    ix.step("maintain")(Hnsw.maintain(spark, _, maxFilesPerShard = 1))(
      Ref.hnswMaintain(spark, _, maxFilesPerShard = 1))
    ix.step("appendedFraction")(Hnsw.appendedFraction(spark, _))(
      Ref.hnswAppendedFraction(spark, _))
  }
}

object VectorMaintenanceEquivalenceSpec {
  /** One index copy's rows per partition, count files and files per
    * partition.
    */
  final case class State(rows: Map[Int, Set[String]],
                         counts: Seq[Option[String]],
                         files: Map[Int, Int])
}
