package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{Ingest, Layout, ParquetTable, SalesPipeline, ScdType1, Scratch,
  SilverTransform, TableCatalog, Upsert, VersionedTable}
import graft.operators.{ClusterStore, Hnsw, Ivf}
import graft.streaming.{EventStream, TransitionStream}

/** Every rename-aside commit of the engine under a crash at each of its
  * driver-side filesystem calls ([[FaultFs]]).
  *
  * For one protocol: build the pre-commit state once, run the operation
  * once to count its calls and record the post-commit state, then for
  * every k run it on a fresh copy of the pre-commit state with the k-th
  * call and every later one failing (renames both throwing and
  * returning false), revive the filesystem, run the protocol's recovery
  * entry and read. The reader must see exactly the pre- or the
  * post-commit state of each independently committed part, and when it
  * does not see the post-commit state, rerunning the operation must
  * reach it. A rename that returns false while the process lives on (a
  * real IO error) gets the same checks.
  */
class CommitFaultSpec extends SparkSpec {
  import spark.implicits._

  FaultFs.install(spark)

  private val data = "/root/testdata/sf0.001"
  private val embPath = s"$data/embeddings.parquet"
  private lazy val emb = spark.read.parquet(embPath).limit(80)
  private lazy val delta = emb.filter(col("vec_id") % 9 === 0)
    .select((col("vec_id") + 5000L).as("vec_id"),
      reverse(col("embedding")).as("embedding"), col("label"))
  private lazy val doomed = col("vec_id").isin(
    emb.filter(col("vec_id") % 7 === 0).select("vec_id").as[Long].collect()
      .toIndexedSeq: _*)

  /** A multiset of rows, order-free. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def fsOf(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One protocol: `setup` builds the pre-commit state under a local
    * root, `op` commits at a `fault:` root, `recover` is the protocol's
    * recovery entry, `read` what a reader sees, and `parts` splits a
    * read into the parts that commit independently.
    */
  private final class Protocol(val setup: String => Unit, val op: String => Unit,
                              val recover: String => Unit,
                              val read: String => Seq[String],
                              val parts: Seq[String] => Seq[Seq[String]] = Seq(_))

  /** Every part of `got` equals that part of `pre` or of `post`. */
  private def eachPreOrPost(parts: Seq[String] => Seq[Seq[String]], got: Seq[String],
                            pre: Seq[String], post: Seq[String]): Boolean =
    parts(got).zip(parts(pre).zip(parts(post))).forall {
      case (g, (a, b)) => g == a || g == b
    }

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }

  private def deleteTree(dir: String): Unit =
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dir))

  /** Sweep `p` over every k: crash at the k-th call; for the protocol's
    * own renames, also crash with the rename returning false, and a
    * lone false rename in a process that lives on.
    */
  private def sweep(p: Protocol): Unit = {
    val template = tmpDir("cf-template")
    p.setup(template)
    def fresh(): (String, String) = {
      val local = tmpDir("cf-run")
      copyTree(template, local)
      (local, FaultFs.path(local))
    }
    val (local0, root0) = fresh()
    val pre = p.read(root0)
    FaultFs.arm(Int.MaxValue)
    val calls = try { p.op(root0); FaultFs.disarm() } finally FaultFs.disarm()
    val post = p.read(root0)
    deleteTree(local0)
    assert(pre != post, "the operation must change what readers see")
    assert(calls.nonEmpty)
    // the protocol's own renames; Spark's job commit checks each of its
    // renames, so a false return there is the throwing case again
    val renames = calls.indices.filter(i => calls(i)._1 == "rename" &&
      !calls(i)._2.contains("/_temporary/")).map(_ + 1)
    // (k, rename returns false, lone fault)
    val runs = calls.indices.map(i => (i + 1, false, false)) ++
      renames.map(k => (k, true, false)) ++ renames.map(k => (k, true, true))
    info(s"${calls.size} calls, ${runs.size} crash runs")
    runs.foreach { case (k, renameFalse, lone) =>
      val (local, root) = fresh()
      val what = s"k=$k ${calls(k - 1)} renameFalse=$renameFalse lone=$lone"
      FaultFs.arm(k, renameFalse, lone)
      try scala.util.Try(p.op(root)) finally FaultFs.disarm()
      try p.recover(root) catch { case e: Exception => fail(s"$what: recovery failed: $e") }
      val got = p.read(root)
      assert(eachPreOrPost(p.parts, got, pre, post), s"$what: recovered to neither state")
      if (got != post) {
        p.op(root)
        assert(p.read(root) == post, s"$what: rerun did not converge")
      }
      deleteTree(local)
    }
  }

  private def keyed(xs: (Int, Double)*) = xs.toDF("k", "v")
  private def table(root: String) = rows(spark.read.parquet(s"$root/t"))

  test("Upsert.merge: the __tmp/__old swap") {
    sweep(new Protocol(
      root => keyed((1 to 12).map(i => (i, i.toDouble)): _*)
        .coalesce(1).write.parquet(s"$root/t"),
      root => Upsert.merge(spark, s"$root/t", keyed((3, 30.0), (20, 200.0)), Seq("k")),
      root => Upsert.recover(fsOf(root), new Path(s"$root/t")),
      table))
  }

  test("Upsert.applyChanges: the __tmp/__old swap") {
    sweep(new Protocol(
      root => keyed((1 to 12).map(i => (i, i.toDouble)): _*)
        .coalesce(1).write.parquet(s"$root/t"),
      root => Upsert.applyChanges(spark, s"$root/t",
        Seq((3, 30.0, "U"), (4, 0.0, "D"), (20, 200.0, "I")).toDF("k", "v", "op"),
        Seq("k")),
      root => Upsert.recover(fsOf(root), new Path(s"$root/t")),
      table))
  }

  test("Upsert.mergePartitioned: two existing partitions and a new one") {
    sweep(new Protocol(
      root => Seq((1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)).toDF("k", "dt", "v")
        .write.partitionBy("dt").parquet(s"$root/t"),
      root => Upsert.mergePartitioned(spark, s"$root/t",
        Seq((1, "a", 10.0), (5, "b", 5.0), (6, "d", 6.0)).toDF("k", "dt", "v"),
        Seq("k"), "dt"),
      root => Upsert.recoverPartitioned(fsOf(root), new Path(s"$root/t")),
      table))
  }

  // the sales fixtures' silver before and after the incremental CSV,
  // outside the fault scheme
  private lazy val salesSilver: Seq[DataFrame] = {
    val base = tmpDir("cf-silver")
    Seq("init" -> PipelineSpec.initialRows, "inc" -> PipelineSpec.incrementalRows)
      .map { case (name, lines) =>
        val bronze = Ingest.csvToBronze(spark,
          PipelineSpec.writeCsv(s"$base/$name.csv", lines), s"$base/$name/bronze")
        SilverTransform.writeSilver(SilverTransform.transform(bronze),
          s"$base/$name/silver")
        ParquetTable.open(spark, s"$base/$name/silver")
      }
  }

  private def dims(root: String, incremental: Boolean): Unit =
    new ScdType1(spark, TableCatalog(spark, root)).buildAll(ScdType1.all,
      salesSilver(if (incremental) 1 else 0), incremental)

  private def recoverDims(root: String): Unit = ScdType1.all.foreach { s =>
    Upsert.recover(fsOf(root), new Path(TableCatalog(spark, root).pathFor(s.table)))
  }

  /** Each dim's rows tagged with its table, "-" for a missing dim. */
  private def readDims(root: String): Seq[String] = {
    val cat = TableCatalog(spark, root)
    ScdType1.all.flatMap { s =>
      (if (cat.tableExists(s.table)) rows(cat.read(s.table)) else Seq("-"))
        .map(s.table + "\t" + _)
    }
  }

  private def dimParts(read: Seq[String]): Seq[Seq[String]] =
    read.groupBy(_.takeWhile(_ != '\t')).toSeq.sortBy(_._1).map(_._2)

  test("ScdType1.buildAll: the bounded dim writes, initial run") {
    sweep(new Protocol(_ => (), dims(_, incremental = false), recoverDims,
      readDims, dimParts))
  }

  test("ScdType1.buildAll: the bounded dim writes, incremental run") {
    sweep(new Protocol(dims(_, incremental = false), dims(_, incremental = true),
      recoverDims, readDims, dimParts))
  }

  test("SalesPipeline.run: a failed dim leaves each other dim old or new, " +
    "and builds no fact") {
    val base = tmpDir("cf-contract")
    val (initCsv, incCsv) = (PipelineSpec.writeCsv(s"$base/init.csv",
      PipelineSpec.initialRows), PipelineSpec.writeCsv(s"$base/inc.csv",
      PipelineSpec.incrementalRows))
    def run(root: String, csv: String, incremental: Boolean): Unit =
      new SalesPipeline(spark, TableCatalog(spark, root)).run(csv, incremental)
    def fact(root: String) = rows(TableCatalog(spark, root)
      .read(graft.engine.FactBuilder.factSales.table))
    val (local, clean) = (tmpDir("cf-contract-wh"), tmpDir("cf-contract-wh"))
    val root = FaultFs.path(local)
    run(root, initCsv, incremental = false)
    copyTree(local, clean)
    val (pre, preFact) = (readDims(root), fact(root))
    run(clean, incCsv, incremental = true)
    val (post, postFact) = (readDims(clean), fact(clean))
    // the dealer dim's swap fails before it moves anything
    FaultFs.armWhen { case (op, path) => op == "rename" && path.endsWith("/dim_dealer") }
    try intercept[java.io.IOException](run(root, incCsv, incremental = true))
    finally FaultFs.disarm()
    recoverDims(root)
    val got = readDims(root)
    assert(eachPreOrPost(dimParts, got, pre, post), "a dim recovered to neither state")
    def dealer(read: Seq[String]) =
      read.filter(_.startsWith(ScdType1.dimDealer.table + "\t"))
    assert(dealer(got) == dealer(pre), "the failed dealer dim moved")
    assert(got != pre, "no other dim committed")
    assert(fact(root) == preFact, "the fact was built after a failed dim")
    run(root, incCsv, incremental = true)
    assert(readDims(root) == post && fact(root) == postFact,
      "rerun did not converge")
  }

  private def ivf(root: String): Unit =
    Ivf.writeIndex(emb, Ivf.train(emb, k = 2, iters = 2), s"$root/idx")
  private def hnsw(root: String): Unit =
    Hnsw.ensureIndex(emb, embPath, s"$root/idx", shards = 2, m = 8, efC = 32)
  private def recoverData(dir: String): String => Unit =
    root => ClusterStore.recover(spark, s"$root/idx/$dir")
  private def readData(dir: String): String => Seq[String] =
    root => rows(spark.read.parquet(s"$root/idx/$dir"))

  test("ClusterStore.mutate: IVF upsert") {
    sweep(new Protocol(ivf,
      root => Ivf.upsertToIndex(spark, s"$root/idx", doomed, delta),
      recoverData("corpus"), readData("corpus")))
  }

  test("ClusterStore.mutate: HNSW upsert") {
    sweep(new Protocol(hnsw,
      root => Hnsw.upsertToIndex(spark, s"$root/idx", doomed, delta),
      recoverData("graph"), readData("graph")))
  }

  test("ClusterStore.mutate: IVF append, every row an extra") {
    sweep(new Protocol(ivf,
      root => Ivf.appendToIndex(delta, s"$root/idx"),
      recoverData("corpus"), readData("corpus")))
  }

  test("ClusterStore.compact") {
    sweep(new Protocol(
      root => {
        ivf(root)
        Ivf.appendToIndex(delta, s"$root/idx")
      },
      root => Ivf.compactIndex(spark, s"$root/idx"),
      recoverData("corpus"),
      root => readData("corpus")(root) ++ ClusterStore
        .filesPerCluster(spark, s"$root/idx/corpus").toSeq.sorted.map(_.toString)))
  }

  test("Hnsw.splitShard: both sub-shards and the widened router") {
    sweep(new Protocol(hnsw,
      root => Hnsw.splitShard(spark, s"$root/idx",
        Hnsw.hottestShard(spark, s"$root/idx").get, iters = 2),
      recoverData("graph"),
      root => readData("graph")(root) ++
        rows(spark.read.parquet(s"$root/idx/centroids"))))
  }

  test("Layout.deleteMatching: the manifest swap") {
    val li = spark.read.parquet(s"$data/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity")).filter(col("l_orderkey") < 300)
    sweep(new Protocol(
      root => {
        Layout.writeRangeSorted(li, s"$root/li", 4, col("l_orderkey"))
        Layout.writeFileStats(spark, s"$root/li", Seq("l_orderkey"))
      },
      root => Layout.deleteMatching(spark, s"$root/li", "l_orderkey", 100L, 200L),
      root => {
        // a crashed writer never releases its lock: its lease expires
        val lock = new java.io.File(root.stripPrefix("fault://") + "/li__stats._lock")
        if (lock.exists()) lock.setLastModified(0L)
        Layout.manifestRead(spark, s"$root/li")
      },
      root => rows(Layout.manifestRead(spark, s"$root/li"))))
  }

  test("Scratch.ensureAt: a rebuild publishes over the old artifact") {
    def build(v: Int)(dir: String): Unit =
      keyed((1 to 4).map(i => (i, i * v.toDouble)): _*).coalesce(1).write.parquet(dir)
    sweep(new Protocol(
      root => Scratch.ensureAt(spark, s"$root/art", embPath, "v1")(build(1)),
      root => Scratch.ensureAt(spark, s"$root/art", embPath, "v2")(build(2)),
      root => Scratch.recoverAt(fsOf(root), new Path(s"$root/art")),
      root => rows(spark.read.parquet(s"$root/art"))))
  }

  private def ledger(root: String) = new VersionedTable(spark, s"$root/vt")

  test("VersionedTable.compactAppend: squash and watermark commit together") {
    sweep(new Protocol(
      root => (0 to 3).foreach(i => ledger(root).commitBatch(i.toLong, Seq(i).toDF("k"))),
      root => ledger(root).compactAppend(3L),
      root => ledger(root).recoverCompaction(),
      root => ledger(root).versions.map(_.toString) ++ rows(ledger(root).readAll())))
  }

  test("VersionedTable.overwrite: the claim ledger") {
    sweep(new Protocol(
      root => ledger(root).overwrite(Seq(1, 2).toDF("k")),
      root => ledger(root).overwrite(Seq(3).toDF("k")),
      _ => (),
      root => rows(ledger(root).read())))
  }

  test("VersionedTable.commitBatch: the claim ledger") {
    sweep(new Protocol(
      root => ledger(root).commitBatch(0L, Seq(1, 2).toDF("k")),
      root => ledger(root).commitBatch(1L, Seq(3).toDF("k")),
      _ => (),
      root => rows(ledger(root).readAll())))
  }

  test("TransitionStream: the batch=N publish") {
    val feed = tmpDir("cf-feed") + "/feed"
    TransitionStream.stageEpochs(spark, EventStream.loadEvents(spark,
      s"$data/events.parquet").limit(200), feed, epochs = 1)
    // the checkpoint lives beside the sink, outside the fault scheme
    def stream(root: String): Unit = TransitionStream.transitionsStream(
      spark, feed, s"$root/out", root.stripPrefix("fault://") + "/ckpt").count()
    sweep(new Protocol(
      root => fsOf(root).mkdirs(new Path(s"$root/out")),
      stream,
      stream,
      root => {
        val batches = fsOf(root).listStatus(new Path(s"$root/out"))
          .map(_.getPath.toString).filter(_.contains("batch="))
        if (batches.isEmpty) Nil else rows(spark.read.parquet(batches.toIndexedSeq: _*))
      }))
  }
}
