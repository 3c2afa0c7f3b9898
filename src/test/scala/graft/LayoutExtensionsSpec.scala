package graft

import org.apache.spark.sql.functions._
import graft.engine.Layout
import graft.streaming.EventStream

class LayoutExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("writeRangeSorted: files carry pairwise-disjoint key ranges") {
    val path = tmpDir("layout") + "/li"
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    Layout.writeRangeSorted(li, path, 4, col("l_shipdate"))

    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    assert(files.length == 4)
    // part index order == range order for repartitionByRange
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("l_shipdate")).cast("string"),
          max(col("l_shipdate")).cast("string")).head
      (r.getString(0), r.getString(1)) // ISO strings order lexicographically
    }
    ranges.sliding(2).foreach { case Array((_, maxA), (minB, _)) =>
      assert(maxA <= minB, s"overlapping file ranges: $maxA vs $minB")
    }
    // content preserved
    assert(spark.read.parquet(path).count() == li.count())
  }

  test("writeZOrdered: every file is narrow in BOTH z columns; range sort is not") {
    val base = tmpDir("zorder")
    // columns of comparable cardinality — the z-curve's home turf
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    val nFiles = 8
    Layout.writeZOrdered(li, base + "/z", nFiles, bits = 12,
      col("l_orderkey"), col("l_partkey"))
    Layout.writeRangeSorted(li, base + "/r", nFiles, col("l_orderkey"))

    def avgWidth(dir: String, c: String): Double = {
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.toString)
      files.map { f =>
        val r = spark.read.parquet(f).agg(min(c), max(c)).head
        (r.getLong(1) - r.getLong(0)).toDouble
      }.sum / files.length
    }
    val globalOrd = li.agg(max("l_orderkey")).head.getLong(0).toDouble
    val globalPart = li.agg(max("l_partkey")).head.getLong(0).toDouble
    // z-order: BOTH dimensions substantially narrower than global
    assert(avgWidth(base + "/z", "l_orderkey") < globalOrd * 0.7)
    assert(avgWidth(base + "/z", "l_partkey") < globalPart * 0.7)
    // plain range sort on orderkey leaves partkey unconstrained
    assert(avgWidth(base + "/r", "l_partkey") > globalPart * 0.8)
    assert(spark.read.parquet(base + "/z").count() == li.count())
  }

  test("writeZOrdered: epoch-nano-wide ranges don't overflow and still cluster") {
    import org.apache.spark.sql.functions.col
    // range ≈ 8.2e17: (x-lo)*scale would blow past Long.Max at bits=16
    // (ANSI throw / legacy wrap-to-bucket-0) without decimal arithmetic
    val base = 946684800L * 1000000000L // ~2000-01-01 in epoch nanos
    val span = 26L * 365 * 24 * 3600 * 1000000000L
    val df = spark.range(2000).select(
      (org.apache.spark.sql.functions.lit(base) +
        (col("id") * (span / 2000))).as("ts_nanos"),
      (col("id") % 97).as("k"))
    val path = tmpDir("zorder-wide") + "/t"
    graft.engine.Layout.writeZOrdered(df, path, numFiles = 4, bits = 16,
      col("ts_nanos"), col("k"))
    val back = spark.read.parquet(path)
    assert(back.count() == 2000)
    // non-degenerate bucketing: the old long multiply either threw
    // (ANSI) or wrapped every row into z-bucket 0, which would land
    // ALL rows in one range partition — multiple populated files prove
    // the normalization survived the wide range (clustering tightness
    // itself is the narrower-range test above)
    val spans = back.select(col("ts_nanos"),
        org.apache.spark.sql.functions.input_file_name().as("f"))
      .groupBy("f")
      .agg(org.apache.spark.sql.functions.max("ts_nanos")
        .minus(org.apache.spark.sql.functions.min("ts_nanos")).as("span"))
      .select("span").collect().map(_.getLong(0))
    assert(spans.length > 1, s"all rows in one z-bucket: ${spans.toSeq}")
  }

  test("GraftExtensions: kernels resolve in a session built with the extension") {
    // apply the injection to the shared session's registry (same wiring
    // `withExtensions` runs at session build)
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    // and verify the deployment-config path end to end on a fresh builder
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .appName("graft-ext-test")
      .getOrCreate()
    try {
      // getOrCreate may return the existing session; register directly
      // if the extension didn't apply (same code path either way)
      val ok = try {
        s2.sql("SELECT graft_fingerprint('abc') AS fp").head.getLong(0)
      } catch {
        case _: org.apache.spark.sql.AnalysisException =>
          graft.functions.NativeExpressions.register(s2)
          s2.sql("SELECT graft_fingerprint('abc') AS fp").head.getLong(0)
      }
      val expected = ("abc".foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L))
      assert(ok == expected)
      assert(s2.sql("SELECT graft_jaccard(array(1L,2L,3L), array(2L,3L,4L)) AS j")
        .head.getDouble(0) == 0.5)
      // the Winkler literature vector through the SQL registration
      assert(math.abs(s2.sql("SELECT graft_jaro_winkler('martha', 'marhta') AS j")
        .head.getDouble(0) - 0.9611111111111111) < 1e-15)
      // binary-ANN kernels: pack + hamming through pure SQL
      val ham = s2.sql(
        "SELECT graft_hamming(" +
          "graft_signpack(array(CAST(1.0 AS FLOAT), CAST(-1.0 AS FLOAT), " +
          "CAST(0.5 AS FLOAT))), " +
          "graft_signpack(array(CAST(-1.0 AS FLOAT), CAST(-1.0 AS FLOAT), " +
          "CAST(2.0 AS FLOAT)))) AS h").head.getInt(0)
      assert(ham == 1, s"sign-disagreement count: $ham")
    } finally ()
  }

  test("BoundedLevenshtein rule: rewritten predicate is semantically " +
    "identical and the -1 sentinel never leaks a false match") {
    import org.apache.spark.sql.catalyst.dsl.expressions._
    // the raw bounded kernel really does return -1 past the threshold
    // (the trap the rule's >= 0 guard exists for)
    assert(spark.sql("SELECT levenshtein('abc', 'xyzq', 1) AS d")
      .head.getInt(0) == -1)
    // apply the rule to a filter plan and compare result sets against
    // the unbounded predicate on a corpus where most pairs exceed k
    val df = spark.sql(
      """SELECT a, b FROM VALUES
        |('kitten', 'sitting'), ('kitten', 'kitten'), ('kitten', 'mitten'),
        |('kitten', 'abcdefgh'), ('', 'xx'), ('xx', ''), ('', ''),
        |('aaaa', 'aabb'), ('short', 'a-very-long-other-string')
        |AS t(a, b)""".stripMargin)
    df.createOrReplaceTempView("lev_pairs")
    val unbounded = spark.sql(
      "SELECT a, b FROM lev_pairs WHERE levenshtein(a, b) <= 2")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // the ANALYZED plan: over a VALUES relation the optimizer folds
    // the whole filter into a LocalRelation before any rule could see
    // it (on a file-backed table the rule runs in the optimizer batch)
    val plan = spark.sql(
      "SELECT a, b FROM lev_pairs WHERE levenshtein(a, b) <= 2")
      .queryExecution.analyzed
    val rewritten = graft.plans.GraftRules.BoundedLevenshtein(plan)
    assert(rewritten.toString.contains("levenshtein(a#"),
      s"kernel missing after rewrite:\n$rewritten")
    assert(rewritten != plan, "rule should have rewritten the predicate")
    // execute the rule's exact output shape (hand-spelled SQL) and
    // compare to the unbounded predicate — including the empty/long
    // rows whose bounded kernel returns the -1 sentinel
    val got = spark.sql(
      "SELECT a, b FROM lev_pairs WHERE levenshtein(a, b, 2) >= 0 " +
        "AND levenshtein(a, b, 2) <= 2")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == unbounded)
  }

  test("sessionize runs in streaming update mode (stateful query)") {
    implicit val s = spark
    val staged = tmpDir("stream-sess") + "/ev"
    EventStream.loadEvents(spark, "/root/testdata/sf0.001/events.parquet")
      .limit(200).write.parquet(staged)
    val schema = spark.read.parquet(staged).schema
    import org.apache.spark.sql.Encoders
    val stream = spark.readStream.schema(schema).parquet(staged)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[EventStream.Event](Encoders.product[EventStream.Event])
    // AvailableNow: drain the input then terminate — without it the
    // ProcessingTimeTimeout keeps triggering empty batches for the
    // whole session-gap window
    val q = EventStream.sessionize(stream).toDF().writeStream
      .outputMode("update").format("memory").queryName("sess_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // last update per user must reach the batch rollup counts. Poll
    // for the invariant instead of a fixed awaitTermination: under
    // full-suite load the timeout-batch spin can outlast any fixed
    // wait, and an interrupting stop() mid-commit made this test
    // flaky (the data batches finish early; only no-data timeout
    // batches follow, and they never change max(n_events))
    val batchCounts = spark.read.parquet(staged)
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def streamed = spark.table("sess_stream").groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val deadline = System.nanoTime + 600L * 1000 * 1000 * 1000
    var ok = streamed == batchCounts
    while (!ok && System.nanoTime < deadline && q.isActive) {
      Thread.sleep(2000)
      ok = streamed == batchCounts
    }
    q.stop()
    assert(ok || streamed == batchCounts,
      s"streamed counts never converged: $streamed vs $batchCounts")
  }

  test("file skipping: pruned read equals the full-scan filter and " +
    "opens a fraction of the files; empty interval keeps the schema") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
    val path = tmpDir("skip") + "/li"
    graft.engine.Layout.writeRangeSorted(li, path, 16, col("l_orderkey"))
    graft.engine.Layout.writeFileStats(spark, path, Seq("l_orderkey"))
    val (kept, total) = graft.engine.Layout.filesForInterval(
      spark, path, "l_orderkey", 100L, 400L)
    assert(total == 16, s"expected 16 files, stats saw $total")
    assert(kept < total / 2,
      s"range layout should confine a narrow interval: $kept/$total")
    val pruned = graft.engine.Layout.prunedRead(spark, path,
      "l_orderkey", 100L, 400L).collect().map(_.toSeq).toSet
    val full = li.filter(col("l_orderkey").between(100L, 400L))
      .collect().map(_.toSeq).toSet
    assert(pruned == full, "pruned read diverged from the full filter")
    // interval below every file's min: zero files, empty result,
    // schema intact
    val none = graft.engine.Layout.prunedRead(spark, path,
      "l_orderkey", -10L, -1L)
    assert(none.columns.toSeq == Seq("l_orderkey", "l_quantity"))
    assert(none.count() == 0)
  }

  test("manifest memo key is CONTENT-accurate: a stats rewrite that " +
    "keeps mtime granule, file count, and total bytes identical still " +
    "changes the key (round-12 ADVICE — the name hash closes the " +
    "same-granule same-size stale-serve window)") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
    val path = tmpDir("memo-key") + "/li"
    graft.engine.Layout.writeRangeSorted(li, path, 4, col("l_orderkey"))
    graft.engine.Layout.writeFileStats(spark, path, Seq("l_orderkey"))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statsDir = new org.apache.hadoop.fs.Path(path + "__stats")
    val key1 = graft.engine.Layout.manifestMemoKey(spark, path)
    // simulate the pathological rewrite: same child count, same total
    // bytes, same mtimes — only a part-file NAME differs (every real
    // rewrite changes part names via task UUIDs)
    val statBefore = graft.engine.Scratch.stat(spark, path + "__stats")
    val dirStat = fs.getFileStatus(statsDir)
    val children = fs.listStatus(statsDir)
    val part = children.find(_.getPath.getName.endsWith(".parquet")).get
    val renamed = new org.apache.hadoop.fs.Path(
      statsDir, "zz-" + part.getPath.getName)
    assert(fs.rename(part.getPath, renamed))
    fs.setTimes(renamed, part.getModificationTime, -1)
    fs.setTimes(statsDir, dirStat.getModificationTime, -1)
    assert(graft.engine.Scratch.stat(spark, path + "__stats") == statBefore,
      "precondition: mtime/count/bytes must be unchanged by the rename")
    val key2 = graft.engine.Layout.manifestMemoKey(spark, path)
    assert(key1 != key2,
      "memo key must see the rewrite through the name hash")
  }

  test("metadataAgg over a zero-row manifest: counts fold to 0, not " +
    "NULL; data sum/min/max stay NULL (≡ aggregates of an empty table)") {
    val path = tmpDir("magg-empty") + "/li"
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey")).filter(lit(false))
      .coalesce(1).write.parquet(path)
    graft.engine.Layout.writeFileStats(spark, path, Seq("l_orderkey"))
    val row = graft.engine.Layout.metadataAgg(spark, path).head()
    assert(row.getLong(row.fieldIndex("n_rows")) == 0L,
      "count(*) of an empty table must be 0, not NULL")
    assert(row.getLong(row.fieldIndex("cnt_l_orderkey")) == 0L,
      "count(col) of an empty table must be 0, not NULL")
    assert(row.isNullAt(row.fieldIndex("sum_l_orderkey")) &&
      row.isNullAt(row.fieldIndex("min_l_orderkey")) &&
      row.isNullAt(row.fieldIndex("max_l_orderkey")),
      "sum/min/max of an empty table must be NULL")
  }

  test("deleteMatching rewrites ONLY the intersecting files; untouched " +
    "files keep their exact bytes; the manifest stays consistent") {
    import org.apache.hadoop.fs.Path
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
    val path = tmpDir("del") + "/li"
    graft.engine.Layout.writeRangeSorted(li, path, 16, col("l_orderkey"))
    graft.engine.Layout.writeFileStats(spark, path, Seq("l_orderkey"))
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fileSig = fs.listStatus(new Path(path))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(st => st.getPath.getName -> ((st.getLen, st.getModificationTime)))
      .toMap
    val before = fileSig
    val (expectDirty, total) = graft.engine.Layout.filesForInterval(
      spark, path, "l_orderkey", 100L, 400L)
    assert(expectDirty > 0 && expectDirty < total)

    val (rewritten, untouched) = graft.engine.Layout.deleteMatching(
      spark, path, "l_orderkey", 100L, 400L)
    assert(rewritten == expectDirty, s"$rewritten != $expectDirty")
    assert(untouched == total - expectDirty)
    // content: exactly the anti-filter of the original
    val got = graft.engine.Layout.manifestRead(spark, path)
      .collect().map(_.toSeq).toSet
    val want = li.filter(!col("l_orderkey").between(100L, 400L))
      .collect().map(_.toSeq).toSet
    assert(got == want, "delete diverged from the anti-filter")
    // untouched files: identical names, lengths, and mtimes
    val after = fileSig
    val survivors = before.keySet.intersect(after.keySet)
    assert(survivors.size == untouched.toInt)
    survivors.foreach(n =>
      assert(before(n) == after(n), s"untouched file $n was modified"))
    // the manifest lists exactly the files on disk that matter: a
    // pruned read through it still equals the filtered content
    val pruned = graft.engine.Layout.prunedRead(spark, path,
      "l_orderkey", 0L, 1000000L).collect().map(_.toSeq).toSet
    assert(pruned == want)

    // a second delete of the same interval is a no-op on content
    graft.engine.Layout.deleteMatching(spark, path, "l_orderkey", 100L, 400L)
    assert(graft.engine.Layout.manifestRead(spark, path)
      .collect().map(_.toSeq).toSet == want)
    // an interval no file intersects: zero rewrites, nothing changes
    val sigBefore = fileSig
    val (r2, _) = graft.engine.Layout.deleteMatching(
      spark, path, "l_orderkey", -100L, -50L)
    assert(r2 == 0 && fileSig == sigBefore)

    // copy-on-write UPDATE through the same protocol: matching rows
    // transformed, non-matching rows of dirty files carried through,
    // untouched files still untouched
    val sigPreUpd = fileSig
    val (u, _) = graft.engine.Layout.updateMatching(
      spark, path, "l_orderkey", 500L, 600L)(df =>
      df.withColumn("l_quantity",
        when(col("l_orderkey").between(500L, 600L), lit(-1.0))
          .otherwise(col("l_quantity"))))
    assert(u > 0)
    val updated = graft.engine.Layout.manifestRead(spark, path)
      .collect().map(_.toSeq).toSet
    val wantUpd = li.filter(!col("l_orderkey").between(100L, 400L))
      .withColumn("l_quantity",
        when(col("l_orderkey").between(500L, 600L), lit(-1.0))
          .otherwise(col("l_quantity")))
      .collect().map(_.toSeq).toSet
    assert(updated == wantUpd, "update diverged from the full rewrite")
    val sigPostUpd = fileSig
    sigPreUpd.keySet.intersect(sigPostUpd.keySet).foreach(n =>
      assert(sigPreUpd(n) == sigPostUpd(n),
        s"untouched file $n modified by update"))

    // crash-leftover sweep: an AGED unlisted data file goes, a fresh
    // one survives, listed files are never touched
    val aListed = fs.listStatus(new Path(path))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    val aged = new Path(path, "orphan-aged.parquet")
    val fresh = new Path(path, "orphan-fresh.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, aListed, fs, aged, false,
      spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs, aListed, fs, fresh, false,
      spark.sparkContext.hadoopConfiguration)
    fs.setTimes(aged, System.currentTimeMillis() - 7200000L, -1)
    val swept = graft.engine.Layout.vacuumUnlisted(spark, path)
    assert(swept == Seq("orphan-aged.parquet"), s"swept=$swept")
    assert(!fs.exists(aged) && fs.exists(fresh))
    assert(graft.engine.Layout.manifestRead(spark, path)
      .collect().map(_.toSeq).toSet == wantUpd,
      "sweep must not change manifest-visible content")
    fs.delete(fresh, false)
  }

  /** A fresh manifest-maintained table for the DML robustness tests:
    * 16 range-clustered files over (l_orderkey, l_quantity) + stats.
    */
  private def freshDmlTable(tag: String): (String, org.apache.spark.sql.DataFrame) = {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
    val path = tmpDir(tag) + "/li"
    graft.engine.Layout.writeRangeSorted(li, path, 16, col("l_orderkey"))
    graft.engine.Layout.writeFileStats(spark, path, Seq("l_orderkey"))
    (path, li)
  }

  test("DML kill matrix: a writer dying at EVERY swap step leaves a " +
    "readable table (old or new content, never manifest-less), and a " +
    "re-run converges") {
    import org.apache.hadoop.fs.Path
    val want = (li: org.apache.spark.sql.DataFrame) =>
      li.filter(!col("l_orderkey").between(100L, 400L))
        .collect().map(_.toSeq).toSet
    // each kill point fails one filesystem call of the writer (which
    // dies with it): the manifest's aside move, its publish, the aside
    // drop, then the first dirty-file delete
    FaultFs.install(spark)
    val killAt = Map[String, ((String, String)) => Boolean](
      "staged" -> (c => c._1 == "rename" && c._2.endsWith("__stats")),
      "aside" -> (c => c._1 == "rename" && c._2.contains("__stats._new.") &&
        !c._2.contains("/_temporary/")),
      "published" -> (c => c._1 == "delete" && c._2.endsWith("__stats._old")),
      "swapped" -> (c => c._1 == "delete" && c._2.endsWith(".parquet")))
    for (kill <- Seq("staged", "aside", "published", "swapped")) {
      val (local, li) = freshDmlTable(s"kill-$kill")
      val path = FaultFs.path(local)
      val preDml = li.collect().map(_.toSeq).toSet
      val postDml = want(li)
      FaultFs.armWhen(killAt(kill))
      try {
        val died = intercept[java.io.IOException] {
          graft.engine.Layout.deleteMatching(spark, path, "l_orderkey", 100L, 400L)
        }
        assert(died.getMessage.startsWith("injected fault"), s"kill@$kill: $died")
      } finally FaultFs.disarm()
      // reader self-heal: manifestRead must ALWAYS succeed and show a
      // consistent table — pre-DML content if the swap had not
      // published ("staged"/"aside" → rolled back), post-DML content
      // if it had ("published"/"swapped")
      val got = graft.engine.Layout.manifestRead(spark, path)
        .collect().map(_.toSeq).toSet
      val expected = if (kill == "staged" || kill == "aside") preDml else postDml
      assert(got == expected, s"kill@$kill: recovered content diverged")
      // the swap machinery left no aside and no staging behind once a
      // reader (or the next writer) has run — writers also self-heal:
      // re-running the SAME delete converges to the post-DML content
      graft.engine.Layout.deleteMatching(spark, path, "l_orderkey", 100L, 400L)
      assert(graft.engine.Layout.manifestRead(spark, path)
        .collect().map(_.toSeq).toSet == postDml, s"kill@$kill: re-run diverged")
      val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new Path(path + "__stats._old")), s"kill@$kill: aside left")
      val parent = new Path(path).getParent
      val strays = fs.listStatus(parent).map(_.getPath.getName)
        .filter(n => n.contains("__stats._new.") || n.contains("__rewrite_"))
      assert(strays.isEmpty, s"kill@$kill: stranded staging $strays")
      // after the unlisted-garbage sweep, disk files == manifest listing
      graft.engine.Layout.vacuumUnlisted(spark, path, olderThanMs = 0L)
      val onDisk = fs.listStatus(new Path(path)).map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).toSet
      val inManifest = graft.engine.Layout.manifestRead(spark, path)
        .select(input_file_name()).distinct().collect()
        .map(r => r.getString(0).replaceAll("^.*/", "")).toSet
      assert(onDisk == inManifest, s"kill@$kill: disk/manifest drift")
    }
  }

  test("deleteMatching: NULL-keyed rows always survive a range delete, " +
    "wherever they live (SQL BETWEEN semantics, not placement-dependent)") {
    val path = tmpDir("del-null") + "/t"
    // 3 files: NULL keys deliberately co-located with in-range keys in
    // one file (the dirty file) AND isolated in another (untouched) —
    // the old !between filter dropped the first group only
    val dirty = Seq[(java.lang.Long, String)]((100L, "in"), (150L, "in"),
      (null, "null-in-dirty")).toDF("k", "tag")
    val clean = Seq[(java.lang.Long, String)]((900L, "out"),
      (null, "null-in-clean")).toDF("k", "tag")
    // an ALL-NULL-keyed file: null min/max stats — can never be dirty,
    // must still be carried through the manifest swap
    val allNull = Seq[(java.lang.Long, String)]((null, "all-null-file"))
      .toDF("k", "tag")
    dirty.coalesce(1).write.parquet(path)
    clean.coalesce(1).write.mode("append").parquet(path)
    allNull.coalesce(1).write.mode("append").parquet(path)
    graft.engine.Layout.writeFileStats(spark, path, Seq("k"))
    graft.engine.Layout.deleteMatching(spark, path, "k", 50L, 200L)
    val got = graft.engine.Layout.manifestRead(spark, path)
      .select("tag").collect().map(_.getString(0)).toSet
    assert(got == Set("out", "null-in-dirty", "null-in-clean", "all-null-file"),
      s"NULL-keyed rows must survive: $got")
  }

  test("manifest DML serializes on the lock: concurrent deletes of " +
    "disjoint intervals both land, manifest stays consistent") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val (path, li) = freshDmlTable("conc")
    val fA = Future(graft.engine.Layout.deleteMatching(
      spark, path, "l_orderkey", 100L, 400L))
    val fB = Future(graft.engine.Layout.deleteMatching(
      spark, path, "l_orderkey", 3000L, 3500L))
    Await.result(fA, 300.seconds); Await.result(fB, 300.seconds)
    val got = graft.engine.Layout.manifestRead(spark, path)
      .collect().map(_.toSeq).toSet
    val wantBoth = li.filter(!col("l_orderkey").between(100L, 400L))
      .filter(!col("l_orderkey").between(3000L, 3500L))
      .collect().map(_.toSeq).toSet
    assert(got == wantBoth, "concurrent deletes lost rows or kept doomed rows")
  }

  test("manifest lock: a dead writer's stale lock is broken; a live " +
    "lock blocks until timeout") {
    import org.apache.hadoop.fs.Path
    val (path, _) = freshDmlTable("lock")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new Path(path + "__stats._lock")
    // stale: a crashed writer left it an hour ago → next writer breaks it
    val out = fs.create(lock, false)
    out.write("dead-writer".getBytes("UTF-8")); out.close()
    fs.setTimes(lock, System.currentTimeMillis() - 3600000L, -1)
    val (r, _) = graft.engine.Layout.deleteMatching(
      spark, path, "l_orderkey", 100L, 400L)
    assert(r > 0, "stale lock must be broken, DML must proceed")
    assert(!fs.exists(lock), "lock must be released after DML")
    // live (fresh) lock: acquisition times out rather than stealing
    val out2 = fs.create(lock, false)
    out2.write("live-writer".getBytes("UTF-8")); out2.close()
    try {
      val e = intercept[java.io.IOException] {
        graft.engine.Layout.withManifestLock(fs, path, staleMs = 600000L,
          timeoutMs = 300L)(fail("must not enter under a live lock"))
      }
      assert(e.getMessage.contains("held past"))
    } finally fs.delete(lock, false)
  }

  test("metadataAgg answers COUNT(*)/SUM/MIN/MAX/COUNT(col) from the " +
    "manifest and stays exact through DML rewrites — null columns " +
    "included") {
    val path = tmpDir("metaagg") + "/li"
    // a second tracked column with PLANTED NULLs: COUNT(col) must skip
    // them (n_rows counts them) and per-file MIN/MAX must null-skip
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"),
        when(col("l_linenumber") % 3 === 0, lit(null))
          .otherwise(col("l_linenumber")).as("ln"))
    Layout.writeRangeSorted(li, path, 4, col("l_orderkey"))
    Layout.writeFileStats(spark, path, Seq("l_orderkey", "ln"))
    def full(): Seq[Any] = {
      val r = Layout.manifestRead(spark, path)
        .agg(count(lit(1)), sum(col("l_orderkey")),
          min(col("l_orderkey")), max(col("l_orderkey")),
          count(col("l_orderkey")), sum(col("ln")).cast("long"),
          min(col("ln")), max(col("ln")), count(col("ln"))).head
      r.toSeq
    }
    def meta(): Seq[Any] = {
      val r = Layout.metadataAgg(spark, path)
        .select(col("n_rows"), col("sum_l_orderkey"),
          col("min_l_orderkey"), col("max_l_orderkey"),
          col("cnt_l_orderkey"), col("sum_ln").cast("long"),
          col("min_ln"), col("max_ln"), col("cnt_ln")).head
      r.toSeq
    }
    assert(meta() == full(), "fresh manifest aggregates must be exact")
    val m0 = meta()
    assert(m0(4).asInstanceOf[Long] == m0.head.asInstanceOf[Long],
      "l_orderkey has no nulls: COUNT(col) == COUNT(*)")
    assert(m0(8).asInstanceOf[Long] < m0.head.asInstanceOf[Long],
      "ln has planted nulls: COUNT(ln) < COUNT(*)")
    // a targeted DELETE rewrites some files; carried-over rows keep
    // their stats verbatim, rewritten files get fresh ones — the
    // metadata aggregates must track the surviving content exactly,
    // including the derived MIN (the global minimum lived in the
    // deleted range, so the post-DELETE MIN comes from REWRITTEN stats)
    val keys = li.agg(min(col("l_orderkey")), max(col("l_orderkey"))).head
    val (lo, hi) = (keys.getLong(0), keys.getLong(1))
    val mid = lo + (hi - lo) / 3
    Layout.deleteMatching(spark, path, "l_orderkey", lo, mid)
    assert(meta() == full(), "post-DELETE metadata aggregates must be exact")
    assert(meta().head.asInstanceOf[Long] < li.count(),
      "the delete must have removed rows")
    assert(meta()(2).asInstanceOf[Long] > lo,
      "post-DELETE MIN must move above the deleted range")
  }

  test("bloom point lookup: exact rows, real pruning where min/max " +
    "prunes nothing, absent keys open ~no files") {
    val path = tmpDir("bloom") + "/ord"
    val ord = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
    // hash distribution: every file spans the whole key range — the
    // interval manifest's worst case, the bloom's home turf
    ord.repartition(8, col("o_orderkey")).write.parquet(path)
    Layout.writeFileStats(spark, path, Seq("o_orderkey"),
      bloomCols = Seq("o_orderkey"))

    // MIDDLE keys: an extreme key is inside only the global-min
    // file's range even under hash layout; mid-range keys are inside
    // every file's [min,max], which is the prunes-nothing claim below
    val all = ord.select(col("o_orderkey")).orderBy(col("o_orderkey"))
      .as[Long].collect()
    val keys = (0 until 5).map(i => all(all.length / 2 + i))
    keys.foreach { k =>
      // content: pointRead ≡ full-scan equality filter
      val got = Layout.pointRead(spark, path, "o_orderkey", k)
        .select("o_orderkey", "o_totalprice")
        .as[(Long, Double)].collect().toSet
      val want = ord.filter(col("o_orderkey") === k)
        .as[(Long, Double)].collect().toSet
      assert(got == want && want.nonEmpty, s"key $k")
      // pruning: the range manifest keeps ALL files (hash layout),
      // the bloom keeps few
      val (rangeKept, total) =
        Layout.filesForInterval(spark, path, "o_orderkey", k, k)
      assert(rangeKept == total, "hash layout should defeat min/max")
      val (bloomKept, total2) = Layout.filesForPoint(
        spark, path, "o_orderkey", k)
      assert(total2 == total && bloomKept <= math.max(1, total / 2),
        s"bloom kept $bloomKept of $total2 for key $k")
    }
    // absent keys: average opens must be fpp-small, and results empty
    val absent = (1L to 50L).map(i => 1000000000L + i)
    val opens = absent.map { k =>
      assert(Layout.pointRead(spark, path, "o_orderkey", k).isEmpty)
      Layout.filesForPoint(spark, path, "o_orderkey", k)._1
    }
    assert(opens.sum <= absent.size, // avg ≤ 1 file at fpp=0.01 × 8 files
      s"absent keys opened ${opens.sum} files over ${absent.size} probes")

    // DML consistency: blooms live IN the manifest, so a targeted
    // DELETE regenerates them for rewritten files — lookups stay
    // exact for surviving keys and empty for deleted ones (the
    // side-directory design this replaced went stale here)
    val delLo = keys.head
    Layout.deleteMatching(spark, path, "o_orderkey", delLo, delLo)
    assert(Layout.pointRead(spark, path, "o_orderkey", delLo).isEmpty,
      "deleted key must not resurface")
    val survivor = keys.last
    val got2 = Layout.pointRead(spark, path, "o_orderkey", survivor)
      .select("o_orderkey", "o_totalprice")
      .as[(Long, Double)].collect().toSet
    assert(got2 == ord.filter(col("o_orderkey") === survivor)
      .as[(Long, Double)].collect().toSet && got2.nonEmpty)
  }

  test("bloom probe coerces to the column's STORED type — a Long " +
    "probe on an IntegerType key must find the row, not silently " +
    "prune every file") {
    val path = tmpDir("bloomtyp") + "/n"
    val n = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .select(col("n_nationkey").cast("int").as("nk"), col("n_name"))
    n.repartition(4, col("nk")).write.parquet(path)
    Layout.writeFileStats(spark, path, Nil, bloomCols = Seq("nk"))
    // XXH64.hashLong(3) != hashInt(3): an untyped probe would return 0
    // rows here — the false NEGATIVE the typed hash exists to prevent
    val gotLong = Layout.pointRead(spark, path, "nk", 3L).count()
    val gotInt = Layout.pointRead(spark, path, "nk", 3).count()
    assert(gotLong == 1 && gotInt == 1,
      s"typed probes must agree and hit: long=$gotLong int=$gotInt")
    // and the other direction: Int probe on a LongType column
    val path2 = tmpDir("bloomtyp") + "/o"
    val ord = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select(col("o_orderkey"))
    ord.repartition(4, col("o_orderkey")).write.parquet(path2)
    Layout.writeFileStats(spark, path2, Nil, bloomCols = Seq("o_orderkey"))
    val k = ord.orderBy(col("o_orderkey")).limit(1).as[Long].head()
    assert(k.isValidInt, "test key must fit an Int for the probe")
    assert(Layout.pointRead(spark, path2, "o_orderkey", k.toInt).count() ==
      Layout.pointRead(spark, path2, "o_orderkey", k).count())
    // incompatible probe type throws — never a silent empty result
    intercept[IllegalArgumentException] {
      Layout.pointRead(spark, path, "nk", "three")
    }
    // out-of-Int-range Long probe on an Int column is incompatible too
    intercept[IllegalArgumentException] {
      Layout.pointRead(spark, path, "nk", Long.MaxValue)
    }
  }

  test("Layout.read front door: one API routes point→bloom, " +
    "interval→minmax, fallback→manifest, all value-identical to the " +
    "full-scan filter") {
    val path = tmpDir("frontdoor") + "/ord"
    val ord = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    ord.repartition(8, col("o_orderkey")).write.parquet(path)
    Layout.writeFileStats(spark, path, Seq("o_orderkey"),
      bloomCols = Seq("o_orderkey"))
    val k = ord.select(col("o_orderkey")).orderBy(col("o_orderkey"))
      .limit(1).as[Long].head()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("o_orderkey"), col("o_custkey")).as[(Long, Long)]
        .collect().toSet
    // point on the bloom column: must route through the bloom (visible
    // as real pruning — min/max prunes nothing under hash layout)
    assert(canon(Layout.read(spark, path,
      Some(Layout.PointEq("o_orderkey", k)))) ==
      canon(ord.filter(col("o_orderkey") === k)))
    val (bloomKept, total) = Layout.filesForPoint(spark, path, "o_orderkey", k)
    assert(bloomKept < total, "bloom route must actually prune")
    // interval on the range column
    assert(canon(Layout.read(spark, path,
      Some(Layout.Interval("o_orderkey", k, k + 100)))) ==
      canon(ord.filter(col("o_orderkey").between(k, k + 100))))
    // predicate on an UNTRACKED column: no skipping structure — must
    // still return the exact filtered result via the manifest
    val ck = ord.select(col("o_custkey")).orderBy(col("o_custkey"))
      .limit(1).as[Long].head()
    assert(canon(Layout.read(spark, path,
      Some(Layout.PointEq("o_custkey", ck)))) ==
      canon(ord.filter(col("o_custkey") === ck)))
    // no predicate = manifest read
    assert(Layout.read(spark, path).count() == ord.count())
  }

  test("Layout.readAgg serves manifest-covered aggregates with ZERO " +
    "data-file opens, and computes predicate aggregates over the " +
    "pruned read") {
    val path = tmpDir("frontagg") + "/ord"
    val ord = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
    Layout.writeRangeSorted(ord, path, 4, col("o_orderkey"))
    Layout.writeFileStats(spark, path, Seq("o_orderkey"))
    val aggs = Seq(("count", "*"), ("sum", "o_orderkey"),
      ("min", "o_orderkey"), ("max", "o_orderkey"),
      ("count", "o_orderkey"))
    val want = ord.agg(count(lit(1)).as("n_rows"),
      sum(col("o_orderkey")).as("sum_o_orderkey"),
      min(col("o_orderkey")).as("min_o_orderkey"),
      max(col("o_orderkey")).as("max_o_orderkey"),
      count(col("o_orderkey")).as("cnt_o_orderkey")).head.toSeq
    assert(Layout.readAgg(spark, path, aggs).head.toSeq == want)
    // proof the metadata route opens no data file: corrupt one file
    // behind the manifest's back — the metadata answer must not notice
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val victim = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val bytes = new Array[Byte](16)
    val out = fs.create(victim, true) // truncate to garbage
    out.write(bytes); out.close()
    assert(Layout.readAgg(spark, path, aggs).head.toSeq == want,
      "metadata route must answer without touching data files")
    intercept[Exception] { // while an actual scan of that file fails
      spark.read.parquet(victim.toString).count()
    }
    // predicate route: falls back to compute over the pruned read —
    // rebuild the table first (one file is garbage now)
    val path2 = tmpDir("frontagg") + "/ord2"
    Layout.writeRangeSorted(ord, path2, 4, col("o_orderkey"))
    Layout.writeFileStats(spark, path2, Seq("o_orderkey"))
    val keys = ord.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head
    val (lo, hi) = (keys.getLong(0), keys.getLong(0) +
      (keys.getLong(1) - keys.getLong(0)) / 3)
    val gotP = Layout.readAgg(spark, path2, Seq(("count", "*"),
      ("sum", "o_orderkey")),
      Some(Layout.Interval("o_orderkey", lo, hi))).head.toSeq
    val wantP = ord.filter(col("o_orderkey").between(lo, hi))
      .agg(count(lit(1)), sum(col("o_orderkey"))).head.toSeq
    assert(gotP == wantP)
  }

  test("bloom index supports string keys") {
    val path = tmpDir("bloomstr") + "/c"
    val c = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .select(col("c_name"), col("c_acctbal"))
    c.repartition(4, col("c_name")).write.parquet(path)
    Layout.writeFileStats(spark, path, Nil, bloomCols = Seq("c_name"))
    val name = c.select(col("c_name")).orderBy(col("c_name"))
      .limit(1).as[String].head()
    val got = Layout.pointRead(spark, path, "c_name", name).count()
    assert(got == c.filter(col("c_name") === name).count() && got >= 1)
    assert(Layout.pointRead(spark, path, "c_name", "no such customer")
      .isEmpty)
  }
}
