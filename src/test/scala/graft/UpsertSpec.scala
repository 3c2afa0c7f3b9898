package graft

import org.apache.spark.sql.functions._
import graft.engine.Upsert

/** Unit coverage of the parquet-backed MERGE (SURVEY §2 J3/J4):
  * matched update, not-matched insert, composite keys, idempotence,
  * case-insensitive column alignment, first-write-creates.
  */
class UpsertSpec extends SparkSpec {
  import spark.implicits._

  private def readBack(p: String) = spark.read.parquet(p)

  test("matched rows updated, unmatched source inserted, rest kept") {
    val path = tmpDir("upsert") + "/t"
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "v").write.parquet(path)
    val src = Seq((2L, "B", 99.0), (4L, "d", 40.0)).toDF("k", "name", "v")
    Upsert.forPath(spark, path).merge(src, Seq("k"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    val got = readBack(path).as[(Long, String, Double)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, "a", 10.0), (2L, "B", 99.0),
      (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("forName: catalog-resolved handle merges into the same table " +
    "forPath addresses (`4_Gold:69` DeltaTable.forName shape)") {
    val base = tmpDir("upsert-cat")
    val cat = new graft.engine.TableCatalog(spark, base)
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.parquet(cat.pathFor("main.gold.Fact_Sales"))
    Upsert.forName(cat, "main.gold.Fact_Sales")
      .merge(Seq((2L, "B2"), (3L, "c")).toDF("k", "v"), Seq("k"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    // name resolution is case-insensitive like the metastore's
    val got = readBack(cat.pathFor("MAIN.GOLD.fact_sales"))
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "B2"), (3L, "c")))
  }

  test("composite 4-column key merge (J4, `4_Fact:68-74` shape)") {
    val path = tmpDir("upsert") + "/fact"
    Seq((1L, 1L, 1L, 1L, 100.0), (1L, 1L, 1L, 2L, 200.0))
      .toDF("mk", "bk", "dk", "tk", "rev").write.parquet(path)
    val src = Seq((1L, 1L, 1L, 2L, 999.0), (2L, 2L, 2L, 2L, 50.0))
      .toDF("mk", "bk", "dk", "tk", "rev")
    Upsert.merge(spark, path, src, Seq("mk", "bk", "dk", "tk"))
    val got = readBack(path).as[(Long, Long, Long, Long, Double)]
      .collect().sortBy(r => (r._1, r._4))
    assert(got.toSeq == Seq((1L, 1L, 1L, 1L, 100.0),
      (1L, 1L, 1L, 2L, 999.0), (2L, 2L, 2L, 2L, 50.0)))
  }

  test("duplicate-key target rows keep their multiplicity on update (Delta parity)") {
    val path = tmpDir("upsert") + "/dup"
    // 3 target rows share key tuple (1,1); Delta's whenMatchedUpdateAll
    // updates EACH matched row — row count must stay 3, all with the
    // source's values
    Seq((1L, 1L, 10.0), (1L, 1L, 20.0), (1L, 1L, 30.0), (2L, 2L, 40.0))
      .toDF("k1", "k2", "v").write.parquet(path)
    val src = Seq((1L, 1L, 99.0), (3L, 3L, 50.0)).toDF("k1", "k2", "v")
    Upsert.merge(spark, path, src, Seq("k1", "k2"))
    val got = readBack(path).as[(Long, Long, Double)].collect()
      .sortBy(r => (r._1, r._3)).toSeq
    assert(got == Seq((1L, 1L, 99.0), (1L, 1L, 99.0), (1L, 1L, 99.0),
      (2L, 2L, 40.0), (3L, 3L, 50.0)))
  }

  test("idempotence: merge(merge(t,s),s) == merge(t,s)") {
    val path = tmpDir("upsert") + "/i"
    Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v").write.parquet(path)
    val src = Seq((2L, 9.0), (3L, 3.0)).toDF("k", "v")
    Upsert.merge(spark, path, src, Seq("k"))
    val once = readBack(path).as[(Long, Double)].collect().sortBy(_._1).toSeq
    Upsert.merge(spark, path, src, Seq("k"))
    val twice = readBack(path).as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(once == twice && once == Seq((1L, 1.0), (2L, 9.0), (3L, 3.0)))
  }

  test("source column names align case-insensitively (`4_Fact:50` quirk)") {
    val path = tmpDir("upsert") + "/c"
    Seq((1L, 1.5)).toDF("k", "Rev_Per_unit").write.parquet(path)
    val src = Seq((1L, 9.5), (2L, 2.5)).toDF("K", "Rev_Per_Unit")
    Upsert.merge(spark, path, src, Seq("k"))
    val got = readBack(path)
    assert(got.columns.toSeq == Seq("k", "Rev_Per_unit"))
    assert(got.as[(Long, Double)].collect().sortBy(_._1).toSeq ==
      Seq((1L, 9.5), (2L, 2.5)))
  }

  test("null-safe key equality: null keys match, no eternal duplicates") {
    val path = tmpDir("upsert") + "/n"
    Seq((Some(1L), "a"), (None, "x")).toDF("k", "v").write.parquet(path)
    val src = Seq((Option.empty[Long], "y")).toDF("k", "v")
    Upsert.merge(spark, path, src, Seq("k"))
    val got = readBack(path).as[(Option[Long], String)].collect().toSet
    assert(got == Set((Some(1L), "a"), (None, "y")))
  }

  test("merge into non-existent path creates the table") {
    val path = tmpDir("upsert") + "/new"
    val src = Seq((1L, "a")).toDF("k", "v")
    Upsert.merge(spark, path, src, Seq("k"))
    assert(readBack(path).count() == 1)
  }

  test("schema evolution: source-only columns appended, kept rows read " +
    "null there; without the flag they are dropped") {
    val path = tmpDir("upsert") + "/evo"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(path)
    val src = Seq((2L, "b2", 99), (3L, "c", 7)).toDF("k", "v", "extra")
    // default: non-evolving — Delta's plain UpdateAll/InsertAll
    Upsert.merge(spark, path, src, Seq("k"))
    assert(readBack(path).columns.toSeq == Seq("k", "v"))
    // evolving: extra appears, pre-existing row 1 reads null
    val path2 = tmpDir("upsert") + "/evo2"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(path2)
    Upsert.forPath(spark, path2).merge(src, Seq("k"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll()
      .withSchemaEvolution().execute()
    val got = readBack(path2)
    assert(got.columns.toSeq == Seq("k", "v", "extra"))
    val rows = got.as[(Long, String, Option[Int])].collect().toSet
    assert(rows == Set((1L, "a", None), (2L, "b2", Some(99)),
      (3L, "c", Some(7))))
    // a second evolving merge with the ORIGINAL (narrow) schema must
    // not drop the evolved column: target stays wide, narrow source
    // rows null-fill it
    Upsert.merge(spark, path2, Seq((4L, "d")).toDF("k", "v"), Seq("k"),
      mergeSchema = true)
    val got2 = readBack(path2).as[(Long, String, Option[Int])].collect().toSet
    assert(got2.contains((4L, "d", None)) && got2.size == 4)
  }

  test("applyChanges: deletes remove, updates replace, inserts land, " +
    "unmatched delete is a no-op, delete+insert same key replaces") {
    val path = tmpDir("upsert") + "/cdc"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .write.parquet(path)
    val changes = Seq(
      (1L, "ignored", "D"),  // delete existing
      (9L, "ignored", "D"),  // delete non-existent: no-op
      (2L, "b2", "U"),       // update existing
      (4L, "d", "I"),        // insert new
      (3L, "c-replaced", "U"), // delete 3 below + this upsert = replace
      (3L, "ignored", "D")
    ).toDF("k", "v", "op")
    Upsert.applyChanges(spark, path, changes, Seq("k"),
      uniqueKeyTarget = true)
    val got = readBack(path).as[(Long, String)].collect().toSet
    assert(got == Set((2L, "b2"), (4L, "d"), (3L, "c-replaced")))
  }

  test("applyChanges: a NULL op row upserts ('any other op'), never " +
    "silently vanishes") {
    val path = tmpDir("upsert") + "/cdcnull"
    Seq((1L, "a")).toDF("k", "v").write.parquet(path)
    val changes = Seq((1L, "a2", Option.empty[String]),
      (2L, "b", Option.empty[String])).toDF("k", "v", "op")
    Upsert.applyChanges(spark, path, changes, Seq("k"),
      uniqueKeyTarget = true)
    val got = readBack(path).as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a2"), (2L, "b")))
  }

  test("atomic replace survives a plan that reads its own target") {
    val path = tmpDir("upsert") + "/self"
    spark.range(100).withColumn("v", col("id") * 2).write.parquet(path)
    val df = spark.read.parquet(path).withColumn("v", col("v") + 1)
    Upsert.atomicReplace(spark, path, df)
    val got = readBack(path)
    assert(got.count() == 100)
    assert(got.agg(sum("v")).head.getLong(0) == (0 until 100).map(_ * 2 + 1).sum)
  }

  test("q_cdc_apply opens its target from one footer: 8 Spark jobs, " +
    "rows equal to the changefeed applied by hand") {
    val dir = "/root/testdata/sf0.001"
    val part = spark.read.parquet(s"$dir/part.parquet")
    val want = part.filter(col("p_partkey") % 7 =!= 0 && col("p_partkey") % 7 =!= 1)
      .unionByName(part.filter(col("p_partkey") % 7 === 1)
        .withColumn("p_retailprice", col("p_retailprice") * 3))
      .unionByName(part.filter(col("p_partkey") % 7 === 2)
        .withColumn("p_partkey", col("p_partkey") + 1000000L))
      .collect().map(_.toSeq).toSet
    val (got, jobs) = jobsOf(graft.SparkEntry.queries("q_cdc_apply")(spark, dir)
      .collect().map(_.toSeq).toSet)
    assert(got == want)
    assert(jobs == 8, s"q_cdc_apply ran $jobs Spark jobs")
  }
}
