package graft

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row}

import graft.engine.{DimSpec, ScdType1, TableCatalog}

/** The bounded SCD1 step (the template run on the driver) against the
  * distributed template (`cap = -1`), epoch by epoch from one shared
  * state: rows that carry a key of the state before the epoch (or no
  * key) are identical; rows with a new key agree as a multiset of
  * (natural key, attrs), and their keys are unique and above the
  * state's maximum.
  */
class ScdType1Spec extends SparkSpec {
  import spark.implicits._

  private val dimA = DimSpec("gold.dim_a", Seq("nk"), Seq("attr"), "a_key")
  private val dimB = DimSpec("gold.dim_b", Seq("b1", "b2"), Seq.empty, "b_key")
  private val specs = Seq(dimA, dimB)

  private def silver(rows: (String, String, String, Option[Int])*): DataFrame =
    rows.toDF("nk", "attr", "b1", "b2")

  // initial: K1 with two attr values, a NULL natural key (and a NULL
  // half of dimB's composite key), a NULL attr
  private val epoch0 = silver(("K1", "a", "x", Some(1)), ("K1", "b", "x", Some(1)),
    (null, "c", "y", None), ("K2", null, "y", Some(2)), ("K3", "d", "z", Some(3)))
  // K4 matches the target row injected with a NULL surrogate key
  private val epoch1 = silver(("K1", "a", "x", Some(1)), ("K1", "b", "x", Some(1)),
    ("K4", "e", "w", Some(4)),
    ("K5", "f", "v", Some(5)), (null, "c", "y", None), ("K2", null, "y", Some(2)))
  private val epoch2 = silver()
  private val epoch3 = silver(("K1", "b", "x", Some(1)), ("K6", "g", "u", Some(6)),
    ("K6", "h", "u", Some(6)), ("K3", "d2", "z", Some(3)))

  private def copyOf(state: String): String = {
    val dir = tmpDir("scd1-run")
    FileUtils.copyDirectory(new File(state), new File(dir))
    dir
  }

  private def dimRows(root: String, s: DimSpec): Seq[Row] = {
    val cat = TableCatalog(spark, root)
    if (!cat.tableExists(s.table)) Nil
    else cat.read(s.table).select((s.cols :+ s.surrogateKey).map(col): _*)
      .collect().toSeq
  }

  private def col(c: String) = org.apache.spark.sql.functions.col(c)

  private def keyOf(r: Row): Option[Long] =
    if (r.isNullAt(r.length - 1)) None else Some(r.getLong(r.length - 1))

  private def dataFiles(root: String, s: DimSpec): Int =
    new File(TableCatalog(spark, root).pathFor(s.table)).list()
      .count(_.endsWith(".parquet"))

  /** `got` (bounded) against `want` (distributed), both run from `state`. */
  private def assertEquivalent(state: String, got: String, want: String,
                               what: String): Unit = specs.foreach { s =>
    val before = dimRows(state, s).flatMap(keyOf).toSet
    def split(root: String) =
      dimRows(root, s).partition(r => keyOf(r).forall(before))
    val (oldG, freshG) = split(got)
    val (oldW, freshW) = split(want)
    def bag(rs: Seq[Row]) = rs.map(_.toString).sorted
    def entities(rs: Seq[Row]) = bag(rs.map(r => Row.fromSeq(r.toSeq.init)))
    assert(bag(oldG) == bag(oldW), s"$what ${s.table}: old-key rows differ")
    assert(entities(freshG) == entities(freshW), s"$what ${s.table}: new rows differ")
    Seq(freshG, freshW).foreach { fresh =>
      val keys = fresh.flatMap(keyOf)
      assert(keys.distinct.size == keys.size, s"$what ${s.table}: new keys collide")
      assert(keys.forall(_ > before.maxOption.getOrElse(0L)),
        s"$what ${s.table}: a new key is not above the previous max")
    }
    assert(dataFiles(got, s) == 1, s"$what ${s.table}: not written by the bounded step")
  }

  /** Adds a row with a NULL surrogate key to each dim of `root`. */
  private def injectNullKeys(root: String): Unit = {
    val cat = TableCatalog(spark, root)
    Seq(("K4", "e", Option.empty[Long])).toDF("nk", "attr", "a_key")
      .coalesce(1).write.mode("append").parquet(cat.pathFor(dimA.table))
    Seq(("w", Option(4), Option.empty[Long])).toDF("b1", "b2", "b_key")
      .coalesce(1).write.mode("append").parquet(cat.pathFor(dimB.table))
  }

  test("bounded dims ≡ the distributed template over an initial run and " +
    "three incremental epochs (buildAll and build)") {
    var state = tmpDir("scd1-state")
    Seq(epoch0 -> false, epoch1 -> true, epoch2 -> true, epoch3 -> true)
      .zipWithIndex.foreach { case ((src, incremental), e) =>
        val (all, one, dist) = (copyOf(state), copyOf(state), copyOf(state))
        def scd(root: String) = new ScdType1(spark, TableCatalog(spark, root))
        scd(all).buildAll(specs, src, incremental)
        specs.foreach(s => scd(one).build(s, src, incremental))
        scd(dist).buildAll(specs, src, incremental, cap = -1)
        assertEquivalent(state, all, dist, s"epoch $e buildAll:")
        assertEquivalent(state, one, dist, s"epoch $e build:")
        state = all
        if (e == 0) injectNullKeys(state)
      }
    // the fixtures reach every corner they are there for
    val a = dimRows(state, dimA)
    assert(a.count(r => r.getString(0) == "K1") == 4, "K1's two attrs × two keys")
    assert(a.map(keyOf).distinct.size < a.size, "the keys K1 shares repeat")
    assert(a.count(_.isNullAt(0)) == 2, "a NULL natural key is new every epoch")
    assert(a.exists(r => r.getString(0) == "K4" && keyOf(r).isEmpty))
    assert(a.exists(r => r.getString(0) == "K4" && keyOf(r).nonEmpty))
  }

  test("the driver cap: n distinct rows run on the driver at cap n and the " +
    "distributed template at cap n − 1") {
    val state = tmpDir("scd1-cap")
    new ScdType1(spark, TableCatalog(spark, state))
      .buildAll(specs, epoch0, incremental = false)
    // epoch1 yields 6 distinct dimA rows and 5 dimB rows
    val n = 11
    val (atCap, belowCap) = (copyOf(state), copyOf(state))
    def run(root: String, cap: Int) = jobsOf(new ScdType1(spark,
      TableCatalog(spark, root)).buildAll(specs, epoch1, incremental = true, cap))._2
    val (driverJobs, distJobs) = (run(atCap, n), run(belowCap, n - 1))
    // one probe (a shuffle stage and its result), then per dim one
    // target collect and one write
    assert(driverJobs <= 2 + 2 * specs.size, s"bounded step took $driverJobs jobs")
    assert(distJobs > driverJobs, s"cap n − 1 took $distJobs jobs")
    assertEquivalent(state, atCap, belowCap, "cap n:")
  }
}
