package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Input sizes for one run; `smoke` shrinks every workload to seconds.
  * `vectors` is the sf0.1 table size; `docs` (3/5 of sf0.1's) and
  * `salesRows` (1/20 of sf0.1's lineitem) are smaller, so that a
  * measurement fits its hour.
  */
final case class Scale(salesRows: Int, deltaRows: Int, docs: Int,
                       vectors: Int, dim: Int, searchCalls: Int,
                       queriesPerCall: Int)

object Scale {
  val full: Scale = Scale(salesRows = 30000, deltaRows = 1000, docs = 3000,
    vectors = 2000, dim = 64, searchCalls = 3, queriesPerCall = 4)
  val smoke: Scale = Scale(salesRows = 3000, deltaRows = 100, docs = 600,
    vectors = 600, dim = 16, searchCalls = 2, queriesPerCall = 4)
}

/** Writers of the seeded inputs. Every generator draws from its own
  * stream of the run seed, so the same seed always gives the same
  * files and the program under test sees only those files.
  */
object Inputs {
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 1000003L + stream)

  def mkdirs(path: String): Unit = new File(path).mkdirs()

  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten
      .filterNot(_.getName.startsWith("."))
      .map(c => dirBytes(c.getPath)).sum
  }
}

/** Car-sales feed in the reference's CSV shape: a UTF-8 BOM on the
  * header, quoted names holding commas, one dealer with an empty name
  * and one Model_ID without a dash. One row per sale, as sf0.1 has one
  * lineitem per sale: branch, dealer and model stand for its customer,
  * supplier and part, in the same numbers per row, and the date for its
  * ship date. Each delta repeats existing (branch, dealer, model, date)
  * combinations with a new Revenue, which become MERGE updates, and
  * carries a share of rows with novel IDs, which become inserts.
  */
final class SalesFeed(seed: Long, rows: Int, deltaRows: Int) {
  // sf0.1 lineitem: 14,999 ordering customers, 1,000 suppliers and
  // 20,000 parts over 600,000 rows; 2,499 ship dates from 1995-01-02
  private val nBranch = math.max(20, rows / 40)
  private val nDealer = math.max(10, rows / 600)
  private val nModel = math.max(20, rows / 30)
  private val nDate = 2499
  private val epoch0 = LocalDate.of(1995, 1, 2)
  // the reference data's 36 makes, Revenue 110,318–29,960,037 and
  // Units_Sold 1–3 (FIXTURES.md)
  private val makers = Vector("BMW", "AUD", "FOR", "TOY", "HON", "KIA",
    "MER", "VOL", "TES", "NIS", "MAZ", "HYU", "JEE", "FIA", "REN", "PEU",
    "SKO", "SEA", "OPE", "CIT", "DAC", "LEX", "ACU", "INF", "CAD", "BUI",
    "GMC", "RAM", "DOD", "CHR", "LIN", "MIT", "SUB", "SUZ", "POR", "JAG")
  private def revenue(r: SplittableRandom) = 110318 + r.nextInt(29849720)
  private def units(r: SplittableRandom) = 1 + r.nextInt(3)
  // not measured: sf0.1 has no increments, and the reference's 4-row
  // increment holds its one novel row as a probe, not as a rate
  private val novelShare = 0.03

  private def branchId(b: Int) = f"BR$b%05d"
  private def branchName(b: Int) =
    if (b % 97 == 3) s"Grand, Branch $b Motors" else s"Branch $b Motors"
  private def dealerId(d: Int) = f"DLR$d%04d"
  private def dealerName(d: Int) =
    if (d == 0) "" else if (d % 53 == 7) s"Fisker, Karma Dealers $d"
    else s"Dealer $d Cars"
  private def modelId(m: Int) =
    if (m == 13) "ZYXM13" else s"${makers(m % makers.size)}-M$m"
  private def maker(m: Int) =
    if (m == 13) "Surprise" else makers(m % makers.size)

  // (branch, dealer, model, date, revenue, units) of the initial feed
  private val initial: Array[(Int, Int, Int, Int, Int, Int)] = {
    val r = Inputs.rng(seed, 1)
    Array.fill(rows)((r.nextInt(nBranch), r.nextInt(nDealer),
      r.nextInt(nModel), r.nextInt(nDate), revenue(r), units(r)))
  }

  private def csvField(s: String): String =
    if (s.contains(",") || s.contains("\"")) "\"" + s.replace("\"", "\"\"") + "\""
    else s

  private def write(path: String, lines: Iterator[Seq[String]]): Long = {
    new File(path).getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path), StandardCharsets.UTF_8))
    try {
      w.write("\uFEFFBranch_ID,Dealer_ID,Model_ID,Revenue,Units_Sold," +
        "Date_ID,Day,Month,Year,BranchName,DealerName,Product_Name\n")
      lines.foreach(l => { w.write(l.map(csvField).mkString(",")); w.write("\n") })
    } finally w.close()
    new File(path).length()
  }

  private def line(bId: String, bName: String, dId: String, dName: String,
                   mId: String, mk: String, date: Int, dtId: String,
                   revenue: Int, units: Int): Seq[String] = {
    val d = epoch0.plusDays(date.toLong)
    Seq(bId, dId, mId, revenue.toString, units.toString, dtId,
      d.getDayOfMonth.toString, d.getMonthValue.toString, d.getYear.toString,
      bName, dName, mk)
  }

  private def existing(b: Int, d: Int, m: Int, t: Int, rev: Int, u: Int) =
    line(branchId(b), branchName(b), dealerId(d), dealerName(d), modelId(m),
      maker(m), t, f"DT$t%05d", rev, u)

  /** The initial-load CSV; returns its size in bytes. */
  def writeInitial(path: String): Long =
    write(path, initial.iterator.map { case (b, d, m, t, rev, u) =>
      existing(b, d, m, t, rev, u)
    })

  /** Delta `e` (1-based); returns (bytes, rows matching an existing
    * combination, rows carrying a novel ID).
    */
  def writeDelta(path: String, e: Int): (Long, Int, Int) = {
    val r = Inputs.rng(seed, 1000L + e)
    val nNovel = math.max(1, math.round(deltaRows * novelShare).toInt)
    val nMatch = deltaRows - nNovel
    val seen = mutable.HashSet[(Int, Int, Int, Int)]()
    val out = mutable.ArrayBuffer[Seq[String]]()
    while (out.size < nMatch) {
      val (b, d, m, t, _, u) = initial(r.nextInt(rows))
      if (seen.add((b, d, m, t)))
        out += existing(b, d, m, t, revenue(r), u)
    }
    (0 until nNovel).foreach { i =>
      val b = r.nextInt(nBranch); val d = r.nextInt(nDealer)
      val m = r.nextInt(nModel); val t = r.nextInt(nDate)
      val tag = s"${e}x$i"
      val rev = revenue(r)
      val u = units(r)
      // which IDs are novel cycles; kind 0 is the all-novel probe
      val (bId, bName) = if (i % 4 == 0 || i % 4 == 1)
        (s"XBR$tag", s"Novel Branch $tag") else (branchId(b), branchName(b))
      val (dId, dName) = if (i % 4 == 0 || i % 4 == 3)
        (s"XDLR$tag", s"Novel Dealers $tag") else (dealerId(d), dealerName(d))
      val (mId, mk) = if (i % 4 == 0 || i % 4 == 2)
        (s"XYZ-N$tag", "XYZ") else (modelId(m), maker(m))
      val dtId = if (i % 4 == 0 || i % 4 == 3) s"XDT$tag" else f"DT$t%05d"
      out += line(bId, bName, dId, dName, mId, mk, t, dtId, rev, u)
    }
    (write(path, out.iterator), nMatch, nNovel)
  }
}

/** Text corpus for the curation chain, shaped as sf0.1's documents
  * except for the size of its vocabulary: 10–99 words per document,
  * "the" and "a" each one word in 30, and a 5% share of
  * near-duplicates, each an earlier document with the word "dup"
  * appended (two near-duplicates of one document are exact duplicates
  * of each other). sf0.1's documents carry no markup and no
  * punctuation, and their language tags do not change the text, so
  * neither is generated. Holdout documents are those with
  * `doc_id % 97 == 0`.
  *
  * sf0.1 draws the other words from 28; with so few, 95% of documents
  * share a 3-word shingle with the holdout, and the ~150 that survive
  * decontamination vary by a third from seed to seed. Here they come
  * from those 28 plus 252 made-up words (not measured), which leaves
  * about 2% contaminated.
  */
final class Corpus(seed: Long, n: Int) {
  private val stopShare = 1.0 / 30
  private val content: Vector[String] = {
    val sf01 = Vector("agg", "batch", "big", "column", "customer", "data",
      "fast", "filter", "group", "hash", "join", "key", "line", "merge",
      "order", "part", "query", "row", "scan", "slow", "small", "sort",
      "spark", "stream", "table", "value", "vector", "window")
    val syll = Vector("ka", "lo", "mi", "tor", "sen", "ba", "ru", "vel",
      "no", "dri", "pa", "qui", "ster", "ge", "fu", "lan", "zo", "ri")
    sf01 ++ (0 until 280 - sf01.size).map(i =>
      syll(i % syll.size) + syll(i / syll.size))
  }
  private val minWords = 10
  private val maxWords = 99
  private val nearDupShare = 0.05

  /** (doc_id, text) rows and the generated property counts. */
  def generate(): (IndexedSeq[(Long, String)], Map[String, Long]) = {
    val r = Inputs.rng(seed, 2)
    val texts = new Array[String](n)
    var nearDups = 0L
    var i = 0
    while (i < n) {
      texts(i) =
        if (i > 0 && r.nextDouble() < nearDupShare) {
          nearDups += 1
          texts(r.nextInt(i)) + " dup"
        } else Seq.fill(minWords + r.nextInt(maxWords - minWords + 1)) {
          val u = r.nextDouble()
          if (u < stopShare) "the" else if (u < 2 * stopShare) "a"
          else content(r.nextInt(content.size))
        }.mkString(" ")
      i += 1
    }
    (texts.indices.map(j => (j.toLong, texts(j))),
      Map("docs" -> n.toLong, "near_dups" -> nearDups,
        "exact_dups" -> (n - texts.distinct.length).toLong))
  }

  def write(spark: SparkSession, path: String): (Long, Map[String, Long]) = {
    import spark.implicits._
    val (rows, props) = generate()
    rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(path)
    (Inputs.dirBytes(path), props)
  }
}

/** Embedding corpus plus its CDC changefeeds. Vectors are uniform on
  * the unit sphere with a label drawn from 0–9, as sf0.1's embeddings
  * are (their label centroids have norm 0.07, what 200 random unit
  * vectors give). Epoch `e` updates, deletes and inserts the shares of
  * the engine's own CDC gate (`StretchQueries.cdcEpochs` over sf0.1:
  * ids ≡ 0 mod 7 updated, ≡ 5 mod 11 and not 0 mod 7 deleted, one
  * insert per five ids). The live set is tracked here so every epoch's
  * feed is a pure function of the seed and the epoch number.
  */
final class VectorFeed(seed: Long, n: Int, dim: Int) {
  private val updShare = 1.0 / 7
  private val delShare = 6.0 / 77
  private val insShare = 1.0 / 5
  private def unit(v: Array[Float]): Array[Float] = {
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / norm)
  }
  private def draw(r: SplittableRandom): Array[Float] =
    unit(Array.fill(dim)(r.nextGaussian().toFloat))
  private def label(id: Long): Int = Inputs.rng(seed, 7000000L + id).nextInt(10)

  private val live = mutable.LinkedHashMap[Long, Array[Float]]()
  private var nextId = n.toLong
  private var epochs = 0

  def writeBase(spark: SparkSession, path: String): Long = {
    import spark.implicits._
    val r = Inputs.rng(seed, 4)
    live.clear(); nextId = n.toLong; epochs = 0
    (0 until n).foreach(i => live(i.toLong) = draw(r))
    live.toSeq.map { case (id, v) => (id, v.toSeq, label(id)) }
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(path)
    Inputs.dirBytes(path)
  }

  /** Next epoch's changefeed as one parquet file in `feedDir`; returns
    * (bytes, updates, deletes, inserts).
    */
  def writeEpoch(spark: SparkSession, feedDir: String,
                 logDir: String): (Long, Int, Int, Int) = {
    import spark.implicits._
    epochs += 1
    val r = Inputs.rng(seed, 5000L + epochs)
    val ids = live.keys.toIndexedSeq
    val nUpd = math.max(1, (ids.size * updShare).toInt)
    val nDel = math.max(1, (ids.size * delShare).toInt)
    val nIns = math.max(1, (n * insShare).toInt)
    val touched = mutable.LinkedHashSet[Long]()
    while (touched.size < nUpd + nDel) touched += ids(r.nextInt(ids.size))
    val (upd, del) = touched.toSeq.splitAt(nUpd)
    val rows = mutable.ArrayBuffer[(Long, Seq[Float], Int, String)]()
    upd.foreach { id =>
      val v = draw(r); live(id) = v; rows += ((id, v.toSeq, label(id), "U"))
    }
    del.foreach { id =>
      rows += ((id, live(id).toSeq, label(id), "D")); live.remove(id)
    }
    (0 until nIns).foreach { _ =>
      val id = nextId; nextId += 1
      val v = draw(r); live(id) = v; rows += ((id, v.toSeq, label(id), "I"))
    }
    // the epoch lands as one file in the feed, and a copy is kept
    // under its epoch number for the correctness check
    val logged = f"$logDir/epoch-$epochs%04d"
    rows.toSeq.toDF("vec_id", "embedding", "label", "op")
      .coalesce(1).write.mode("overwrite").parquet(logged)
    val part = new File(logged).listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    Inputs.mkdirs(feedDir)
    val landed = new File(f"$feedDir/epoch-$epochs%04d.parquet")
    java.nio.file.Files.copy(part.toPath, landed.toPath)
    (landed.length(), nUpd, nDel, nIns)
  }

  def liveCount: Int = live.size

  /** Fixed query set: ids below zero so no corpus row is excluded as
    * the query itself.
    */
  def queries(count: Int): IndexedSeq[(Long, Seq[Float])] = {
    val r = Inputs.rng(seed, 6)
    (1 to count).map(i => (-i.toLong, draw(r).toSeq))
  }
}
