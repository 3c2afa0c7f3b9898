package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine._
import graft.functions.{NativeExpressions, TextFunctions}
import graft.operators.{DatasetSplit, Dedup, Hnsw, Ivf, Packing, UnigramLm}
import graft.streaming.StreamingVectorIndex

/** What one closed-loop unit delivered: its input bytes, its wall time
  * and counts of useful work the per-layer ratios divide by.
  */
final case class UnitOut(inputBytes: Long, wallS: Double,
                         work: Map[String, Long] = Map.empty)

/** One workload's pipeline over its own directory: `setup` generates the
  * inputs and builds the pre-state, `unit` runs one closed-loop unit
  * (with `tr` set, every call into a layer is a span), `digest` sums the
  * final state order-independently and `check` names the files the
  * correctness check reads.
  */
trait Pipe {
  def setup(): Map[String, Any]
  def unit(i: Int, tr: Option[Meter]): UnitOut
  def digest(): String
  def check(): Map[String, Any]
}

object Pipe {
  /** Layers each pipeline's traced unit covers, in table order. */
  val layers: Map[String, Seq[String]] = Map(
    "sales_load" -> Seq("ingest", "silver", "scd1", "fact"),
    "sales_cdc" -> Seq("ingest", "silver", "scd1", "fact"),
    "curate" -> Seq("clean", "quality", "dedup", "decontam", "split",
      "tokenize", "pack"),
    "vector_cdc" -> Seq("ivf.upsert", "ivf.search", "hnsw.upsert",
      "hnsw.search"))

  def apply(workload: String, spark: SparkSession, dir: String, seed: Long,
            scale: Scale): Pipe = workload match {
    case "sales_load" => new SalesPipe(spark, dir, seed, scale, cdc = false)
    case "sales_cdc" => new SalesPipe(spark, dir, seed, scale, cdc = true)
    case "curate" => new CuratePipe(spark, dir, seed, scale)
    case "vector_cdc" => new VectorPipe(spark, dir, seed, scale)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def traced[T](tr: Option[Meter], name: String)(body: => T): T =
    tr.fold(body)(_.span(name)(body))

  def rmrf(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(c => rmrf(c.getPath))
    f.delete()
  }

  /** Order-independent content digest: row count, sum of the low 40
    * bits and xor of per-row 64-bit hashes.
    */
  def digestOf(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(col).toIndexedSeq: _*)
    df.agg(count(lit(1)), sum(h.bitwiseAND(0xFFFFFFFFFFL)), bit_xor(h))
      .head().toSeq.mkString(":")
  }
}

/** The medallion load: CSV → bronze → silver → four SCD1 dims → fact.
  * `cdc = false` times whole initial loads into fresh warehouses;
  * `cdc = true` builds the warehouse in set-up and times incremental
  * epochs against it.
  */
final class SalesPipe(spark: SparkSession, dir: String, seed: Long,
                      scale: Scale, cdc: Boolean) extends Pipe {
  private val feed = new SalesFeed(seed, scale.salesRows, scale.deltaRows)
  private val csv = s"$dir/input/sales.csv"
  private var warehouse = s"$dir/wh"
  private val applied = mutable.ArrayBuffer[String]()

  /** SalesPipeline.run; traced, each of its calls into a layer is a
    * span (the engine is not instrumented, see [[Meter.watch]]).
    */
  private def run(csvPath: String, incremental: Boolean,
                  tr: Option[Meter]): Unit = {
    val pipeline = new SalesPipeline(spark, TableCatalog(spark, warehouse))
    tr match {
      case None => pipeline.run(csvPath, incremental)
      case Some(m) => m.watch(SalesPipe.layers)(pipeline.run(csvPath, incremental))
    }
  }

  def setup(): Map[String, Any] = {
    val bytes = feed.writeInitial(csv)
    if (cdc) { run(csv, incremental = false, None); applied += csv }
    Map("sales_rows" -> scale.salesRows, "csv_bytes" -> bytes)
  }

  def unit(i: Int, tr: Option[Meter]): UnitOut =
    if (!cdc) {
      Pipe.rmrf(warehouse)
      warehouse = s"$dir/wh-$i"
      val t0 = System.nanoTime()
      run(csv, incremental = false, tr)
      applied.clear(); applied += csv
      UnitOut(new File(csv).length(), (System.nanoTime() - t0) / 1e9,
        Map("delta_rows" -> scale.salesRows))
    } else {
      val delta = f"$dir/input/delta-$i%04d.csv"
      val (bytes, matched, novel) = feed.writeDelta(delta, i)
      val t0 = System.nanoTime()
      run(delta, incremental = true, tr)
      applied += delta
      UnitOut(bytes, (System.nanoTime() - t0) / 1e9,
        Map("delta_rows" -> (matched + novel), "delta_matched" -> matched,
          "delta_novel" -> novel))
    }

  private def catalog = TableCatalog(spark, warehouse)

  def digest(): String = {
    val fact = ScdType1.all.foldLeft(catalog.read(FactBuilder.factSales.table)) {
      (acc, d) => acc.join(catalog.read(d.table), Seq(d.surrogateKey))
    }
    val natural = fact.select((ScdType1.all.flatMap(_.naturalKey) ++
      FactBuilder.factSales.measures).map(col): _*)
    (Pipe.digestOf(natural) +: ScdType1.all.map(d =>
      Pipe.digestOf(catalog.read(d.table).select(d.cols.map(col): _*))))
      .mkString("/")
  }

  def check(): Map[String, Any] = Map(
    "kind" -> "sales",
    "warehouse" -> warehouse,
    "csv" -> applied.toList,
    "tables" -> (FactBuilder.factSales.table +: ScdType1.all.map(_.table))
      .map(t => t -> catalog.pathFor(t)).toMap)
}

object SalesPipe {
  /** Each layer of the medallion load and the engine object whose calls
    * it is; `Upsert` and `TableCatalog` calls count to their caller's.
    */
  val layers: Seq[(String, String)] = Seq(
    "ingest" -> "graft.engine.Ingest",
    "silver" -> "graft.engine.SilverTransform",
    "scd1" -> "graft.engine.ScdType1",
    "fact" -> "graft.engine.FactBuilder")
}

/** The curation chain (the q_pipe_curate2 composition) followed by
  * tokenize → pack: clean → quality → exact dedup → decontaminate →
  * mix + split, then unigram training and encode and packing offsets.
  * Untraced, the chain up to the split runs as one plan that lands the
  * curated corpus, and the encoding feeds the packing plan. Traced,
  * each stage's output is cached and counted inside its span, so its
  * jobs run there and nothing is written that the untraced unit does
  * not write.
  */
final class CuratePipe(spark: SparkSession, dir: String, seed: Long,
                       scale: Scale) extends Pipe {
  private val corpus = s"$dir/input/corpus"
  private var out = s"$dir/out"

  def setup(): Map[String, Any] = {
    val (bytes, props) = new Corpus(seed, scale.docs).write(spark, corpus)
    props + ("corpus_bytes" -> bytes)
  }

  def unit(i: Int, tr: Option[Meter]): UnitOut = {
    Pipe.rmrf(out)
    out = s"$dir/out-$i"
    val cached = mutable.ArrayBuffer[DataFrame]()
    val rows = mutable.Map[String, Long]()
    def stage(name: String)(df: => DataFrame): DataFrame = tr match {
      case None => df
      case Some(m) => m.span(name) {
        val c = df.cache()
        cached += c
        rows(name) = c.count()
        c
      }
    }
    val t0 = System.nanoTime()
    val cleaned = stage("clean")(spark.read.parquet(corpus)
      .select(col("doc_id"),
        TextFunctions.cleanBoilerplate(col("text")).as("text")))
    val profiled = stage("quality")(cleaned
      .select(col("doc_id"), col("text"),
        NativeExpressions.textProfile(col("text")).as("__p"))
      .filter(col("__p.quality_micros") >= 400000L)
      .select(col("doc_id"), col("text"),
        col("__p.lang_pred").as("lang"), col("__p.n_tokens").as("nt")))
    val deduped = stage("dedup")(Dedup.exactRows(profiled, "text", "doc_id"))
    val decon = stage("decontam")(Dedup.decontaminate(
      deduped.filter(col("doc_id") % 97 =!= 0),
      cleaned.filter(col("doc_id") % 97 === 0), "text", "doc_id"))
    val curated = Pipe.traced(tr, "split") {
      decon
        .filter(DatasetSplit.weightedSampleFilter(col("text"), col("lang"),
          Map("en" -> 192, "und" -> 64), 128))
        .select(col("doc_id"), col("text"), col("lang"), col("nt"),
          DatasetSplit.splitLabel(col("text")).as("split"))
        .write.mode("overwrite").parquet(s"$out/curated")
      spark.read.parquet(s"$out/curated")
    }
    val encoded = stage("tokenize") {
      val vocab = UnigramLm.train(curated, "text", rounds = 2)
      UnigramLm.encode(curated, "text", "doc_id", vocab)
    }
    Pipe.traced(tr, "pack")(Packing.packOffsetsWeighted(
      encoded.select(col("doc_id"),
        DatasetSplit.bucket256(col("encoded")).as("bucket"), col("n_pieces")),
      "doc_id", "n_pieces", seqTokens = 1024)
      .write.mode("overwrite").parquet(s"$out/packed"))
    cached.foreach(_.unpersist(blocking = true))
    UnitOut(Inputs.dirBytes(corpus), (System.nanoTime() - t0) / 1e9,
      rows.map { case (k, v) => s"$k.rows_out" -> v }.toMap)
  }

  def digest(): String =
    Pipe.digestOf(spark.read.parquet(s"$out/curated").select("doc_id", "split")) +
      "/" + Pipe.digestOf(spark.read.parquet(s"$out/packed"))

  /** `sql_pack` is the engine's own DuckDB replay of tokenize → pack
    * over a `documents` relation.
    */
  def check(): Map[String, Any] = Map(
    "kind" -> "curate", "corpus" -> corpus,
    "curated" -> s"$out/curated", "packed" -> s"$out/packed",
    "sql_pack" -> graft.StretchQueries.oracleSql("q_pipe_tokenize_pack"))
}

/** Vector-index CDC: IVF and HNSW indexes over one embedding corpus;
  * each unit lands one I/U/D changefeed, drains it into both indexes,
  * then runs a fixed set of top-k searches against each.
  */
final class VectorPipe(spark: SparkSession, dir: String, seed: Long,
                       scale: Scale) extends Pipe {
  private val gen = new VectorFeed(seed, scale.vectors, scale.dim)
  private val base = s"$dir/input/base"
  private val feed = s"$dir/feed"
  private val feedLog = s"$dir/feedlog"
  private val ivf = s"$dir/ivf"
  private val hnsw = s"$dir/hnsw"
  private val ivfK = 8
  private val hnswShards = 4
  private val topK = 10
  private val epochs = mutable.ArrayBuffer[String]()

  private val queries: IndexedSeq[DataFrame] = {
    import spark.implicits._
    gen.queries(scale.searchCalls * scale.queriesPerCall)
      .grouped(scale.queriesPerCall)
      .map(_.toDF("vec_id", "embedding")).toIndexedSeq
  }
  private var lastAnn = Seq.empty[(String, Long, Int, Long, Double)]

  def setup(): Map[String, Any] = {
    val bytes = gen.writeBase(spark, base)
    val df = spark.read.parquet(base)
    Ivf.ensureIndex(df, base, ivf, k = ivfK, iters = 2)
    Hnsw.ensureIndex(df, base, hnsw, shards = hnswShards, m = 8, efC = 32)
    Map("vectors" -> scale.vectors, "dim" -> scale.dim, "base_bytes" -> bytes)
  }

  private def rows(df: DataFrame, engine: String) =
    df.select(col("q_id"), col("rank"), col("n_id"), col("cosine"))
      .collect().toSeq.map(r => (engine, r.getAs[Number](0).longValue,
        r.getAs[Number](1).intValue, r.getAs[Number](2).longValue,
        r.getAs[Number](3).doubleValue))

  def unit(i: Int, tr: Option[Meter]): UnitOut = {
    val (bytes, upd, del, ins) = gen.writeEpoch(spark, feed, feedLog)
    epochs += f"$feedLog/epoch-$i%04d"
    val t0 = System.nanoTime()
    Pipe.traced(tr, "ivf.upsert")(StreamingVectorIndex.upsertStream(
      spark, feed, ivf, s"$dir/ckpt-ivf", opCol = Some("op")))
    Pipe.traced(tr, "hnsw.upsert")(StreamingVectorIndex.upsertStreamHnsw(
      spark, feed, hnsw, s"$dir/ckpt-hnsw", opCol = Some("op")))
    val ivfHits = queries.map(q => Pipe.traced(tr, "ivf.search")(
      rows(Ivf.searchIndex(spark, ivf, q, k = topK, nprobe = 2), "ivf")))
    val hnswHits = queries.map(q => Pipe.traced(tr, "hnsw.search")(
      rows(Hnsw.searchIndex(spark, hnsw, q, k = topK, nprobe = 2, ef = 32),
        "hnsw")))
    lastAnn = (ivfHits ++ hnswHits).flatten
    UnitOut(bytes, (System.nanoTime() - t0) / 1e9,
      Map("updates" -> upd, "deletes" -> del, "inserts" -> ins,
        "ivf.search.hits" -> ivfHits.map(_.size).sum.toLong,
        "hnsw.search.hits" -> hnswHits.map(_.size).sum.toLong))
  }

  private def allQueries: DataFrame = queries.reduce(_ union _)

  /** Exhaustive searches: every IVF list, every HNSW shard in full. */
  private def fullProbe: DataFrame =
    Ivf.searchIndex(spark, ivf, allQueries, k = topK, nprobe = ivfK)
      .select(lit("ivf").as("engine"), col("q_id"), col("rank"), col("n_id"),
        round(col("cosine"), 6).as("cosine"))
      .unionByName(Hnsw.searchIndex(spark, hnsw, allQueries, k = topK,
          nprobe = hnswShards, ef = 0)
        .select(lit("hnsw").as("engine"), col("q_id"), col("rank"),
          col("n_id"), round(col("cosine"), 6).as("cosine")))

  def digest(): String = Pipe.digestOf(fullProbe)

  def check(): Map[String, Any] = {
    import spark.implicits._
    fullProbe.write.mode("overwrite").parquet(s"$dir/check/full")
    lastAnn.toDF("engine", "q_id", "rank", "n_id", "cosine")
      .write.mode("overwrite").parquet(s"$dir/check/ann")
    allQueries.write.mode("overwrite").parquet(s"$dir/check/queries")
    Map("kind" -> "vector", "base" -> base, "epochs" -> epochs.toList,
      "full" -> s"$dir/check/full", "ann" -> s"$dir/check/ann",
      "queries" -> s"$dir/check/queries", "k" -> topK,
      "ivf_rows" -> Ivf.indexRowCount(spark, ivf).getOrElse(-1L),
      "hnsw_rows" -> spark.read.parquet(s"$hnsw/graph").count(),
      "live_rows" -> gen.liveCount)
  }
}
