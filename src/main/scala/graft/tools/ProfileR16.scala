package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-16 optimization-phase profiler: times the PHASES inside the
  * heaviest gates (index build, per-epoch delete/append, maintenance,
  * search; containment's posting/candidate/verify stages) so the
  * optimization targets the measured hot phase, not a guess. Pure
  * measurement harness — none of the driver's declared queries call
  * anything here.
  *
  * Usage: sbt "runMain graft.tools.ProfileR16 <mode>"
  *   hnsw-stream   — phase timings of the q_v_stream_hnsw(+_maint) shape
  *   containment   — stage timings of the q_e_containment shape
  */
object ProfileR16 {
  private def timed[T](label: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    println(f"[phase] $label%-32s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Session.local(cpus)
    spark.read.parquet(s"$sfDir/nation.parquet").count(): Unit

    args.headOption.getOrElse("hnsw-stream") match {
      case "hnsw-stream" => hnswStream(spark, sfDir)
      case "hnsw-cpt" => hnswCpt(spark, sfDir)
      case "ivf-stream" => ivfStream(spark, sfDir)
      case "containment-plan" =>
        // plan evidence for plans/r16: the UNPINNED operator pipeline
        // (the public form returns a pinned scratch scan)
        val recs = graft.StretchQueries.messyNames(spark, sfDir)
          .select(col("rec_id"), col("name"))
        val (plan, sc) = graft.operators.EntityResolution
          .trigramPairsContainmentPlan(recs, "rec_id", "name",
            thetaMicros = 800000L)
        println("===== q_e_containment (unpinned pipeline) =====")
        println(plan.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        sc.drop()
      case "containment" => containment(spark, sfDir)
      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }

  private def atScale[T](s: SparkSession)(body: => T): T = {
    val keys = Seq(
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = keys.map { case (k, _) => k -> s.conf.getOption(k) }
    keys.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  private def hnswStream(spark: SparkSession, sfDir: String): Unit = {
    import graft.operators.Hnsw
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    (1 to 3).foreach { rep =>
      val scaled = rep == 3   // rep 3 mirrors q_v_stream_hnsw_maint's layout
      def inLayout[T](body: => T): T =
        if (scaled) atScale(spark)(body) else body
      println(s"== rep $rep${if (scaled) " (atScaleShuffle)" else ""} ==")
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_p16_hnsw"
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      val idx = s"$scratch/idx"
      timed("ensureIndex(attrs)") {
        Hnsw.ensureIndex(emb, s"$sfDir/embeddings.parquet", idx,
          shards = 4, m = 8, efC = 32, attrCols = Seq("label"))
      }
      val e1 = emb.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"),
          transform(col("embedding"), x => (-x).cast("float"))
            .as("embedding"), col("label"))
        .unionByName(emb.filter(col("vec_id") % 5 === 3)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            reverse(col("embedding")).as("embedding"), col("label")))
      val ids1 = timed("epoch1 ids collect") {
        e1.select(col("vec_id")).distinct().collect()
          .map(_.getLong(0)).toIndexedSeq
      }
      timed("epoch1 delete") { inLayout {
        Hnsw.deleteFromIndex(spark, idx, col("vec_id").isin(ids1: _*)): Unit
      } }
      timed("epoch1 append") { inLayout { Hnsw.appendToIndex(e1, idx) } }
      val e2 = emb.filter(col("vec_id") % 14 === 0)
        .select(col("vec_id"), col("embedding"), col("label"))
      val ids2 = e2.select(col("vec_id")).distinct().collect()
        .map(_.getLong(0)).toIndexedSeq
      timed("epoch2 delete") { inLayout {
        Hnsw.deleteFromIndex(spark, idx, col("vec_id").isin(ids2: _*)): Unit
      } }
      timed("epoch2 append") { inLayout { Hnsw.appendToIndex(e2, idx) } }
      timed("maintain") {
        Hnsw.maintain(spark, idx, maxFilesPerShard = 1,
          maxAppendedFraction = 10.0, maxShardSkew = 100.0): Unit
      }
      timed("search") {
        Hnsw.searchIndex(spark, idx, emb.filter(col("vec_id") < 16),
          k = 5, nprobe = 4, ef = 0)
          .write.format("noop").mode("overwrite").save()
      }
    }
  }

  private def ivfStream(spark: SparkSession, sfDir: String): Unit = {
    import graft.operators.Ivf
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    (1 to 3).foreach { rep =>
      println(s"== rep $rep ==")
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_p16_ivf"
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      val (feed, ckpt, idx) = (s"$scratch/feed", s"$scratch/ckpt",
        s"$scratch/idx")
      timed("ensureIndex") {
        Ivf.ensureIndex(emb, s"$sfDir/embeddings.parquet", idx, k = 4,
          iters = 2)
      }
      val e1 = emb.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"),
          transform(col("embedding"), x => (-x).cast("float"))
            .as("embedding"), col("label"))
        .unionByName(emb.filter(col("vec_id") % 5 === 3)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            reverse(col("embedding")).as("embedding"), col("label")))
      timed("epoch1 feed write") {
        e1.coalesce(1).write.mode("append").parquet(feed)
      }
      timed("epoch1 drain (stream)") {
        graft.streaming.StreamingVectorIndex.upsertStream(spark, feed,
          idx, ckpt)
      }
      timed("epoch2 feed write") {
        emb.filter(col("vec_id") % 14 === 0)
          .select(col("vec_id"), col("embedding"), col("label"))
          .coalesce(1).write.mode("append").parquet(feed)
      }
      timed("epoch2 drain (stream)") {
        graft.streaming.StreamingVectorIndex.upsertStream(spark, feed,
          idx, ckpt)
      }
      timed("search") {
        val latestQ = emb.filter(col("vec_id") < 16)
          .select(col("vec_id"),
            when(col("vec_id") % 7 === 0 && col("vec_id") % 14 =!= 0,
              transform(col("embedding"), x => (-x).cast("float")))
              .otherwise(col("embedding")).as("embedding"))
        Ivf.searchIndex(spark, idx, latestQ, k = 5, nprobe = 4)
          .write.format("noop").mode("overwrite").save()
      }
    }
  }

  private def hnswCpt(spark: SparkSession, sfDir: String): Unit = {
    import graft.operators.Hnsw
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    (1 to 3).foreach { rep =>
      println(s"== rep $rep ==")
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft_p16_hcpt"
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(idx), true)
      val half0 = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      val half1 = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
      timed("ensureIndex(half0)") {
        Hnsw.ensureIndex(half0, s"$sfDir/embeddings.parquet", idx,
          shards = 4, m = 8, efC = 32, attrCols = Seq("label"))
      }
      timed("append(half1, atScale)") {
        atScale(spark) { Hnsw.appendToIndex(half1, idx) }
      }
      timed("needsCompaction") {
        Hnsw.needsCompaction(spark, idx, maxFilesPerShard = 1): Unit
      }
      timed("compactShards") { Hnsw.compactShards(spark, idx): Unit }
      timed("search") {
        Hnsw.searchIndex(spark, idx, emb.filter(col("vec_id") < 16),
          k = 5, nprobe = 4, ef = 0)
          .write.format("noop").mode("overwrite").save()
      }
    }
  }

  private def containment(spark: SparkSession, sfDir: String): Unit = {
    import graft.operators.{EntityResolution, Materialize}
    val recs = graft.StretchQueries.messyNames(spark, sfDir)
      .select(col("rec_id"), col("name"))
    (1 to 2).foreach { rep =>
      println(s"== rep $rep ==")
      timed("full trigramPairsContainment") {
        EntityResolution.trigramPairsContainment(
          recs, "rec_id", "name", thetaMicros = 800000L)
          .write.format("noop").mode("overwrite").save()
      }
      // stage replication (mirrors the operator internals)
      val base = recs
        .select(col("rec_id").as("__id"), col("name").as("__k"))
        .select(col("__id"), array_distinct(expr(
          "transform(sequence(1, greatest(length(__k) - 2, 1))," +
            " i -> substring(__k, i, 3))")).as("__gs"))
      val exploded = base.select(col("__id"), explode(col("__gs")).as("__g"))
      val dfTab = exploded.groupBy(col("__g"))
        .agg(count(lit(1)).as("__df"))
      val (ordered, sc1) = timed("stage: ordered grams materialize") {
        Materialize.viaScratchWithPath(
          exploded.join(dfTab, "__g")
            .groupBy(col("__id"))
            .agg(transform(
              sort_array(collect_list(struct(col("__df"), col("__g")))),
              x => x.getField("__g")).as("__ga")),
          "p16-cgrams")
      }
      val posting = ordered
        .withColumn("__sz", size(col("__ga")).cast("long"))
        .select(col("__id"), col("__sz"), posexplode(col("__ga")))
        .select(col("col").as("__g"), col("__id"), col("__sz"),
          (col("pos") + 1).cast("long").as("__p"))
      val theta = 800000L
      val preA = posting.filter(
        col("__p") <= col("__sz") -
          expr(s"(__sz * ${theta}L + 999999L) div 1000000L") + 1L)
      val cands = preA.select(col("__g"), col("__id").as("rec_id_a"),
          col("__sz").as("__sa"), col("__p").as("__pa"))
        .join(posting.select(col("__g"), col("__id").as("rec_id_b"),
          col("__sz").as("__sb"), col("__p").as("__pb")), Seq("__g"))
        .filter(col("rec_id_a") =!= col("rec_id_b") &&
          col("__sb") * 1000000L >= col("__sa") * theta &&
          (lit(1L) + least(col("__sa") - col("__pa"),
            col("__sb") - col("__pb"))) * 1000000L >=
            col("__sa") * theta)
        .select(col("rec_id_a"), col("rec_id_b")).distinct()
      val (candsM, sc2) = timed("stage: candidates (join+distinct)") {
        Materialize.viaScratchWithPath(cands, "p16-cands")
      }
      println(s"  candidates: ${candsM.count()}")
      timed("stage: verify (re-join + intersect)") {
        candsM
          .join(ordered.select(col("__id").as("rec_id_a"),
            col("__ga").as("__ka")), "rec_id_a")
          .join(ordered.select(col("__id").as("rec_id_b"),
            col("__ga").as("__kb")), "rec_id_b")
          .withColumn("__n",
            size(array_intersect(col("__ka"), col("__kb"))).cast("long"))
          .withColumn("__sa", size(col("__ka")).cast("long"))
          .filter(col("__n") * 1000000L >= col("__sa") * theta)
          .write.format("noop").mode("overwrite").save()
      }
      sc1.drop(); sc2.drop()
    }
  }
}
