package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated name substrings — local
    // iteration filter; the driver's 2-arg invocation runs everything
    val (sfDir, outDir, nameFilter) = args match {
      case Array(s, o)    => (s, o, Seq.empty[String])
      case Array(s, o, f) => (s, o, f.split(',').toSeq)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the deployment-config injection path: pure-SQL gates (planner
    // skipping, bounded-Levenshtein rewrite, graft_* kernels) run
    // exactly as a production session configured this way would
    val spark = Session.local(cpus)
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) =>
        nameFilter.isEmpty || nameFilter.exists(name.contains)
      }
      .foreach { case (name, fn) =>
      // drop any previous run's output FIRST: a failing query must
      // never surface as a stale (silently passing) result from an
      // earlier run
      val out = new java.io.File(s"$outDir/$name")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      if (out.exists()) rm(out)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // A broken query must be a RED ROW in the correctness
        // artifact, never a silently missing key (round 7: three
        // regressions were invisible in CORRECTNESS_r07 and only
        // surfaced via the bench's stderr). Writing a sentinel result
        // whose schema can never match any oracle guarantees the
        // driver's compare records the failure; errors.json carries
        // the full diagnostic.
        val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
        System.err.println(s"[verify] $name failed: $msg")
        failures(name) = msg
        try {
          import spark.implicits._
          Seq(msg).toDF("__graft_error").coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(
            s"[verify] $name: sentinel write also failed: ${e2.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) =>
        nameFilter.isEmpty || nameFilter.exists(k.contains)
      }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED: " +
        failures.keys.mkString(", "))
    spark.stop()
  }
}
