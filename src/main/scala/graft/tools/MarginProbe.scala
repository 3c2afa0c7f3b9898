package graft.tools

import org.apache.spark.sql.functions._

/** One-off margin probe for the q_d_incremental gate (builder tooling,
  * not engine surface): the gate's construction oracle is only valid if
  * NO natural candidate pair reaches the verification threshold — this
  * prints the maximum exact Jaccard over all-natural LSH candidate
  * pairs of the documents table, at whatever sf dir is passed.
  */
object MarginProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // this probe never pinned the session time zone: keep the JVM's
    val spark = graft.Session.local("32",
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.session.timeZone" -> java.util.TimeZone.getDefault.getID)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val all = graft.operators.Dedup
      .nearDupPairs(docs, "text", "doc_id", threshold = 0.0)
    val m = all.agg(max(col("jaccard")).as("max_nat"),
      count(lit(1)).as("n_cand")).collect()(0)
    println(s"PROBE dir=$dir max_natural_jaccard=${m.get(0)} candidates=${m.get(1)}")
    spark.stop()
  }
}
