package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** [[BenchDiff]]'s parsing and its two flags on hand-written bench
  * lines.
  */
class BenchDiffSpec extends AnyFunSuite {

  private def line(cpu: String, bytes: String, jobs: Option[String]): String =
    s"""{"metric":"total","cpu_sec":{$cpu},"bytes_read":{$bytes},""" +
      s""""shuffle_write":{"q_a":0,"q_b":0,"q_c":0},""" +
      jobs.fold("")(j => s""""jobs":{$j},""") +
      s""""queries":{"q_a":1.0,"q_b":1.0,"q_c":1.0},"failed":0,"value":3.0}"""

  private val old = line(""""q_a":1.00,"q_b":1.00,"q_c":1.00""",
    """"q_a":100,"q_b":100,"q_c":100""", Some(""""q_a":4,"q_b":7,"q_c":2"""))

  test("objectOf extracts a balanced map, quoted braces included") {
    val j = """{"x":1,"m":{"a\"}":2,"b":{"c":3}},"n":{}}"""
    assert(BenchDiff.objectOf(j, "m").contains("""{"a\"}":2,"b":{"c":3}}"""))
    assert(BenchDiff.objectOf(j, "n").contains("{}"))
    assert(BenchDiff.objectOf(j, "z").isEmpty)
    assert(BenchDiff.numberMap(BenchDiff.objectOf(old, "jobs").get) ==
      Map("q_a" -> 4.0, "q_b" -> 7.0, "q_c" -> 2.0))
  }

  test("CPU growth is a regression only when the work moved") {
    // q_a: 3x CPU with bytes moved; q_b: 3x CPU with bytes identical;
    // q_c: within the ratio
    val cur = line(""""q_a":3.00,"q_b":3.00,"q_c":1.10""",
      """"q_a":500,"q_b":100,"q_c":100""", None)
    val (flagged, noise) = BenchDiff.cpuGrowth(old, cur, ratioFlag = 1.5)
    assert(flagged.map(_.q) == Seq("q_a"))
    assert(noise.map(_.q) == Seq("q_b"))
  }

  test("every rise in jobs per attempt is listed; a missing map skips") {
    val cur = line(""""q_a":1.00,"q_b":1.00,"q_c":1.00""",
      """"q_a":100,"q_b":100,"q_c":100""", Some(""""q_a":5,"q_b":6,"q_c":2.5"""))
    assert(BenchDiff.jobRises(old, cur) ==
      Seq(BenchDiff.Row("q_a", 4, 5), BenchDiff.Row("q_c", 2, 2.5)))
    val noJobs = line(""""q_a":1.00""", """"q_a":100""", None)
    assert(BenchDiff.jobRises(noJobs, cur).isEmpty)
    assert(BenchDiff.jobRises(old, noJobs).isEmpty)
  }

  test("a BENCH_r16.json-shaped run record is told apart from a bench line") {
    // a run record keeps the line pretty-printed under `parsed`, or only
    // a `tail` fragment when `parsed` is null
    def record(parsed: String) =
      "{\n  \"n\": 16,\n  \"rc\": 0,\n  \"cpus\": 32,\n  \"sf\": 0.1,\n" +
        "  \"tail\": \"emp_epochs\\\":0.162,\\\"q_v_hnsw_cpt\\\":2.113}\",\n" +
        "  \"parsed\": " + parsed + "\n}"
    val parsed = "{\n    \"metric\": \"total\",\n    \"cpu_sec\": {\n" +
      "      \"q_a\": 1.5,\n      \"q_b\": 2\n    },\n    \"value\": 3.0\n  }"
    assert(BenchDiff.benchLine(old).contains(old))
    val line = BenchDiff.benchLine(record(parsed))
    assert(line.contains(parsed))
    assert(BenchDiff.cpuRows(line.get, line.get).map(r => r.q -> r.n) ==
      Seq("q_a" -> 1.5, "q_b" -> 2.0))
    assert(BenchDiff.benchLine(record("null")).isEmpty)
    // the committed records: r16 carries its full maps, r15 only a tail
    def file(n: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"BENCH_r$n.json")), "UTF-8")
    val r16 = BenchDiff.benchLine(file("16"))
    assert(r16.exists(BenchDiff.cpuRows(_, BenchDiff.benchLine(file("16_c8")).get).nonEmpty))
    assert(BenchDiff.benchLine(file("15")).isEmpty)
  }
}
