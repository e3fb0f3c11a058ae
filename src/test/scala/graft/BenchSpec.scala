package graft

/** Bench's timing contract: a query that throws is reported as failed,
  * never timed, and never counted in the total.
  */
class BenchSpec extends SparkSpec {

  test("a throwing query is listed as failed and left out of the times and the total") {
    val ok: Bench.Query = (s, _) => s.range(100).toDF()
    val bad: Bench.Query = (_, _) => { Thread.sleep(200); sys.error("boom") }
    val t = Bench.timePasses(spark, sf, Seq("q01_ok" -> ok, "q02_bad" -> bad))
    assert(t.failed == Seq("q02_bad"))
    assert(t.times.map(_._1) == Seq("q01_ok"))
    assert(t.spread.keySet == Set("q01_ok"))
    val line = Bench.officialLine(t.times, t.failed.size, "sf0.001")
    val total = "%.2f".formatLocal(java.util.Locale.ROOT, t.times.map(_._2).sum)
    assert(line.startsWith(s"""{"metric":"total","value":$total,"""), line)
    assert(line.contains(""""failed":1,"""), line)
    assert(!line.contains(""""2":"""), line)
  }

  test("a query that fails in one pass only is failed, not timed") {
    var calls = 0
    val flaky: Bench.Query = (s, _) => {
      calls += 1
      if (calls == 2) sys.error("second pass") else s.range(10).toDF()
    }
    val t = Bench.timePasses(spark, sf, Seq("q03_flaky" -> flaky))
    assert(calls == 2)
    assert(t.failed == Seq("q03_flaky") && t.times.isEmpty && t.spread.isEmpty)
  }
}
