package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench record: its per-query schema, the timing loop's engine
  * counts, and the codegen counter its `codegen_compiles` field reads.
  */
class BenchSpec extends AnyFunSuite {

  private val fields = Seq("wall_s", "cpu_s", "codegen_compiles", "jobs",
    "stages", "task_s", "shuffle_read_mb", "shuffle_write_mb")

  test("record schema: per-query pass arrays, min-of-passes map, served column, errors") {
    def s(wall: Double) =
      Bench.Sample(wall, 0.25, 2L, Bench.Counts(3, 4, 1500, 2000000, 1000000))
    val main = Map("q1" -> Seq(s(0.5), s(0.4), s(0.45)),
      "q2" -> Seq(s(1.0), s(-1.0), s(0.9)))
    val (record, summary) =
      Bench.render("sfX", main, 1.5, Map("q1" -> Seq(s(0.2), s(0.3), s(0.25))))
    assert(!record.contains("\n") && !summary.contains("\n"))
    assert(record.startsWith("""{"metric":"total","value":0.400,"unit":"sec","passes":3,"cpu_s":1.500,"""))
    assert(record.contains(""""queries":{"q1":0.400,"q2":-1.000}"""))
    assert(record.contains(""""q1":{"wall_s":[0.500,0.400,0.450],"cpu_s":[0.250,0.250,0.250],"codegen_compiles":[2,2,2],"jobs":[3,3,3],"stages":[4,4,4],"task_s":[1.500,1.500,1.500],"shuffle_read_mb":[2.000,2.000,2.000],"shuffle_write_mb":[1.000,1.000,1.000]}"""))
    assert(record.contains(""""graph_persist_sec":1.500,"graph_served":{"q1":0.200},"served_per_query":{"q1":{"wall_s":[0.200,0.300,0.250],"""))
    assert(record.contains(""""errors":["q2"]"""))
    assert(record.endsWith(""""sf":"sfX"}"""))
    assert(summary.contains(""""n_queries":2,"graph_persist_sec":1.500,"graph_served_total":0.200,"graph_served_n":1,"errors":["q2"],"record":"BENCH_SELF.json""""))
    assert(!summary.contains("per_query"))
  }

  test("timing loop: every pass of every query carries its engine counts") {
    val spark = TestSpark.spark
    val tally = new Bench.Tally
    spark.sparkContext.addSparkListener(tally)
    try {
      val names = Seq("a1_groupby_sum_top5", "j4_star_join")
      val res = Bench.timedPasses(spark, tally, names, TestSpark.sf, 2)
      assert(res.keySet == names.toSet)
      res.foreach { case (n, ss) =>
        assert(ss.size == 2, n)
        ss.foreach { x =>
          assert(x.wallS > 0, n)
          assert(x.cpuS > 0, n)
          assert(x.eng.jobs >= 1, n)
          assert(x.eng.stages >= 1, n)
          assert(x.eng.taskMs >= 0 && x.eng.shuffleBytes >= 0, n)
        }
        val json = Bench.sampleJson(ss)
        fields.foreach(f => assert(json.contains("\"" + f + "\":["), s"$n $f"))
      }
    } finally spark.sparkContext.removeSparkListener(tally)
  }

  test("codegen_compiles: per-query compile counts per pass; a repeat compiles nothing") {
    val json = Bench.sampleJson(Seq(
      Bench.Sample(0.5, 0.5, 11L, Bench.Counts(1, 1, 0, 0, 0)),
      Bench.Sample(0.5, 0.5, 0L, Bench.Counts(1, 1, 0, 0, 0))))
    assert(json.contains(""""codegen_compiles":[11,0]"""))
    // the counter the field reads: a new plan compiles, its repeat hits
    val spark = TestSpark.spark
    val q = spark.range(4).selectExpr(s"id + ${System.nanoTime()}L AS x")
    val c0 = Bench.compileCount()
    q.collect()
    val c1 = Bench.compileCount()
    q.collect()
    assert(c1 > c0, "a never-seen plan must compile")
    assert(Bench.compileCount() == c1, "its repeat must hit the cache")
  }
}
