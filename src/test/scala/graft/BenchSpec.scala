package graft

/** The dev modes of [[Bench]]: argument parsing, and `time`/`explain` on
  * the shared session (which carries the graft extensions, so the
  * lifecycle-SQL rows run). */
class BenchSpec extends SparkSpec {

  test("parse: modes, defaults, and malformed arguments naming the token") {
    import Bench._
    assert(parse(Nil) == Sweep)
    assert(parse(Seq("time", "d")) == Time("d", sweepQueries.map(_ -> 5)))
    assert(!sweepQueries.exists(_.contains("_check")) && sweepQueries == sweepQueries.sorted)
    assert(parse(Seq("time", "d", "q02_hash_agg:3", "q01_filter_project")) ==
      Time("d", Seq("q02_hash_agg" -> 3, "q01_filter_project" -> 5)))
    assert(parse(Seq("jobs", "d", "q02_hash_agg")) == Jobs("d", "q02_hash_agg"))
    assert(parse(Seq("explain", "d", "q02_hash_agg", "q01_filter_project")) ==
      Explain("d", Seq("q02_hash_agg", "q01_filter_project")))
    Seq(
      Seq("timing", "d") -> "timing",
      Seq("time") -> "time",
      Seq("explain") -> "explain",
      Seq("jobs", "d") -> "d",
      Seq("explain", "d", "q02_nope") -> "q02_nope",
      Seq("time", "d", "q02_nope:3") -> "q02_nope",
      Seq("time", "d", "q02_hash_agg:x") -> "q02_hash_agg:x",
      Seq("time", "d", "q02_hash_agg:1:2") -> "q02_hash_agg:1:2",
      Seq("time", "d", "q02_hash_agg:0") -> "q02_hash_agg:0",
      Seq("time", "d", "q02_hash_agg:") -> "q02_hash_agg:",
      Seq("jobs", "d", "q02_hash_agg", "q01_filter_project") -> "q01_filter_project"
    ).foreach { case (args, token) =>
      val e = intercept[IllegalArgumentException](parse(args))
      assert(e.getMessage.contains(s"'$token'") && e.getMessage.contains(Usage),
        s"$args: ${e.getMessage}")
    }
  }

  test("time runs a lifecycle-SQL row for the requested iterations") {
    val Seq((name, its)) = Bench.time(spark, sfDir, Seq("q162_sql_optimize" -> 2))
    assert(name == "q162_sql_optimize" && its.size == 2 && its.forall(_.wall > 0), its)
  }

  test("explain returns the formatted physical plan") {
    val Seq((_, plan)) = Bench.explain(spark, sfDir, Seq("q02_hash_agg"))
    assert(plan.contains("HashAggregate"), plan)
  }
}
