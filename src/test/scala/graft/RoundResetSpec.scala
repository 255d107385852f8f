package graft

/** The one round reset every multi-leg runner shares (Bench, Trace): after
  * it, nothing a previous round persisted or memoised survives into the
  * next one. */
class RoundResetSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("resetRound frees every persisted RDD and drops the memoised p1/w4 frames") {
    val p1 = queries.Pipeline.p1.fn(spark, dir)
    p1.count()
    SparkEntry.queries("w4_dynamic_row")(spark, dir).count()
    assert(queries.Pipeline.p1.fn(spark, dir) eq p1, "p1 is memoised per (session, dir)")
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    Bench.resetRound(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"left persisted: ${spark.sparkContext.getPersistentRDDs.keys.mkString(", ")}")
    val rebuilt = queries.Pipeline.p1.fn(spark, dir)
    assert(rebuilt ne p1, "p1 must be rebuilt after the reset, not served from the store")
    Bench.resetRound(spark)
  }

  test("Trace.run attributes a leg's jobs and leaves the session open") {
    val q = "q1_pricing_summary"
    val leg = Trace.run(spark, q, dir, leg = 1)
    assert(leg.rows == SparkEntry.queries(q)(spark, dir).count())
    assert(leg.jobs.nonEmpty, "a counted query runs at least one job")
    assert(leg.jobs.exists(_.tasks > 0) && leg.jobs.forall(_.seconds >= 0.0))
    val lines = leg.lines
    assert(lines.head.contains(s"$q leg 1") && lines.head.contains(s"rows=${leg.rows}"))
    assert(lines.count(_.contains(" job ")) == leg.jobs.size)
    assert(!spark.sparkContext.isStopped)
  }
}
