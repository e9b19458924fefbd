package graft

/** Bench's timer must never turn a failure into a timing. */
class BenchSpec extends SparkSpec {

  test("timeOne: a query that throws is None, at construction or at run time") {
    assert(Bench.timeOne(spark, sf, (_, _) => throw new IllegalStateException("boom")).isEmpty)
    assert(Bench.timeOne(spark, sf, (s, _) => s.range(1).selectExpr("raise_error('boom')")).isEmpty)
  }

  test("timeOne: a query that runs returns its elapsed seconds") {
    assert(Bench.timeOne(spark, sf, (s, _) => s.range(10).toDF()).exists(_ >= 0))
  }
}
