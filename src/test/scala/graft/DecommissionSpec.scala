package graft

/** Unit coverage for the decommission rehearsal's pieces that don't
  * need a multi-process cluster: the shuffle-sum kernel is exact
  * integer arithmetic (so the rehearsal's result check is
  * order-independent), the shuffle is reusable across two jobs (the
  * sequencing the rehearsal depends on), and the main refuses a
  * single-JVM master. The migration contrast itself is the job of the
  * `graft.DecommissionRehearsal` main run on a `local-cluster` master
  * (real executor processes to SIGPWR; see its scaladoc for the usage).
  */
class DecommissionSpec extends SparkSpec {

  test("shuffleSum kernel matches a straight SQL aggregate") {
    val (buckets, total) = DecommissionRehearsal.summarize(
      DecommissionRehearsal.shuffleSum(spark, sf, 64).collect())
    val want = spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("l_orderkey % 64 AS k", "CAST(l_quantity AS LONG) AS v")
      .groupBy("k").sum("v")
    assert(buckets == want.count())
    assert(total == want.selectExpr("CAST(sum(`sum(v)`) AS LONG)")
      .collect()(0).getLong(0))
  }

  test("one-partition job materializes the shuffle; full collect reuses it") {
    val reduced = DecommissionRehearsal.shuffleSum(spark, sf, 64)
    val one = spark.sparkContext.runJob(reduced,
      (it: Iterator[(Long, Long)]) => it.size, Seq(0))
    assert(one.length == 1)
    val (buckets, total) = DecommissionRehearsal.summarize(reduced.collect())
    val (b2, t2) = DecommissionRehearsal.summarize(
      DecommissionRehearsal.shuffleSum(spark, sf, 64).collect())
    assert((buckets, total) == ((b2, t2)))
  }

  test("main refuses a single-JVM master") {
    val e = intercept[IllegalArgumentException] {
      DecommissionRehearsal.main(Array(sf, "/tmp/unused.json"))
    }
    assert(e.getMessage.contains("local-cluster"))
  }
}
