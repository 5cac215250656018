package graft

/** Unit coverage for the straggler rehearsal's pieces that don't need a
  * multi-process cluster: the word-count kernel is exact (the stall
  * wrapper is a pass-through for data), the victim predicate never
  * matches in-process executors when blank, and the main refuses a
  * single-JVM master rather than produce a receipt-shaped no-op. The
  * speculation contrast itself is the job of the `graft.StragglerRehearsal`
  * main run on a `local-cluster` or standalone master (real executor JVMs
  * to stall; see its scaladoc for the usage).
  */
class StragglerSpec extends SparkSpec {

  test("wordCount kernel matches a plain groupBy count (stall disabled)") {
    import spark.implicits._
    val (got, wall) =
      StragglerRehearsal.wordCount(spark, sf, parts = 8, victim = "", sleepMs = 0)
    val want = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").as[String]
      .flatMap(_.split("\\s+")).filter(_.nonEmpty)
      .groupBy("value").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
    assert(wall > 0)
  }

  test("a victim id no in-process executor carries leaves timing unstalled") {
    // local[4,2] tasks run under executorId "driver": naming a cluster-style
    // numeric victim must not stall anything (sleep would add >=2 s here)
    val t0 = System.nanoTime()
    val (got, _) =
      StragglerRehearsal.wordCount(spark, sf, parts = 4, victim = "0", sleepMs = 2000)
    assert(got.nonEmpty)
    assert((System.nanoTime() - t0) / 1e9 < 60)
  }

  test("main refuses a single-JVM master") {
    val e = intercept[IllegalArgumentException] {
      StragglerRehearsal.main(Array(sf, "/tmp/unused.json"))
    }
    assert(e.getMessage.contains("local-cluster"))
  }
}
