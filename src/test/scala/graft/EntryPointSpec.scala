package graft

import org.scalatest.funsuite.AnyFunSuite

/** The entry points' shared plumbing, checked without a session: the
  * query-subset helper every main selects through, and the two refusals
  * of the session factory.
  */
class EntryPointSpec extends AnyFunSuite {

  test("query subset: unknown names and empty lists fail; a valid list selects exactly it") {
    val unknown = intercept[IllegalArgumentException] {
      SparkEntry.selected(Some("mr_wc,no_such_query,kv_typo"))
    }
    assert(unknown.getMessage.contains("kv_typo,no_such_query"), unknown.getMessage)
    val empty = intercept[IllegalArgumentException](SparkEntry.selected(Some(" , ")))
    assert(empty.getMessage.contains("zero queries"), empty.getMessage)
    assert(SparkEntry.selected(Some("mr_wc, kv_last_write")).keySet ==
      Set("mr_wc", "kv_last_write"))
    assert(SparkEntry.selected(None).keySet == SparkEntry.queries.keySet)
  }

  test("session settings reject an extra-conf entry that is not k=v") {
    val e = intercept[IllegalArgumentException] {
      GraftSession.settings("local[2]", "2", Nil, None, Some("spark.a=1;spark.b"))
    }
    assert(e.getMessage.contains("'spark.b' is not k=v"), e.getMessage)
  }

  test("session settings refuse a multi-process master without executor memory") {
    for (m <- Seq("local-cluster[2,1,1024]", "spark://host:7077")) {
      val e = intercept[IllegalArgumentException] {
        GraftSession.settings(m, "8", Nil, None, Some("spark.task.maxFailures=4"))
      }
      assert(e.getMessage.contains("spark.executor.memory"), e.getMessage)
    }
    val ok = GraftSession.settings("local-cluster[2,1,1024]", "8",
      Seq("spark.sql.shuffle.partitions" -> "16"), Some("/cp"),
      Some("spark.executor.memory=2g; spark.sql.shuffle.partitions=32"))
    assert(ok.contains("spark.executor.extraClassPath" -> "/cp"))
    // the extra conf comes last, so it wins over every in-code conf
    assert(ok.filter(_._1 == "spark.sql.shuffle.partitions").last._2 == "32")
    assert(GraftSession.settings("local[4]", "4", Nil, None, None)
      .contains("spark.sql.session.timeZone" -> "UTC"))
  }
}
