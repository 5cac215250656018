package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-rehearsal data generator: replicates a driver-generated SF
  * directory Rx (default 10x — sf0.1 -> sf1) with foreign-key-consistent
  * key shifts, so spill/skew behavior one rung above the graded SF can
  * be rehearsed WITHOUT touching the read-only driver fixtures.
  *
  *   - Every key domain shifts by `rep * ceil(domain)` with the SAME
  *     ceil on both sides of each FK (orders.o_custkey moves in lockstep
  *     with customer.c_custkey), so join fan-outs and key cardinalities
  *     scale linearly — exactly what a 10x crawl does.
  *   - Fixed dims (region, nation) stay fixed, like TPC-H.
  *   - Document text gets a per-replica suffix token and embeddings a
  *     per-replica epsilon: replicas are NEAR-duplicates, not byte
  *     twins, so the dedup/similarity tiers face the workload they
  *     exist for (banded near-dup groups) rather than a degenerate
  *     all-identical corpus (that regime is spec-stressed separately).
  *
  * SKEW MODE (4th arg `skew`): the uniform replication above preserves
  * the fixture's even key distribution, which never exercises the
  * hot-key paths a real crawl hits. Skew mode plants, deterministically
  * by key modulo so FKs stay valid and reruns are identical:
  *   - ONE hot customer owning 20% of all orders AND 20% of all events
  *     (o_orderkey % 5 == 0 / event_id % 5 == 0 re-keyed to the lowest
  *     replica-0 custkey) — join/agg skew on the fact side;
  *   - ONE hot token appended to 50% of documents (doc_id % 2 == 0) —
  *     a stopword-class df spike for the banded/prefix dedup tiers;
  *   - ONE hot embedding ball: 20% of vectors (vec_id % 5 == 0) become
  *     epsilon-perturbed copies of source vector 0 — a single IVF cell
  *     that dwarfs every other, the regime cell caps exist for.
  *
  * Usage: runMain graft.ScaleGen [srcDir] [outDir] [factor] [uniform|skew]
  * Defaults: /root/testdata/sf0.1 /tmp/sf1 10 uniform
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/sf1")
    val r = args.lift(2).map(_.toInt).getOrElse(10)
    val mode = args.lift(3).getOrElse("uniform")
    require(mode == "uniform" || mode == "skew", s"unknown mode $mode")
    val skew = mode == "skew"
    // under ScalaTest getOrCreate() returns the suite's shared session —
    // stopping THAT would kill every later suite, so only stop a
    // session this main itself created
    val ownsSession = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isEmpty
    val spark = GraftSession(s"local[${GraftSession.cpus("8")}]", "32")

    def tbl(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")

    def ceilOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).first().getLong(0) + 1L

    // replicate Rx, shifting the named key columns by rep * ceil and
    // preserving every column's name, order, and type
    def replicate(df: DataFrame, shifts: Map[String, Long]): DataFrame = {
      val cols = df.schema.fields.map { f =>
        shifts.get(f.name) match {
          case Some(m) => (col(f.name) + col("rep") * m).as(f.name)
          case None => col(f.name)
        }
      }
      df.withColumn("rep", explode(sequence(lit(0L), lit(r - 1L))))
        .select(cols.toIndexedSeq: _*)
    }

    // scaled tables repartition before write: the explode would otherwise
    // inherit the source's 1-2 splits and every downstream scan of the
    // rehearsal data runs 5-10 tasks — unrealistically narrow vs the
    // thousands of splits a real 10x table ships with
    def write(df: DataFrame, name: String): Unit =
      df.repartition(32).write.mode("overwrite").parquet(s"$out/$name.parquet")

    def writeDim(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name.parquet")

    val custCeil = ceilOf(tbl("customer"), "c_custkey")
    val suppCeil = ceilOf(tbl("supplier"), "s_suppkey")
    val partCeil = ceilOf(tbl("part"), "p_partkey")
    val orderCeil = ceilOf(tbl("orders"), "o_orderkey")
    val eventCeil = ceilOf(tbl("events"), "event_id")
    val docCeil = ceilOf(tbl("documents"), "doc_id")
    val vecCeil = ceilOf(tbl("embeddings"), "vec_id")

    // hot-key target: a replica-0 customer, so it exists in every
    // replica's dim and the planted skew can never dangle
    val hotCust = tbl("customer").agg(min(col("c_custkey"))).first().getLong(0)
    def hotKey(df: DataFrame, selector: String, key: String): DataFrame =
      if (!skew) df
      else df.withColumn(key,
        when(col(selector) % 5 === 0, lit(hotCust)).otherwise(col(key)))

    writeDim(tbl("region"), "region")
    writeDim(tbl("nation"), "nation")
    write(replicate(tbl("customer"), Map("c_custkey" -> custCeil)), "customer")
    write(replicate(tbl("supplier"), Map("s_suppkey" -> suppCeil)), "supplier")
    write(replicate(tbl("part"), Map("p_partkey" -> partCeil)), "part")
    write(hotKey(replicate(tbl("orders"),
      Map("o_orderkey" -> orderCeil, "o_custkey" -> custCeil)),
      "o_orderkey", "o_custkey"), "orders")
    write(replicate(tbl("lineitem"),
      Map("l_orderkey" -> orderCeil, "l_partkey" -> partCeil,
        "l_suppkey" -> suppCeil)), "lineitem")
    // fixture ts encodings have varied (timestamp[ns]-as-LONG under the
    // nanosAsLong conf, then timestamp[us] NTZ); normalize through the
    // same shared path as Tables.events and write a real UTC
    // timestamp[us] so BOTH Spark and the DuckDB oracle read the scaled
    // table without any shim
    // user_id is an FK to customer.c_custkey (the segment-enrich joins),
    // so it must move by the CUSTOMER ceil — shifting it by its own ceil
    // would re-wire replicated events to wrong or missing customers
    val events = hotKey(replicate(tbl("events"),
      Map("event_id" -> eventCeil, "user_id" -> custCeil)),
      "event_id", "user_id")
    val eventsTs = Tables.normalizeTs(events)
    write(eventsTs.select(events.columns.map(col).toIndexedSeq: _*), "events")
    // near-dup text replicas: suffix token for rep > 0, n_chars kept
    // consistent with the transformed text
    val docsBase = tbl("documents")
      .withColumn("rep", explode(sequence(lit(0L), lit(r - 1L))))
      .select(
        (col("doc_id") + col("rep") * docCeil).as("doc_id"),
        when(col("rep") === 0L, col("text"))
          .otherwise(concat(col("text"), lit(" r"), col("rep"))).as("text"),
        col("lang"), col("source"))
    // hot token: a df spike covering half the corpus — what a boilerplate
    // phrase ("all rights reserved") looks like to the dedup tiers
    val docs = (if (!skew) docsBase
      else docsBase.withColumn("text",
        when(col("doc_id") % 2 === 0,
          concat(col("text"), lit(" graftskewhot"))).otherwise(col("text"))))
      .withColumn("n_chars", length(col("text")).cast("long"))
    write(docs, "documents")
    // near-identical embedding replicas: epsilon per replica keeps
    // cosine structure while avoiding byte-equal vectors
    val embsBase = tbl("embeddings")
      .withColumn("rep", explode(sequence(lit(0L), lit(r - 1L))))
      .select(
        (col("vec_id") + col("rep") * vecCeil).as("vec_id"),
        expr("transform(embedding, x -> CAST(x + rep * 0.001 AS FLOAT))")
          .as("embedding"),
        col("label"))
    // hot ball: 20% of vectors collapse onto source vector 0 plus a
    // bounded epsilon (vec_id mod 1024 scaled to <= ~1e-4 — well inside
    // one IVF cell, and an order of magnitude tighter than the uniform
    // replicas' +rep*0.001 shift so the ball is unambiguous)
    val embs = if (!skew) embsBase
      else {
        val hotVec: Seq[Float] = tbl("embeddings")
          .filter(col("vec_id") === 0).select("embedding")
          .first().getSeq[Float](0)
        embsBase.withColumn("hv", typedLit(hotVec))
          .withColumn("embedding",
            when(col("vec_id") % 5 === 0,
              expr("transform(hv, x -> CAST(x + (vec_id % 1024) * 1.0e-7 AS FLOAT))"))
              .otherwise(col("embedding")))
          .drop("hv")
      }
    write(embs, "embeddings")

    val counts = Seq("customer", "orders", "lineitem", "events",
      "documents", "embeddings")
      .map(t => s"$t=${spark.read.parquet(s"$out/$t.parquet").count()}")
    println(s"SCALEGEN done r=$r mode=$mode out=$out ${counts.mkString(" ")}")
    if (ownsSession) spark.stop()
  }
}
