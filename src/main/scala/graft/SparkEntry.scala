package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog module: its queries and the DuckDB twins of those queries.
  *
  * Every key in `queries` has an entry in `oracles` (an ANSI SQL twin
  * hash-compared against Spark's result on the same parquet tables) or a
  * reason in `noOracle`, never both. `oracles` may be a `def` whose
  * entries appear only once a live session holds their fit (data-fitted
  * twins, read through [[Memo.latest]]).
  */
trait Catalog {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
  def noOracle: Map[String, String] = Map.empty
}

/** The driver contract: the catalog, its oracles and the smoke entry.
  *
  * [[catalogs]] lists every catalog module once; [[queries]] and
  * [[oracleSql]] are merged from it. Keys without an oracle get a weaker
  * rows-only check; each such key carries its reason in its module's
  * `noOracle` (engine-native sketch binaries DuckDB cannot reproduce).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Word count through the generic MapReduce core — the reference's
    * signature workload (mrapps/wc.go) running scan → flatMap → shuffle →
    * sorted streaming reduce, end to end.
    */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("source", "text").as[(String, String)]
    graft.mr.MapReduce
      .run(spark, docs, apps.MrApps.wcMap, apps.MrApps.wcReduce, 8)
      .toDF()
  }

  /** Every catalog module, each named once. */
  val catalogs: Seq[Catalog] = Seq(
    apps.MrApps, relational.RelQueries, relational.RelExtras,
    relational.Analytics, relational.TpchMore, relational.TimeSeries,
    relational.Graph, relational.Layout, kv.KVStore, gossip.HealthMerge,
    text.TextAnalysis, text.TextExtras, text.Bpe, text.Phrases, text.Dedup,
    text.DedupCluster, text.Retrieval, text.HeavyHitters, sim.Similarity,
    sim.Fusion, sim.Eval, sim.Pca, multimodal.Multimodal,
    streaming.EventStreams, streaming.Drift, streaming.DocStreams,
    relational.Skew, relational.Quantiles, relational.Reconcile,
    relational.BloomPrune, relational.MaterializedView, pipeline.Curriculum,
    relational.StatAudit, relational.StatModels, pipeline.Curation,
    pipeline.Packing, pipeline.Decontam, pipeline.Classifier,
    pipeline.Privacy, pipeline.Dsir, relational.Experiment,
    relational.TsExtras, relational.Hits, relational.BasketRules,
    relational.Dependence, pipeline.QualityRules, pipeline.SplitAudit,
    text.LshPlan, relational.StatExtras)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalogs.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Re-read on every call: the data-fitted
    * twins appear only once their fit exists.
    */
  def oracleSql: Map[String, String] = catalogs.flatMap(_.oracles).toMap

  /** The queries a comma-separated name list selects, or the whole
    * catalog for None. A name not in the catalog, or a list naming no
    * query, fails with the bad keys: a typo must never run a silently
    * smaller catalog.
    */
  def selected(names: Option[String]): Map[String, (SparkSession, String) => DataFrame] = {
    val all = queries
    names.fold(all) { spec =>
      val want = spec.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = want.diff(all.keySet)
      require(unknown.isEmpty,
        s"queries not in the catalog: ${unknown.toSeq.sorted.mkString(",")}")
      require(want.nonEmpty, s"query list '$spec' selects zero queries")
      all.filter { case (n, _) => want(n) }
    }
  }
}
