package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.Native
import graft.functions.DotProduct
import graft.Tables

/** Distributed PCA — the top principal component of the embedding
  * cloud by power iteration, computed as matrix-free matvec passes:
  * s = Σ_rows c·(cᵀv) with c the centered vector, so each iteration is
  * ONE narrow scan + one 64-cell global aggregate and the d×d
  * covariance matrix is never materialized. The top component is the
  * standard embedding-hygiene tool (all-but-the-top post-processing,
  * anisotropy diagnosis, whitening) a training pipeline runs over its
  * embedding store.
  *
  * Reference basis: no linear-algebra operator exists in the reference
  * (SURVEY.md §2.3); this is the LLM-pipeline tier. The
  * contract-then-iterate split follows [[graft.relational.Graph.pagerankNations]]:
  * the distributed phase per round is the 100 TB scan-and-aggregate;
  * the 64-double normalization between rounds belongs on the driver.
  *
  * Scale: each pass reads the (checkpointed) vectors once and reduces
  * to exactly [[Dim]] BIGINT cells — payload is dimension-sized, never
  * corpus-sized, and rounds never replay prior lineage. Determinism:
  * every cross-row sum runs on an exact 1e-6 integer grid (the
  * catalog's fixed-point discipline), so no FP accumulation order ever
  * crosses engines; the only FP chain is the per-row dot against the
  * iterate (in-order [[graft.functions.DotProduct]], bit-matching
  * DuckDB's list_dot_product) and the driver-side normalization, which
  * the oracle replays term-for-term from the recorded second-to-last
  * iterate ([[pcaFit]] — the fitted-constant registry technique of
  * [[Similarity]]).
  */
object Pca extends graft.Catalog {

  /** Convergence note: power iteration converges at rate (λ2/λ1)^k, so
    * the iterate count is the accuracy knob. Production embedding
    * clouds are strongly anisotropic (large gap — the reason
    * all-but-the-top exists) and converge in a handful of rounds; the
    * synthetic fixture is near-isotropic (λ2/λ1 ≈ 0.99), so the
    * catalog pins the contract as EXACTLY [[PowerIters]] deterministic
    * rounds — what the oracle replays and the spec cross-checks against
    * a same-count driver iteration.
    */
  val Dim = 64
  val PowerIters = 8

  /** v entering the FINAL pass, recorded so the dump-time oracle can
    * replay pass 8 (mean + sums + normalization) in SQL — the
    * fitted-constant registry technique; one Verify run touches one
    * data dir ([[Similarity]]'s lastDir reasoning).
    */
  @volatile private var lastFit: Option[Array[Double]] = None
  @volatile private var lastFinal: Option[Array[Double]] = None

  /** One PCA fit: (mean, final component, n, ||s||_final). A
    * [[graft.Memo]], so [[pcaPower]] and [[pcaResiduals]] in one catalog
    * pass share the 9 scans.
    */
  private def fitPca(spark: SparkSession, d: String)
      : (Array[Double], Array[Double], Long, Double) =
    graft.Memo(spark, ("pca_fit", d)) {
      import spark.implicits._
      val e = Tables.embeddings(spark, d)
        .select(col("embedding").cast("array<double>").as("v"))
        .transform(graft.Ckpt.cut) // 9 passes read one materialized scan
      // pass 0: exact-grid per-dim mean (64 BIGINT sums, one global agg)
      val meanAggs = (0 until Dim).map(i =>
        sum(round(element_at($"v", i + 1) * 1000000, 0).cast("long")).as(s"m$i"))
      val mrow = e.agg(count(lit(1)).as("n"), meanAggs: _*).collect()(0)
      val n = mrow.getAs[Long]("n")
      val mean = Array.tabulate(Dim)(i =>
        mrow.getAs[Long](s"m$i").toDouble / (n.toDouble * 1000000.0))
      // literals enter the per-pass plans as ARRAY literals (typedlit),
      // not as 64 inlined double literals in a SQL string:
      // complex-typed literals land in the codegen `references`
      // array, so all 8 passes generate IDENTICAL source and passes 2-8
      // hit the Janino cache instead of recompiling the 64-aggregate
      // stage with each round's new iterate baked in (measured ~0.2 s
      // of pure compile per pass at any data size). Values and FP ops
      // are unchanged — only the literal's spelling moved.
      val meanLit = typedlit(mean.toSeq)
      val centered = e.withColumn("c", zip_with($"v", meanLit, (a, b) => a - b))
      // power iteration: v0 = uniform unit vector (64 * (1/8)^2 = 1)
      var v = Array.fill(Dim)(0.125)
      var nrm = 0.0
      val sAggs = (0 until Dim).map(i =>
        sum(round(element_at($"c", i + 1) * $"t" * 1000000, 0).cast("long"))
          .as(s"s$i"))
      for (k <- 1 to PowerIters) {
        if (k == PowerIters) lastFit = Some(v.clone())
        val tExpr = Native(es => DotProduct(es(0), es(1)), $"c", typedlit(v.toSeq))
        val srow = centered.withColumn("t", tExpr).agg(sAggs.head, sAggs.tail: _*)
          .collect()(0)
        val sd = Array.tabulate(Dim)(i => srow.getAs[Long](s"s$i").toDouble)
        nrm = math.sqrt(sd.foldLeft(0.0)((a, x) => a + x * x))
        v = sd.map(_ / nrm)
      }
      lastFinal = Some(v.clone())
      (mean, v, n, nrm)
    }

  def pcaPower(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val (_, v, n, nrm) = fitPca(spark, d)
    // scatter-matrix top eigenvalue estimate ||Av||, as per-sample
    // variance along the component
    val pcVar = BigDecimal(nrm / 1000000.0 / (n - 1).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    (0 until Dim).map(i => (i.toLong,
      BigDecimal(v(i)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      pcVar)).toDF("dim", "loading", "pc_var")
  }

  /** All-but-the-top scoring (Mu & Viswanath, ICLR 2018): per vector,
    * the projection onto the fitted top component and the residual norm
    * after removing it — the anisotropy report an embedding-hygiene
    * pass reads before deciding to whiten. ONE narrow scan against
    * broadcast (mean, component) literals: zero exchanges at any
    * corpus size; the scoring FP chain is two in-order dots + identical
    * scalar ops, rounded at emission.
    */
  def pcaResiduals(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val (mean, v, _, _) = fitPca(spark, d)
    val meanLit = array(mean.map(lit).toIndexedSeq: _*)
    val vLit = array(v.map(lit).toIndexedSeq: _*)
    Tables.embeddings(spark, d)
      .select($"vec_id", col("embedding").cast("array<double>").as("x"))
      .withColumn("c", zip_with($"x", meanLit, (a, b) => a - b))
      .withColumn("t", Native(es => DotProduct(es(0), es(1)), $"c", vLit))
      .withColumn("cc", Native(es => DotProduct(es(0), es(1)), $"c", $"c"))
      .select($"vec_id",
        round($"t", 4).as("proj"),
        round(sqrt(greatest($"cc" - $"t" * $"t", lit(0.0))), 4)
          .as("resid_norm"))
  }

  /** DuckDB twin of the FINAL pass: recomputes the exact-grid mean from
    * the data, replays pass [[PowerIters]]'s matvec from the recorded
    * iterate, and normalizes in the same term order.
    */
  private def pcaOracle: String = {
    val v7 = lastFit.getOrElse(Array.fill(Dim)(0.125))
    val vLits = v7.map(Similarity.dlit).mkString(", ")
    s"""WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
       |dims AS (SELECT unnest(range(1, ${Dim + 1})) AS i),
       |mean AS (
       |  SELECT i, CAST(sum(CAST(round(v[i] * 1000000, 0) AS BIGINT))
       |                 AS BIGINT) AS m
       |  FROM e, dims GROUP BY i),
       |ml AS (
       |  SELECT list(CAST(m AS DOUBLE) /
       |              (CAST((SELECT n FROM nn) AS DOUBLE) * 1000000e0)
       |              ORDER BY i) AS m
       |  FROM mean),
       |ct AS (
       |  SELECT list_transform(range(1, ${Dim + 1}), i -> v[i] - m[i]) AS c
       |  FROM e, ml),
       |tt AS (SELECT c, list_dot_product(c, [$vLits]) AS t FROM ct),
       |s AS (
       |  SELECT i, CAST(sum(CAST(round(c[i] * t * 1000000, 0) AS BIGINT))
       |                 AS BIGINT) AS s
       |  FROM tt, dims GROUP BY i),
       |sl AS (SELECT list(CAST(s AS DOUBLE) ORDER BY i) AS sl FROM s),
       |nrm AS (SELECT sqrt(list_dot_product(sl, sl)) AS nrm FROM sl)
       |SELECT CAST(i - 1 AS BIGINT) AS dim,
       |  round(CAST(s AS DOUBLE) / nrm, 6) + 0.0 AS loading,
       |  round(nrm / 1000000e0 / CAST(n - 1 AS DOUBLE), 6) + 0.0 AS pc_var
       |FROM s, nrm, nn""".stripMargin
  }

  /** Residual oracle: exact-grid mean recomputed from data (same CTEs
    * as [[pcaOracle]]), fitted component embedded, identical scoring
    * expressions.
    */
  private def residOracle: String = {
    val v = lastFinal.getOrElse(Array.fill(Dim)(0.125))
    val vLits = v.map(Similarity.dlit).mkString(", ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
       |dims AS (SELECT unnest(range(1, ${Dim + 1})) AS i),
       |mean AS (
       |  SELECT i, CAST(sum(CAST(round(v[i] * 1000000, 0) AS BIGINT))
       |                 AS BIGINT) AS m
       |  FROM e, dims GROUP BY i),
       |ml AS (
       |  SELECT list(CAST(m AS DOUBLE) /
       |              (CAST((SELECT n FROM nn) AS DOUBLE) * 1000000e0)
       |              ORDER BY i) AS m
       |  FROM mean),
       |ct AS (
       |  SELECT vec_id,
       |         list_transform(range(1, ${Dim + 1}), i -> v[i] - m[i]) AS c
       |  FROM e, ml),
       |sc AS (
       |  SELECT vec_id, list_dot_product(c, [$vLits]) AS t,
       |         list_dot_product(c, c) AS cc
       |  FROM ct)
       |SELECT vec_id, round(t, 4) + 0.0 AS proj,
       |  round(sqrt(greatest(cc - t * t, 0e0)), 4) + 0.0 AS resid_norm
       |FROM sc""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_pca_power" -> (pcaPower _),
    "embed_pca_residuals" -> (pcaResiduals _))

  def oracles: Map[String, String] = Map(
    "embed_pca_power" -> pcaOracle,
    "embed_pca_residuals" -> residOracle)
}
