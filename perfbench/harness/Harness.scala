package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The benchmark's JVM side. It drives the catalog through the public
  * `graft.SparkEntry.queries` lambdas and times every call into a layer
  * from the outside: the catalog lambda (construct), Catalyst phases
  * (`QueryExecutionListener` + `QueryPlanningTracker`), Janino compiles
  * (`CodegenMetrics`), jobs/stages/tasks (`SparkListener`) and
  * checkpoint blocks (`getPersistentRDDs` / `getRDDStorageInfo`).
  *
  * One pass runs a fixed query list, in a seed-permuted order, by one
  * closed-loop client. A query is timed from the lambda call to the last
  * collected row. Its rows are then digested outside the timer and
  * compared with the committed reference; a query that throws or
  * mismatches counts as failed and is left out of the timings. Every
  * pass is checked, the untimed ones included: pass 0, the last step of
  * set-up, runs the list once over the same corpus so that the measured
  * passes start on a JIT warmed on the data sizes they read.
  *
  * Arguments are `key=value` pairs; see [[Conf]]. The result is one
  * JSON object written to `out=`; traced runs also write per-query
  * spans as JSON lines to `trace_out=`.
  */
object Harness {

  final case class Conf(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing argument $k="))
    def get(k: String): Option[String] = kv.get(k)
    val sfDir: String = apply("sf")
    val cpus: Int = apply("cpus").toInt
    val passes: Int = apply("passes").toInt
    val seed: Long = apply("seed").toLong
    val traced: Boolean = apply("trace") == "1"
    val launchMs: Long = apply("launch_ms").toLong
    val localDir: String = apply("local_dir")
  }

  def main(args: Array[String]): Unit = {
    val conf = Conf(args.map { a =>
      val i = a.indexOf('='); a.substring(0, i) -> a.substring(i + 1)
    }.toMap)
    val names = read(conf("queries")).filter(_.nonEmpty)
    val refs = conf.get("refs").map(readRefs).getOrElse(Map.empty)
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"queries not in the catalog: ${unknown.mkString(",")}")
    val order = new scala.util.Random(conf.seed).shuffle(names.toVector)

    val spark = setup(conf)
    // pass 0, the warm-up: untimed but checked. Set-up ends when it is done.
    val checked = mutable.ArrayBuffer.empty[PassResult]
    checked += runPass(spark, conf, order, refs, 0, traced = false, timed = false)._1
    val out = new Json
    out.num("setup_s", (System.currentTimeMillis() - conf.launchMs) / 1000.0)
    if (!conf.traced) {
      for (p <- 1 to conf.passes)
        checked += runPass(spark, conf, order, refs, p, traced = false, timed = true)._1
    } else {
      // pass 2 is traced (the per-layer numbers); the untraced passes 1
      // and 3 around it give the tracing overhead
      val before = runPass(spark, conf, order, refs, 1, traced = false, timed = false)._1
      val (traced, tracer) = runPass(spark, conf, order, refs, 2, traced = true, timed = true)
      val after = runPass(spark, conf, order, refs, 3, traced = false, timed = false)._1
      checked ++= Seq(before, traced, after)
      val layers = tracer.get.layers(traced, conf.cpus)
      layers.num("Tables.cold_ms", tablesColdMs(spark, conf.sfDir))
      layers.num("trace.overhead_frac", 2 * traced.wallS / (before.wallS + after.wallS) - 1.0)
      out.obj("layers", layers)
      conf.get("trace_out").foreach(p => tracer.get.writeSpans(p, traced))
    }
    out.arr("pass_wall_s", checked.filter(_.timed).map(p => fmt(p.wallS)))
    out.arr("queries", checked.flatMap(_.records).map(_.json))
    out.num("rss_peak_mb", rssPeakMb())
    finish(spark, conf("out"), out)
  }

  private def finish(spark: SparkSession, path: String, out: Json): Unit = {
    try spark.stop() catch { case _: Throwable => () }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), out.render + "\n")
  }

  // ---------------------------------------------------------------- setup

  /** A ready session, with the catalog's objects initialized. */
  def setup(conf: Conf): SparkSession = {
    require(graft.SparkEntry.queries.nonEmpty)
    val b = SparkSession.builder()
      .master(s"local[${conf.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", conf.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", conf.localDir)
      .config("spark.sql.warehouse.dir", s"${conf.localDir}/warehouse")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Cold `Tables.table` on a fresh session (the scan memo is keyed on
    * the session), summed over every table. */
  def tablesColdMs(spark: SparkSession, sfDir: String): Double = {
    val fresh = spark.newSession()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").map { t =>
      val t0 = System.nanoTime()
      graft.Tables.table(fresh, sfDir, t)
      (System.nanoTime() - t0) / 1e6
    }.sum
  }

  // ---------------------------------------------------------------- passes

  final case class QueryRecord(
      name: String, module: String, pass: Int, inst: String,
      constructS: Double, executeS: Double,
      rows: Long, digest: String, ok: Boolean, error: String, timed: Boolean) {
    def wallS: Double = constructS + executeS
    def json: String = {
      val j = new Json
      j.str("name", name); j.str("module", module); j.num("pass", pass)
      j.num("wall_s", wallS); j.num("construct_s", constructS)
      j.num("execute_s", executeS); j.num("rows", rows); j.str("digest", digest)
      j.bool("ok", ok); j.bool("timed", timed); if (error.nonEmpty) j.str("error", error)
      j.render
    }
  }

  /** `wallS` is the sum of the timed sections (construct plus collect)
    * of the pass's queries that passed their check: the harness's own
    * work between them (digests, reference checks, bookkeeping) is not
    * in it. */
  final case class PassResult(records: Seq[QueryRecord], timed: Boolean,
      codegen: Long, ckpt: (Int, Double)) {
    val wallS: Double = records.filter(_.ok).map(_.wallS).sum
  }

  /** Package of the `SparkEntry` module whose `queries` map holds each
    * query: `graft.<package>.<Module>`. */
  lazy val moduleOf: Map[String, String] = {
    val mods: Seq[(String, Iterable[String])] = Seq(
      "apps" -> graft.apps.MrApps.queries.keys,
      "kv" -> graft.kv.KVStore.queries.keys,
      "gossip" -> graft.gossip.HealthMerge.queries.keys,
      "multimodal" -> graft.multimodal.Multimodal.queries.keys,
      "streaming" -> (graft.streaming.EventStreams.queries.keys ++
        graft.streaming.Drift.queries.keys ++ graft.streaming.DocStreams.queries.keys),
      "sim" -> (graft.sim.Similarity.queries.keys ++ graft.sim.Fusion.queries.keys ++
        graft.sim.Eval.queries.keys ++ graft.sim.Pca.queries.keys),
      "text" -> Seq(graft.text.TextAnalysis.queries, graft.text.TextExtras.queries,
        graft.text.Bpe.queries, graft.text.Phrases.queries, graft.text.Dedup.queries,
        graft.text.DedupCluster.queries, graft.text.Retrieval.queries,
        graft.text.HeavyHitters.queries, graft.text.LshPlan.queries).flatMap(_.keys),
      "pipeline" -> Seq(graft.pipeline.Curriculum.queries, graft.pipeline.Curation.queries,
        graft.pipeline.Packing.queries, graft.pipeline.Decontam.queries,
        graft.pipeline.Classifier.queries, graft.pipeline.Privacy.queries,
        graft.pipeline.Dsir.queries, graft.pipeline.QualityRules.queries,
        graft.pipeline.SplitAudit.queries).flatMap(_.keys))
    val named = mods.flatMap { case (m, ks) => ks.map(_ -> m) }.toMap
    // every other catalog module lives in graft.relational
    graft.SparkEntry.queries.keys.map(k => k -> named.getOrElse(k, "relational")).toMap
  }

  def runPass(spark: SparkSession, conf: Conf, order: Seq[String],
      refs: Map[String, (Long, String)], pass: Int,
      traced: Boolean, timed: Boolean): (PassResult, Option[Tracer]) = {
    // a fresh session per pass (the catalog's memos are keyed on the
    // session) and an empty codegen cache: every pass starts both cold
    val session = spark.newSession()
    clearCodegenCache()
    val sc = session.sparkContext
    val tracer = if (traced) Some(new Tracer(session)) else None
    val catalog = graft.SparkEntry.queries
    val ckpt = new CkptWatch(sc)
    val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val records = order.zipWithIndex.map { case (name, i) =>
      runQuery(session, conf.sfDir, name, catalog(name), s"$name#$pass#$i", pass, refs,
        tracer, ckpt, timed)
    }
    tracer.foreach(_.close())
    (PassResult(records, timed,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0, ckpt.totals), tracer)
  }

  def runQuery(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => DataFrame, inst: String, pass: Int,
      refs: Map[String, (Long, String)], tracer: Option[Tracer],
      ckpt: CkptWatch, timed: Boolean): QueryRecord = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.QueryProp, inst)
    sc.setLocalProperty(Tracer.PhaseProp, "construct")
    tracer.foreach(_.begin(inst))
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    var rows: Array[Row] = null
    var error = ""
    try {
      val df = fn(spark, sfDir)
      t1 = System.nanoTime()
      sc.setLocalProperty(Tracer.PhaseProp, "execute")
      rows = df.collect()
    } catch {
      case e: Throwable =>
        error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
    }
    val t2 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    if (t1 == t0 && error.nonEmpty) t1 = t2
    sc.setLocalProperty(Tracer.QueryProp, null)
    sc.setLocalProperty(Tracer.PhaseProp, null)
    val (n, digest) = if (rows == null) (-1L, "") else Digest.of(rows)
    // an empty reference map means the run records references
    if (error.isEmpty) refs.get(name) match {
      case Some((rn, rd)) if rn == n && rd == digest => ()
      case Some((rn, rd)) => error = s"output mismatch: rows $n digest $digest, expected rows $rn digest $rd"
      case None if refs.nonEmpty => error = "no reference digest"
      case None => ()
    }
    ckpt.observe(inst)
    tracer.foreach(_.end(inst, startMs, endMs, (t1 - t0) / 1e9, ckpt.of(inst)))
    QueryRecord(name, moduleOf(name), pass, inst,
      (t1 - t0) / 1e9, (t2 - t1) / 1e9, n, digest, error.isEmpty, error, timed)
  }

  // ---------------------------------------------------------------- helpers

  /** Empties Spark's process-wide cache of compiled generated classes. */
  def clearCodegenCache(): Unit = {
    val gen = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val m = gen.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val cache = m.invoke(gen)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  def read(path: String): Seq[String] =
    scala.io.Source.fromFile(path).getLines().map(_.trim).toSeq

  /** `name rows digest` per line; `#` starts a comment line. */
  def readRefs(path: String): Map[String, (Long, String)] =
    read(path).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val f = l.split("\\s+"); f(0) -> (f(1).toLong, f(2))
    }.toMap

  def rssPeakMb(): Double =
    try {
      val line = read("/proc/self/status").find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => -1.0 }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Order-independent digest of a result: the row count and the sum
  * (mod 2^64) of a 64-bit hash of each row's canonical text. Floating
  * point values are rounded to 10 significant digits, so a different
  * summation order across partitions does not change the digest. */
object Digest {
  def of(rows: Array[Row]): (Long, String) = {
    var acc = 0L
    val sb = new java.lang.StringBuilder
    rows.foreach { r =>
      sb.setLength(0)
      canon(r, sb)
      val s = sb.toString
      val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
      val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
      acc += (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
    }
    (rows.length.toLong, f"$acc%016x")
  }

  private def dbl(d: Double, sb: java.lang.StringBuilder): Unit =
    if (d.isNaN) sb.append("NaN")
    else if (d.isInfinite) sb.append(if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) sb.append("0")
    else sb.append(new java.math.BigDecimal(d)
      .round(new java.math.MathContext(10)).stripTrailingZeros.toString)

  def canon(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append("\u0000")
    case d: Double => dbl(d, sb)
    case f: Float => dbl(f.toDouble, sb)
    case b: java.math.BigDecimal => sb.append(b.stripTrailingZeros.toPlainString)
    case b: scala.math.BigDecimal => sb.append(b.bigDecimal.stripTrailingZeros.toPlainString)
    case t: java.sql.Timestamp =>
      sb.append(t.getTime / 1000).append('.').append(t.getNanos)
    case t: java.time.Instant => sb.append(t.getEpochSecond).append('.').append(t.getNano)
    case d: java.sql.Date => sb.append(d.toLocalDate.toEpochDay)
    case b: Array[Byte] => sb.append(java.util.Base64.getEncoder.encodeToString(b))
    case r: Row =>
      sb.append('(')
      var i = 0
      while (i < r.length) { if (i > 0) sb.append('\u0001'); canon(r.get(i), sb); i += 1 }
      sb.append(')')
    case m: scala.collection.Map[_, _] =>
      val parts = m.toSeq.map { case (k, x) =>
        val e = new java.lang.StringBuilder; canon(k, e); e.append("->"); canon(x, e); e.toString
      }.sorted
      sb.append('{').append(parts.mkString("\u0002")).append('}')
    case s: scala.collection.Seq[_] =>
      sb.append('[')
      var first = true
      s.foreach { x => if (!first) sb.append('\u0002'); first = false; canon(x, sb) }
      sb.append(']')
    case other => sb.append(other.toString)
  }
}

/** Persisted RDDs (the catalog's `Ckpt.cut` checkpoints and caches) seen
  * for the first time at the end of a query are charged to it, with their
  * stored size at that moment. */
final class CkptWatch(sc: SparkContext) {
  private val seen = mutable.Set.empty[Int] ++ sc.getPersistentRDDs.keys
  private val perQuery = new ConcurrentHashMap[String, (Int, Double)]()
  private var cuts = 0
  private var mb = 0.0

  def observe(inst: String): Unit = synchronized {
    val fresh = sc.getPersistentRDDs.keys.filterNot(seen).toSet
    seen ++= fresh
    val size = if (fresh.isEmpty) 0.0 else sc.getRDDStorageInfo
      .filter(i => fresh(i.id)).map(i => (i.memSize + i.diskSize) / 1048576.0).sum
    cuts += fresh.size
    mb += size
    perQuery.put(inst, (fresh.size, size))
  }

  def of(inst: String): (Int, Double) = perQuery.getOrDefault(inst, (0, 0.0))
  def totals: (Int, Double) = synchronized((cuts, mb))
}

/** A tiny JSON object writer (values are pre-rendered). */
final class Json {
  private val fields = mutable.ArrayBuffer.empty[String]
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(k: String, v: Double): Unit = fields += s"${q(k)}:${Harness.fmt(v)}"
  def num(k: String, v: Long): Unit = fields += s"${q(k)}:$v"
  def str(k: String, v: String): Unit = fields += s"${q(k)}:${q(v)}"
  def bool(k: String, v: Boolean): Unit = fields += s"${q(k)}:$v"
  def obj(k: String, v: Json): Unit = fields += s"${q(k)}:${v.render}"
  def arr(k: String, vs: Iterable[String]): Unit = fields += s"${q(k)}:${vs.mkString("[", ",", "]")}"
  def render: String = fields.mkString("{", ",", "}")
}
