package graft

import graft.gossip.{HealthMerge, HealthObs, HealthState}
import graft.kv.{KVStore, KvOp}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Correctness of the KV CAS replay and the gossip health merge.
  * Mirrors the reference's linearizability/porcupine strategy
  * (SURVEY.md §5.8) with the deterministic-batch analog: the
  * distributed replay must equal the sequential interpreter, and the
  * merge must be a commutative monoid so any gossip delivery order
  * converges (tests/test_gossip.go:9-58 analog). Property sampling uses
  * raw ScalaCheck generators with fixed seeds (the scalatest bridge
  * artifact is not in the offline cache).
  */
class KvGossipSpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  // ---- KV ----

  private val genOps: Gen[List[KvOp]] = for {
    n <- Gen.choose(1, 60)
    ops <- Gen.listOfN(n, for {
      key <- Gen.oneOf("a", "b", "c")
      value <- Gen.alphaStr.map(_.take(6))
      attempt <- Gen.choose(0L, 5L)
    } yield (key, value, attempt))
  } yield ops.zipWithIndex.map { case ((k, v, a), i) => KvOp(k, v, a, i.toLong) }

  /** Each key's cell from the sequential interpreter, ops in seq order. */
  private def sequential(ops: Seq[KvOp]): Map[String, graft.kv.KvCell] =
    ops.groupBy(_.key).map { case (k, kops) =>
      k -> KVStore.replayKey(k, kops.sortBy(_.seq).iterator)
    }

  test("distributed CAS replay == sequential interpreter (random op logs)") {
    samples(genOps, 12).foreach { ops =>
      val distResult = KVStore.replay(spark, spark.createDataset(ops))
        .as[graft.kv.KvCell].collect().map(c => c.key -> c).toMap
      assert(distResult === sequential(ops))
    }
  }

  /** Op logs at realistic key counts: 1–300 keys (empty and unicode
    * among them), up to 3000 ops with unique shuffled `seq` values
    * (negatives included), empty and unicode values, attempts 0..5. Many
    * keys per shuffle partition, interleaved in `seq` order, is what the
    * one-pass replay has to untangle.
    */
  private val genWideOps: Gen[List[KvOp]] = for {
    nKeys <- Gen.choose(1, 300)
    n <- Gen.choose(1, 3000)
    keys = Vector.tabulate(nKeys) {
      case 0 => ""
      case 1 => "ключ"
      case 2 => "\uD83D\uDD11"
      case i => s"k$i"
    }
    ops <- Gen.listOfN(n, for {
      key <- Gen.oneOf(keys)
      value <- Gen.frequency(1 -> Gen.const(""), 1 -> Gen.const("значение\uD83D\uDE00"),
        4 -> Gen.alphaNumStr.map(_.take(8)))
      attempt <- Gen.choose(0L, 5L)
    } yield (key, value, attempt))
    seed <- Gen.long
  } yield {
    val seqs = new scala.util.Random(seed).shuffle((0 until n).map(i => i * 7919L - 4000000L))
    ops.zip(seqs).map { case ((k, v, a), q) => KvOp(k, v, a, q) }
  }

  test("distributed CAS replay == sequential interpreter (1-300 keys, up to 3000 ops, " +
    "3+ input partitions)") {
    val cases = samples(genWideOps, 10)
    cases.foreach { ops =>
      val input = spark.createDataset(spark.sparkContext.parallelize(ops, 3 + ops.size % 3))
      assert(input.rdd.getNumPartitions >= 3)
      val got = KVStore.replay(spark, input)
        .as[graft.kv.KvCell].collect()
      assert(got.length === got.map(_.key).distinct.length, "a key emitted twice")
      assert(got.map(c => c.key -> c).toMap === sequential(ops))
    }
    // the generator reaches the regimes the pass must separate
    assert(cases.exists(_.map(_.key).distinct.size > 100))
    assert(cases.exists(_.size > 1000))
    assert(cases.exists(ops => sequential(ops).values.exists(_.version > 1)))
  }

  test("kvStreamOps over one micro-batch == replay on the same log") {
    val ops = samples(genWideOps, 12).maxBy(_.map(_.key).distinct.size)
    val landing = java.nio.file.Files.createTempDirectory("graftkvone").toString
    val opsDs = spark.createDataset(ops)
    opsDs.coalesce(1).write.parquet(s"$landing/a")
    val stream = spark.readStream.schema(opsDs.schema).parquet(s"$landing/a").as[KvOp]
    val q = graft.streaming.EventStreams.kvStreamOps(stream)
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .format("memory").queryName("kv_one_batch_out").start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) === 1)
      val streamed = spark.table("kv_one_batch_out").as[graft.kv.KvCell].collect()
      val batch = KVStore.replay(spark, opsDs).as[graft.kv.KvCell].collect()
      assert(streamed.sortBy(_.key).toSeq === batch.sortBy(_.key).toSeq)
      assert(batch.length > 100)
    } finally q.stop()
  }

  test("kv_cas_replay plans one hash exchange and sorts on seq alone") {
    val plan = KVStore.casReplay(spark, sf).queryExecution.executedPlan.toString
    val nEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nEx === 1, s"kv_cas_replay: $nEx hash exchanges:\n$plan")
    val sorts = """Sort \[([^\]]*)\]""".r.findAllMatchIn(plan).map(_.group(1)).toList
    assert(sorts.nonEmpty && sorts.forall(_.matches("""seq#\d+L ASC NULLS FIRST""")),
      s"kv_cas_replay sorts on $sorts:\n$plan")
  }

  test("CAS semantics: version-matched put succeeds, mismatched errors (srv/server.go:59-88)") {
    val ops = List(
      KvOp("k", "v1", 0, 0), // OK -> version 1
      KvOp("k", "v2", 0, 1), // ErrVersion (version is 1)
      KvOp("k", "v3", 1, 2), // OK -> version 2
      KvOp("k", "v4", 5, 3)) // ErrVersion
    val cell = KVStore.replayKey("k", ops.iterator)
    assert(cell.value == "v3" && cell.version == 2 && cell.n_ok == 2 && cell.n_errversion == 2)
  }

  test("put on a missing key with version != 0 is ErrNoKey, not ErrVersion (srv/server.go:74-76)") {
    val ops = List(
      KvOp("k", "v1", 3, 0), // ErrNoKey (missing key, version != 0)
      KvOp("k", "v2", 1, 1), // ErrNoKey
      KvOp("k", "v3", 0, 2), // OK — creates
      KvOp("k", "v4", 9, 3)) // ErrVersion (key exists now)
    val cell = KVStore.replayKey("k", ops.iterator)
    assert(cell.n_errnokey == 2 && cell.n_errversion == 1 && cell.n_ok == 1
      && cell.value == "v3" && cell.version == 1)
  }

  test("duplicate retried op yields ErrVersion (the ErrMaybe ambiguity, srv/client.go:67-91)") {
    val ops = List(KvOp("k", "v1", 0, 0), KvOp("k", "v1", 0, 1))
    val cell = KVStore.replayKey("k", ops.iterator)
    assert(cell.version == 1 && cell.n_errversion == 1)
  }

  test("lock via CAS cell: contended acquires admit exactly one holder per epoch (srv/lock/lock.go:32-70 analog)") {
    // The reference lock spins on a CAS cell: acquire = Put(owner, v)
    // where v is the version observed while the cell reads "free";
    // release = Put("free", v'). Model one contended epoch as an op-log:
    // both clients observed version 1 ("free" at v1) and race their Put.
    val ops = List(
      KvOp("lock", "free", 0, 0), // init: cell created -> version 1
      KvOp("lock", "A", 1, 1),    // A acquires (saw v1) -> OK, version 2
      KvOp("lock", "B", 1, 2),    // B raced with stale v1 -> ErrVersion
      KvOp("lock", "free", 2, 3), // A releases (saw v2) -> version 3
      KvOp("lock", "B", 3, 4))    // B retries with fresh v3 -> OK
    val cell = KVStore.replayKey("lock", ops.iterator)
    // exactly one acquire succeeded per epoch: init + A + release + B = 4 OKs
    assert(cell.n_ok == 4 && cell.n_errversion == 1)
    assert(cell.value == "B" && cell.version == 4, "final holder must be the retrying client")
  }

  test("kv_cas_replay over events is deterministic across runs") {
    val a = KVStore.casReplay(spark, sf).collect().toSet
    val b = KVStore.casReplay(spark, sf).collect().toSet
    assert(a === b && a.nonEmpty)
  }

  // ---- Linearizability (the porcupine port, srv/kvtest/porcupine.go) ----
  // History generation lives in [[KvSim]] (shared with StreamingSpec's
  // mapGroupsWithState leg so every replay surface faces the same logs).

  test("porcupine: 120 random concurrent clerk histories with lost replies linearize, " +
    "and the distributed replay matches every server ground truth") {
    import graft.kv.Linearize
    val runs = (0 until 120).map(KvSim.simulate)
    // generator effectiveness: the interesting regimes must actually occur
    val errs = runs.flatMap(_.history.map(_.err))
    assert(errs.contains("ErrMaybe"), "no lost-reply ambiguity generated")
    assert(errs.contains("ErrVersion") && errs.contains("ErrNoKey") && errs.contains("OK"))
    assert(runs.exists(r =>
      r.oplog.map(o => (o.key, o.value, o.attempt)).distinct.size < r.oplog.size),
      "no duplicate sends reached the op-log")
    assert(runs.exists(_.history.exists(o => o.ret - o.call > 2)),
      "no overlapping operations generated")
    // every history linearizes under the reference model
    runs.zipWithIndex.foreach { case (r, i) =>
      assert(Linearize.linearizable(r.history), s"history $i not linearizable")
    }
    // ONE distributed replay over all 120 op-logs (keys prefixed by run):
    // the per-key fold must reproduce each simulation's server cell
    val allOps = runs.zipWithIndex.flatMap { case (r, i) =>
      r.oplog.map(o => o.copy(key = s"h$i|${o.key}"))
    }
    val got = KVStore.replay(spark, spark.createDataset(allOps))
      .as[graft.kv.KvCell].collect().map(c => c.key -> c).toMap
    runs.zipWithIndex.foreach { case (r, i) =>
      r.cells.foreach { case (k, want) =>
        val g = got.get(s"h$i|$k")
        if (r.oplog.exists(_.key == k))
          assert(g.contains(want.copy(key = s"h$i|$k")),
            s"run $i key $k: got $g, want $want")
        else assert(g.isEmpty, s"run $i key $k: replay invented a cell")
      }
    }
  }

  test("porcupine checker rejects non-linearizable histories (negative controls)") {
    import graft.kv.Linearize.{Op, linearizable}
    // stale read: a get strictly after a completed put must see its value
    assert(!linearizable(List(
      Op(isGet = false, "k", "x", 0L, "", "OK", 1, 2),
      Op(isGet = true, "k", "", 0L, "", "OK", 3, 4))))
    // double OK at the same version: the second CAS must have failed
    assert(!linearizable(List(
      Op(isGet = false, "k", "x", 0L, "", "OK", 1, 2),
      Op(isGet = false, "k", "y", 0L, "", "OK", 3, 4))))
    // a read of a value nobody ever wrote
    assert(!linearizable(List(
      Op(isGet = false, "k", "x", 0L, "", "ErrMaybe", 1, 2),
      Op(isGet = true, "k", "", 0L, "z", "OK", 3, 4))))
    // ErrVersion on a FIRST try is definite: it cannot mask an applied put
    assert(!linearizable(List(
      Op(isGet = false, "k", "x", 0L, "", "ErrVersion", 1, 2),
      Op(isGet = true, "k", "", 0L, "x", "OK", 3, 4))))
  }

  test("porcupine checker resolves ErrMaybe both ways and reorders overlapping ops") {
    import graft.kv.Linearize.{Op, linearizable}
    // applied branch: the lost reply hid a successful CAS
    assert(linearizable(List(
      Op(isGet = false, "k", "x", 0L, "", "ErrMaybe", 1, 2),
      Op(isGet = false, "k", "y", 1L, "", "OK", 3, 4),
      Op(isGet = true, "k", "", 0L, "y", "OK", 5, 6))))
    // no-op branch: an ErrMaybe put whose resend window OVERLAPS a rival
    // put may linearize after it (version now mismatched, so it never
    // landed) — but only overlap permits that reordering; a completed
    // ErrMaybe at version 0 before any rival MUST have applied (the
    // model is deterministic per state), which the sim's retry
    // intervals exercise constantly
    assert(linearizable(List(
      Op(isGet = false, "k", "x", 0L, "", "ErrMaybe", 1, 6),
      Op(isGet = false, "k", "y", 0L, "", "OK", 2, 3),
      Op(isGet = true, "k", "", 0L, "y", "OK", 4, 5))))
    // ...and the non-overlapping variant is NOT linearizable: the
    // ErrMaybe resend saw ErrVersion by t=2, so the only candidate
    // apply is its own
    assert(!linearizable(List(
      Op(isGet = false, "k", "x", 0L, "", "ErrMaybe", 1, 2),
      Op(isGet = false, "k", "y", 0L, "", "OK", 3, 4),
      Op(isGet = true, "k", "", 0L, "y", "OK", 5, 6))))
    // real-time overlap: a get that STARTED first may linearize after
    // the put it overlaps (and read its value)
    assert(linearizable(List(
      Op(isGet = true, "k", "", 0L, "x", "OK", 1, 10),
      Op(isGet = false, "k", "x", 0L, "", "OK", 2, 3))))
    // but not when the get completed strictly before the put began
    assert(!linearizable(List(
      Op(isGet = true, "k", "", 0L, "x", "OK", 1, 2),
      Op(isGet = false, "k", "x", 0L, "", "OK", 3, 4))))
  }

  // ---- Gossip ----

  private val genObs: Gen[HealthObs] = for {
    id <- Gen.choose(0L, 3L)
    status <- Gen.oneOf(0, 1, 2)
    susp <- Gen.choose(0L, 2L)
    ts <- Gen.choose(0L, 1000L)
  } yield HealthObs(id, status, susp, ts)

  private def reduceAll(obs: List[HealthObs]): HealthState =
    HealthMerge.aggregator.finish(
      obs.foldLeft(HealthMerge.aggregator.zero)(HealthMerge.aggregator.reduce))

  test("health merge is order-insensitive (commutative)") {
    samples(Gen.listOf(genObs), 60).foreach { obs =>
      assert(reduceAll(obs) === reduceAll(obs.reverse))
      assert(reduceAll(obs) === reduceAll(scala.util.Random.shuffle(obs)))
    }
  }

  test("health merge is associative across partition splits") {
    samples(Gen.zip(Gen.listOf(genObs), Gen.choose(0, 10)), 60).foreach { case (obs, cut0) =>
      val cut = if (obs.isEmpty) 0 else cut0 % (obs.length + 1)
      val (l, r) = obs.splitAt(cut)
      val split = HealthMerge.aggregator.finish(
        HealthMerge.aggregator.merge(
          l.foldLeft(HealthMerge.aggregator.zero)(HealthMerge.aggregator.reduce),
          r.foldLeft(HealthMerge.aggregator.zero)(HealthMerge.aggregator.reduce)))
      assert(split === reduceAll(obs))
    }
  }

  /** Total order used by the LWW register, for independent recompute. */
  private def obsOrder(o: HealthObs) = (o.lastUpdateMicros, o.suspicion, o.status)

  test("recency wins: status tracks the newest observation — a worker can recover (mr/gossip.go:90-96)") {
    samples(Gen.listOf(genObs).suchThat(_.nonEmpty), 60).foreach { obs =>
      val st = reduceAll(obs)
      val newest = obs.maxBy(obsOrder)
      assert(st.suspicion == obs.map(_.suspicion).max)
      assert(st.lastUpdateMicros == newest.lastUpdateMicros)
      if (newest.status == 0) assert(st.status == 0) // Alive-latest recovers
    }
  }

  test("consensus C=3 forces Dead only for Suspect-or-worse entries (mr/gossip.go:243-267)") {
    samples(Gen.listOf(genObs).suchThat(_.nonEmpty), 60).foreach { obs =>
      val st = reduceAll(obs)
      val newest = obs.maxBy(obsOrder)
      val expect =
        if (newest.status >= 1 && obs.map(_.suspicion).max >= HealthMerge.ConsensusC) 2
        else newest.status
      assert(st.status == expect)
    }
  }

  test("reference TestGossipMerge mirror: newer Suspect entry replaces Alive (tests/test_gossip.go:31-57)") {
    val alive = HealthObs(1, 0, 0, 1000) // entry1: Alive, susp 0
    val suspect = HealthObs(1, 1, 2, 1001) // entry2: Suspect, susp 2, later update
    assert(reduceAll(List(alive, suspect)).status == 1, "merge must adopt the newer Suspect entry")
    assert(reduceAll(List(suspect, alive)).status == 1, "in either delivery order")
    // and the recovery direction the reference merge also allows
    // (mr/gossip.go:90-96): a newer Alive observation de-escalates
    val aliveLater = HealthObs(1, 0, 2, 1002)
    assert(reduceAll(List(suspect, aliveLater)).status == 0)
  }

  test("gossip_health query matches a local recompute at sf0.001") {
    val got = HealthMerge.healthTable(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val obs = HealthMerge.obsFromEvents(spark, sf).collect()
    val want = obs.groupBy(_.workerId).map { case (id, os) =>
      val st = reduceAll(os.toList)
      (id, st.status.toLong, st.suspicion)
    }.toSet
    assert(got === want)
  }

  test("gossip_rounds == a sequential per-node gossip simulation (mr/gossip.go loop)") {
    // Independent reimplementation: plain-Scala maps, one node at a
    // time, 4 push rounds over the SAME static fanout-3 neighbor
    // digraph — the naive-recompute discipline. sf0.001 yields N=10,
    // the reference's own worker count.
    val n = 10L // sf0.001 suppliers are keys 0..9
    val nodes = (0L until n).toList
    val peers: Map[Long, Seq[Long]] = nodes.map { i =>
      i -> (0 until 3).map(k => (i * 48271L + k * 69621L) % n)
        .filter(_ != i)
    }.toMap
    // state(node)(about) = (status, susp, lastUpdate)
    type Entry = (Long, Long, Long)
    var state: Map[Long, Map[Long, Entry]] = nodes.map { i =>
      val fresh = i -> ((0L, i % 4, 1000000L + i): Entry)
      val stale = ((i + 1) % n) -> ((1L, (i + 3) % 5, 500000L + i): Entry)
      // a node can seed a stale entry about ITSELF only if (i+1)%n == i
      // (impossible for n >= 2), so the two seeds never collide
      i -> Map(fresh, stale)
    }.toMap
    def merge(mine: Entry, theirs: Entry): Entry = {
      val lww = if (theirs._3 > mine._3) theirs else mine
      (lww._1, math.max(mine._2, theirs._2), lww._3)
    }
    for (_ <- 1 to 4) {
      val pushes = for {
        i <- nodes; p <- peers(i); (about, e) <- state(i)
      } yield (p, about, e)
      state = pushes.foldLeft(state) { case (st, (p, about, e)) =>
        val tbl = st(p)
        st.updated(p, tbl.updated(about,
          tbl.get(about).map(merge(_, e)).getOrElse(e)))
      }
    }
    val want = state.values.flatten
      .groupBy(_._1)
      .map { case (about, es) =>
        (about,
          es.size.toLong,
          es.count(_._2._3 >= 1000000L).toLong,
          es.map(_._2._2).max)
      }.toSet
    val got = HealthMerge.gossipRounds(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got === want)
    // dissemination sanity: with fanout 3 and 4 rounds on 10 nodes,
    // every fact must have spread beyond its origin
    assert(got.forall(_._2 >= 2), s"a fact never left its origin: $got")
  }
}
