package perfbench

import graft.operators._
import graft.queries.{CorpusQueries, VectorQueries}
import java.util.concurrent.{CountDownLatch, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.locks.LockSupport
import org.apache.spark.BenchAccess
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, hash, lit, pmod}
import scala.collection.parallel.CollectionConverters._
import scala.util.control.NonFatal

/** One serving endpoint: dense endpoints take a query vector, hybrid
  * ones a text query. `search` returns (id, score, rank) rows plus the
  * request's (posting mass, dense candidates) where the runtime reports
  * them. */
final case class Endpoint(name: String, dense: Boolean,
                          search: Int => (Array[(Long, Double, Int)], Long, Long))

/** Per-request record of one open-loop step (nanosecond clock). */
final class StepLog(n: Int) {
  val endpoint = new Array[Int](n)
  val due = new Array[Long](n)
  val sent = new Array[Long](n)
  val start = new Array[Long](n)
  val end = new Array[Long](n)
  val ok = new Array[Boolean](n)
  val mass = new Array[Long](n)
  val cands = new Array[Long](n)
  val ids = new Array[Array[Long]](n)
  var backlogAtEnd = 0
  /** Application-thread CPU seconds over the step, the generator's
    * own thread left out. */
  var appCpuS = 0.0
}

object Serve {
  val Shards = 4
  val K: Int = VectorQueries.K
  val IvfCells = 64
  val Nprobe = 32
  /** The fixed request rate (req/s) of the traced run's latency step,
    * about a quarter of capacity on a 4-vCPU host. */
  val FixedRate = 400.0
  /** The rate ladder starts at its own fixed rate, near two thirds of
    * that capacity, so the ladder fits in a run; it climbs in steps at
    * most a tenth apart until a rate misses the P99 limit (ms). */
  val LadderStart = 1000.0
  val LadderStep = 1.05
  val P99LimitMs = 50.0
  /** Requests per ladder step: enough to leave 10 samples beyond the
    * P99. The fixed-rate step lasts the run's seconds, split in
    * sub-steps that never leave fewer than 10 samples beyond their P99
    * either. */
  val StepRequests = 1000
  val MinFixedRequests = 1000
  val FixedSubSteps = 3
  /** Requests of the step that warms up for the open-loop step every run
    * makes; that step issues every (endpoint, query) pair once. */
  val WarmRequests = 1000
  /** A step whose queue still holds this share of its requests when
    * issuing ends has a growing backlog. */
  val BacklogShare = 0.02
  val HybridBagTerms = 3

  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN else Main.quantile(xs, q)

  val Endpoints: Seq[String] = Seq("ivf_local", "ivf_sharded4", "hnsw_local", "hnsw_sharded4",
    "hybrid_local", "hybrid_sharded4")

  /** The serving layers' per-layer metrics, by name and unit. */
  val layerUnits: Seq[(String, String)] =
    Endpoints.flatMap(e => Seq(s"serve.$e.service_ms_p50" -> "ms",
      s"serve.$e.service_ms_p99" -> "ms", s"serve.$e.requests" -> "count",
      s"serve.$e.build_s" -> "s")) ++ Seq(
      "serve.ivf_sharded4.shards_useful_ratio" -> "ratio",
      "serve.hnsw_sharded4.shards_useful_ratio" -> "ratio",
      "serve.hybrid_local.dense_cands_p99" -> "count",
      "serve.hybrid_local.posting_mass_p99" -> "count",
      "serve.fixed_p50_ms" -> "ms", "serve.fixed_p99_ms" -> "ms", "serve.max_rps" -> "req/s",
      "queue.wait_ms_p50" -> "ms", "queue.wait_ms_p99" -> "ms", "gen.late_ms_p99" -> "ms")
}

/** The serve workload: an open loop of independent users over the six
  * serving endpoints, with no Spark job running while it serves. */
final class Serve(a: Args, m: Metrics, trace: Trace, jvmStartToMain: Double) {
  import Serve._
  private var spark: SparkSession = _
  private val workers = math.max(1, a.cpus - 1) // + the generator thread = cpus

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Artifacts through the program's public cached entry points (built
    * when the artifact directory is cold, loaded when warm), then the six
    * runtimes from them. Returns each runtime's fromArtifacts wall and
    * application-thread CPU seconds, the runtimes, and the tables the
    * checks need. */
  private def setUp(): (Map[String, (Double, Double)], SetupOut) = {
    val d = a.data
    val corpus = VectorQueries.corpusVecs(spark, d).select("vec_id", "v").localCheckpoint()
    val edges = VectorQueries.hg1HnswBuildCached(spark, d)
    val centroids = IvfIndex.fitOrLoadCentroids(corpus, IvfCells,
      s"${System.getProperty("java.io.tmpdir")}/graft_serve_centroids")
    val assigned = VectorSearch.assignCells(corpus, centroids).localCheckpoint()
    val (tf, ptf, cb, w) = Batch.hybridArtifacts(spark, d)
    val hw = VectorQueries.pairWeightsFor(spark, d)
    import VectorQueries._
    val builds = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    def b[T](name: String)(body: => T): T = {
      val c0 = Heap.appCpu()
      val (r, s) = timed(body)
      builds(name) = (s, Heap.appCpuSecondsSince(c0))
      r
    }
    val ivf = b("ivf_local")(IvfLocalServer.fromArtifacts(assigned, centroids, K, Nprobe))
    val ivf4 = b("ivf_sharded4")(
      ShardedIvfServer.fromArtifacts(assigned, centroids, K, Nprobe, nShards = Shards))
    val hnsw = b("hnsw_local")(HnswLocalServer.fromArtifacts(edges, corpus, hw,
      HnswMaxLevel, HnswProbes, HnswBeam, HnswHopsUpper, HnswHopsZero, K))
    val hnsw4 = b("hnsw_sharded4")(ShardedHnswServer.fromArtifacts(edges, corpus, hw,
      HnswMaxLevel, HnswProbes, HnswBeam, HnswHopsUpper, HnswHopsZero, K, nShards = Shards))
    val hyb = b("hybrid_local")(HybridLocalServer.fromArtifacts(tf, ptf, cb, w,
      CorpusQueries.HybridArmK, CorpusQueries.HybridK))
    val hyb4 = b("hybrid_sharded4")(ShardedHybridServer.fromArtifacts(tf, ptf, cb, w,
      CorpusQueries.HybridArmK, CorpusQueries.HybridK, nShards = Shards))
    val out = SetupOut(ivf, ivf4, hnsw, hnsw4, hyb, hyb4, corpus, assigned, tf)
    (builds.toMap, out)
  }

  final case class SetupOut(ivf: IvfLocalServer, ivf4: ShardedIvfServer,
                            hnsw: HnswLocalServer, hnsw4: ShardedHnswServer,
                            hyb: HybridLocalServer, hyb4: ShardedHybridServer,
                            corpus: DataFrame, assigned: DataFrame, tf: DataFrame)

  def run(): Unit = {
    val runSpan = trace.newId()
    val runStart = trace.nowUs
    val phase = new Phases

    // set-up, repeated: a fresh session, the artifact loads and the six
    // runtimes. A set-up that builds an artifact (the artifact directory
    // was cold) is the cold build, not a set-up: it is left out and one
    // more is made, so every timed set-up is warm.
    var last: SetupOut = null
    var lastBuilds: Map[String, (Double, Double)] = Map.empty
    var coldBuilds = 0L
    var coldBuildS = 0.0
    val warm = scala.collection.mutable.ArrayBuffer.empty[
      (Double, Map[String, (Double, Double)], (Long, Long))]
    while (warm.size < a.setupReps) {
      if (spark != null) Main.stop(spark)
      val l0 = (FitOrLoad.buildCount, FitOrLoad.loadCount, FitOrLoad.memoHits, FitOrLoad.buildSeconds)
      val ((builds, out), s) = timed {
        spark = Main.session(a)
        setUp()
      }
      last = out; lastBuilds = builds
      val built = FitOrLoad.buildCount - l0._1
      if (built == 0) warm += ((s, builds, (FitOrLoad.loadCount - l0._2, FitOrLoad.memoHits - l0._3)))
      else {
        require(coldBuilds == 0, "a set-up after the cold build rebuilt artifacts")
        coldBuilds = built; coldBuildS = FitOrLoad.buildSeconds - l0._4
      }
    }
    val reps = warm.toSeq
    m.e2e("setup_s") = (jvmStartToMain + Main.median(reps.map(_._1)), "s")
    // building the six runtimes' in-memory indexes from their artifacts
    m.e2e("build_cpu_s") = (Main.median(reps.map(_._2.values.map(_._2).sum)), "s")
    m.layer("wall.build_s") = (Main.median(reps.map(_._2.values.map(_._1).sum)), "s")
    m.e2e("store_ratio") = (Batch.storeRatio(a), "ratio")
    phase.end("setups")
    val so = last

    // inputs: held-out dense queries (generated with their exact top-5)
    // and seeded term bags over the corpus vocabulary
    val qRows = spark.read.parquet(a.queries)
      .select("query_id", "qv", "truth").collect().sortBy(_.getLong(0))
    val qv = qRows.map(_.getSeq[Float](1).toArray)
    val truth = qRows.map(_.getSeq[Long](2).toSet)
    val vocab = so.tf.groupBy("term").count().filter(col("count") >= 2)
      .select("term").collect().map(_.getString(0)).sorted
    val bagRng = new scala.util.Random(a.seed ^ 0x5eedL)
    val bags = Array.fill(qv.length)(
      Seq.fill(HybridBagTerms)(vocab(bagRng.nextInt(vocab.length))).mkString(" "))
    // shard ownership, by each router's documented placement rule
    val cellOf = so.assigned.select("vec_id", "cell_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val hnswShardOf = so.corpus.select(col("vec_id"),
        pmod(hash(col("vec_id")), lit(Shards)).as("s")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

    def dense(f: Array[Float] => Array[(Long, Double, Int)]): Int => (Array[(Long, Double, Int)], Long, Long) =
      i => (f(qv(i)), -1L, -1L)
    def text(f: String => (Array[(Long, Double, Int)], Long, Long)): Int => (Array[(Long, Double, Int)], Long, Long) =
      i => f(bags(i))
    val eps = IndexedSeq(
      Endpoint("ivf_local", dense = true, dense(so.ivf.search)),
      Endpoint("ivf_sharded4", dense = true, dense(so.ivf4.search)),
      Endpoint("hnsw_local", dense = true, dense(so.hnsw.search)),
      Endpoint("hnsw_sharded4", dense = true, dense(so.hnsw4.search)),
      Endpoint("hybrid_local", dense = false, text(so.hyb.searchWithStats)),
      Endpoint("hybrid_sharded4", dense = false, text(so.hyb4.searchWithStats)))
    require(eps.map(_.name) == Endpoints, "endpoints differ from Serve.Endpoints")

    // once per run: every endpoint answers every query (this is also
    // the JIT warm-up); sharded answers must equal their single-node
    // sibling's bit for bit, and dense answers give recall@5
    val answers = eps.map { e =>
      e.name -> qv.indices.par.map { i =>
        try Some(e.search(i)._1)
        catch { case NonFatal(x) => m.synchronized(m.fail(s"${e.name} query $i", x)); None }
      }.seq
    }.toMap
    m.attempted += eps.size * qv.length
    for ((sharded, single) <- Seq("ivf_sharded4" -> "ivf_local",
        "hnsw_sharded4" -> "hnsw_local", "hybrid_sharded4" -> "hybrid_local");
         i <- qv.indices) {
      (answers(sharded)(i), answers(single)(i)) match {
        case (Some(x), Some(y)) if !(x sameElements y) =>
          m.fail(s"$sharded query $i", new IllegalStateException(s"differs from $single"))
        case _ =>
      }
    }
    val recalls = for (e <- eps if e.dense; (ans, i) <- answers(e.name).zipWithIndex)
      yield ans.map(r => r.count(x => truth(i).contains(x._1)).toDouble / K).getOrElse(0.0)
    m.e2e("recall_at_5") = (recalls.sum / recalls.size, "ratio")
    Heap.sample()
    phase.end("checks")

    // one open-loop step at the ladder's start rate, after a shorter
    // one that warms the caches the collections above emptied: in an
    // untraced run it is the load the run's heap and failure counts see,
    // and its application-thread CPU is the serving cost (work_cpu_s);
    // in a traced run it warms the JIT for the steps below
    val gc0 = Heap.gcSeconds
    step(eps, qv.length, LadderStart, WarmRequests, -1, runSpan)
    val open = step(eps, qv.length, LadderStart, eps.length * qv.length, 0, runSpan,
      everyPair = true)
    m.e2e("work_cpu_s") = (open.appCpuS, "s")
    m.layer("cpu.read_s") = (open.appCpuS, "s")
    m.layer("wall.read_s") = (open.end.indices.map(i => open.end(i) - open.start(i)).sum / 1e9, "s")
    // the serving runtimes are read-only
    m.layer("cpu.write_s") = (0.0, "s")
    m.layer("wall.write_s") = (0.0, "s")
    m.detail("cpu_ms_per_request") = open.appCpuS * 1e3 / open.due.length
    m.detail("open_step_p50_ms") = pct(latencies(open), 0.5)
    phase.end("open_step")
    if (a.trace) {
      // the Spark layers, counted over the serving steps under a job group
      // the request threads inherit: no Spark job should run there
      val sc = spark.sparkContext
      val counters = new Counters(trace)
      sc.addSparkListener(counters)
      sc.setJobGroup("pb-serve", "serving steps", interruptOnCancel = false)
      val persisted0 = sc.getPersistentRDDs.keySet
      loadLayers(eps, qv.length, runSpan, reps.map(_._2.map { case (k, v) => k -> v._1 }),
        cellOf, hnswShardOf)
      sc.clearJobGroup()
      BenchAccess.drainListeners(sc)
      sc.removeSparkListener(counters)
      val persisted = sc.getPersistentRDDs.keySet -- persisted0
      val persistedBytes = sc.getRDDStorageInfo.filter(i => persisted(i.id))
        .map(i => i.memSize + i.diskSize).sum
      Batch.layers(m, Seq(Map("serving" -> OpRun(0, 0, 0, 0, counters.take("pb-serve"),
        persisted.size, persistedBytes, 0, 0, 0, 0))), writes = Nil)
      m.layer("jvm.gc_pause_s") = (Heap.gcSeconds - gc0, "s")
      m.layer("FitOrLoad.builds") = (coldBuilds.toDouble, "count")
      m.layer("FitOrLoad.build_s") = (coldBuildS, "s")
      m.layer("FitOrLoad.loads") = (Main.median(reps.map(_._3._1.toDouble)), "count")
      m.layer("FitOrLoad.memo_hits") = (Main.median(reps.map(_._3._2.toDouble)), "count")
      phase.end("load_steps")
      trace.add(runSpan, 0, "run", a.workload, runStart, trace.nowUs, always = true)
      trace.selfSeconds.toSeq.sortBy(_._1).foreach { case (kind, v) =>
        m.layer(s"trace.self_s.$kind") = (v, "s") }
    }
    m.detail("setup_reps_s") = reps.map(_._1)
    m.detail("phases_s") = phase.seconds.toMap
    m.detail("from_artifacts_s") = lastBuilds.map { case (k, v) => k -> v._1 }
    m.detail("from_artifacts_cpu_s") = lastBuilds.map { case (k, v) => k -> v._2 }
    m.detail("cold_builds") = coldBuilds
    m.detail("artifact_state") =
      if (coldBuilds > 0) "cold build before the set-ups, then warm" else "warm"
    m.detail("cold_build_s") = coldBuildS
    m.detail("workers") = workers
    m.detail("vocab_terms") = vocab.length
  }

  /** The traced run's serving measurements, all per-layer: on this
    * shared 4-vCPU host their run-to-run spread is far wider than any
    * regression bound (P50 0.3-0.7 and P99 0.5-0.8 as quartile spread
    * over 5 seeds), so no end-to-end bound rests on them.
    *  - rate ladder: geometric steps up from its start rate, stopping at
    *    the first rate that misses the P99 limit or leaves a backlog on
    *    two attempts in a row; the highest rate met is serve.max_rps;
    *  - fixed-rate step: consecutive sub-steps that each leave 10 samples
    *    beyond their P99, alternately bare and traced; P50 and P99 are
    *    medians over the bare sub-steps, the tracing overhead is the
    *    traced minus the bare P50, and the per-endpoint, queue and
    *    generator counters come from the traced sub-steps. */
  private def loadLayers(eps: IndexedSeq[Endpoint], nQueries: Int, runSpan: Int,
                         builds: Seq[Map[String, Double]], cellOf: Map[Long, Int],
                         hnswShardOf: Map[Long, Int]): Unit = {
    var rate = LadderStart
    var best = 0.0
    var k = 0
    val ladder = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    def attempt(): Boolean = {
      k += 1
      val s = step(eps, nQueries, rate, math.max(StepRequests, rate.toInt), k, runSpan)
      val p99 = pct(latencies(s), 0.99)
      val meets = p99 <= P99LimitMs && s.backlogAtEnd <= BacklogShare * s.due.length &&
        s.ok.forall(identity)
      ladder += Map("rate" -> rate, "p99_ms" -> p99, "backlog" -> s.backlogAtEnd, "meets" -> meets)
      meets
    }
    var going = true
    while (going) {
      if (attempt() || attempt()) { best = rate; rate *= LadderStep } else going = false
    }
    m.layer("serve.max_rps") = (best, "req/s")
    m.detail("ladder") = ladder.toSeq

    val perSub = math.max(MinFixedRequests, (FixedRate * a.seconds / FixedSubSteps).toInt)
    val subs = (0 until 2 * FixedSubSteps).map { i =>
      trace.on = i % 2 == 1
      val s = step(eps, nQueries, FixedRate, perSub, 1000 + i, runSpan)
      trace.on = false
      s
    }
    val bare = subs.indices.filter(_ % 2 == 0).map(subs)
    val traced = subs.indices.filter(_ % 2 == 1).map(subs)
    val p50s = bare.map(s => pct(latencies(s), 0.5))
    m.layer("serve.fixed_p50_ms") = (Main.median(p50s), "ms")
    m.layer("serve.fixed_p99_ms") = (Main.median(bare.map(s => pct(latencies(s), 0.99))), "ms")
    m.layer("trace.overhead_s") =
      ((Main.median(traced.map(s => pct(latencies(s), 0.5))) - Main.median(p50s)) / 1e3, "s")
    m.detail("fixed_rate") = FixedRate
    m.detail("fixed_samples_per_substep") = bare.map(latencies(_).size)

    val src = merge(traced)
    eps.zipWithIndex.foreach { case (e, j) =>
      val idx = src.endpoint.indices.filter(i => src.endpoint(i) == j && src.ok(i))
      val svc = idx.map(i => (src.end(i) - src.start(i)) / 1e6)
      m.layer(s"serve.${e.name}.service_ms_p50") = (pct(svc, 0.5), "ms")
      m.layer(s"serve.${e.name}.service_ms_p99") = (pct(svc, 0.99), "ms")
      m.layer(s"serve.${e.name}.requests") = (idx.size.toDouble, "count")
      m.layer(s"serve.${e.name}.build_s") = (Main.median(builds.map(_(e.name))), "s")
      def useful(owner: Long => Int): Double =
        idx.map(i => src.ids(i).map(owner).distinct.length).sum.toDouble / (Shards * idx.size)
      if (e.name == "ivf_sharded4")
        m.layer(s"serve.${e.name}.shards_useful_ratio") = (useful(id => cellOf(id) % Shards), "ratio")
      if (e.name == "hnsw_sharded4")
        m.layer(s"serve.${e.name}.shards_useful_ratio") = (useful(hnswShardOf), "ratio")
      if (e.name == "hybrid_local") {
        m.layer(s"serve.${e.name}.dense_cands_p99") =
          (pct(idx.map(i => src.cands(i).toDouble), 0.99), "count")
        m.layer(s"serve.${e.name}.posting_mass_p99") =
          (pct(idx.map(i => src.mass(i).toDouble), 0.99), "count")
      }
    }
    val all = src.due.indices
    val waits = all.map(i => (src.start(i) - src.due(i)) / 1e6)
    m.layer("queue.wait_ms_p50") = (pct(waits, 0.5), "ms")
    m.layer("queue.wait_ms_p99") = (pct(waits, 0.99), "ms")
    m.layer("gen.late_ms_p99") = (pct(all.map(i => (src.sent(i) - src.due(i)) / 1e6), 0.99), "ms")
  }

  /** The requests of several steps as one log. */
  private def merge(logs: Seq[StepLog]): StepLog = {
    val out = new StepLog(logs.map(_.due.length).sum)
    var at = 0
    logs.foreach { l =>
      val n = l.due.length
      Seq((l.endpoint, out.endpoint), (l.due, out.due), (l.sent, out.sent), (l.start, out.start),
        (l.end, out.end), (l.ok, out.ok), (l.mass, out.mass), (l.cands, out.cands),
        (l.ids, out.ids)).foreach { case (from, to) =>
          System.arraycopy(from, 0, to, at, n) }
      at += n
    }
    out
  }

  private def latencies(s: StepLog): Seq[Double] =
    s.due.indices.filter(s.ok(_)).map(i => (s.end(i) - s.due(i)) / 1e6)

  /** One open-loop step: Poisson arrivals at `rate`, equal endpoint
    * shares, issued by this thread into a pool of `workers` threads.
    * Each request is timed from its due time. With `everyPair`, the
    * step's n = endpoints x queries requests are every (endpoint, query)
    * pair once, in seeded order, so its work does not depend on the
    * draw of endpoints and queries. */
  private def step(eps: IndexedSeq[Endpoint], nQueries: Int, rate: Double, n: Int,
                   stepNo: Int, runSpan: Int, everyPair: Boolean = false): StepLog = {
    val log = new StepLog(n)
    val rng = new scala.util.Random(a.seed * 7919L + stepNo)
    var t = 0.0
    val queries = new Array[Int](n)
    val pairs = if (everyPair) {
      require(n == eps.length * nQueries, "every pair once needs endpoints x queries requests")
      rng.shuffle((0 until n).toVector)
    } else Vector.empty
    for (i <- 0 until n) {
      t += -math.log(1.0 - rng.nextDouble()) / rate
      log.due(i) = (t * 1e9).toLong
      if (everyPair) { log.endpoint(i) = pairs(i) % eps.length; queries(i) = pairs(i) / eps.length }
      else { log.endpoint(i) = rng.nextInt(eps.length); queries(i) = rng.nextInt(nQueries) }
    }
    val c0 = Heap.appCpu()
    val pool = new ThreadPoolExecutor(workers, workers, 0L, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable]())
    pool.prestartAllCoreThreads()
    val done = new CountDownLatch(n)
    val stepId = trace.newId()
    val stepStart = trace.nowUs
    val t0 = System.nanoTime() + 1000000L
    for (i <- 0 until n) {
      val due = t0 + log.due(i)
      log.due(i) = due
      var now = System.nanoTime()
      while (now < due) {
        if (due - now > 200000L) LockSupport.parkNanos(due - now - 100000L)
        else Thread.onSpinWait()
        now = System.nanoTime()
      }
      log.sent(i) = now
      pool.execute { () =>
        val st = System.nanoTime()
        log.start(i) = st
        val e = eps(log.endpoint(i))
        try {
          val (rows, mass, cands) = e.search(queries(i))
          log.ids(i) = rows.map(_._1)
          log.mass(i) = mass; log.cands(i) = cands
          log.ok(i) = true
        } catch { case NonFatal(x) => m.synchronized(m.fail(s"${e.name} request", x)) }
        log.end(i) = System.nanoTime()
        if (trace.on) {
          val rid = trace.newId()
          trace.add(rid, stepId, "request", e.name, trace.nsToUs(log.due(i)), trace.nsToUs(log.end(i)))
          trace.add(trace.newId(), rid, "queue", e.name, trace.nsToUs(log.due(i)), trace.nsToUs(st))
          trace.add(trace.newId(), rid, "search", e.name, trace.nsToUs(st), trace.nsToUs(log.end(i)))
        }
        done.countDown()
      }
    }
    log.backlogAtEnd = pool.getQueue.size
    done.await()
    // before shutdown, while the workers are alive to be counted
    log.appCpuS = Heap.appCpuSecondsSince(c0, except = Thread.currentThread.getId)
    pool.shutdown()
    trace.add(stepId, runSpan, "step", f"rate $rate%.1f", stepStart, trace.nowUs)
    m.synchronized { m.attempted += n }
    log
  }
}
