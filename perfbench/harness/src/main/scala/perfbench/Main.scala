package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Arguments shared by every workload. `data` holds the generated
  * inputs, `out` is the run's own directory (artifacts, index files,
  * check outputs, span file and result all live under it). */
final case class Args(workload: String, data: String, out: Path,
                      seconds: Double, seed: Long, trace: Boolean,
                      cpus: Int, setupReps: Int, checker: String,
                      artifacts: Path, queries: String)

/** Metric sink: every metric is printed by name with its unit. */
final class Metrics {
  val e2e = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  val errors = scala.collection.mutable.ArrayBuffer.empty[String]
  val detail = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    errors += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    System.err.println(s"[perfbench] FAILED $what: $e")
  }
}

object Main {
  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val jvmStartToMain =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(
      workload = kv("workload"), data = kv("data"), out = Paths.get(kv("out")),
      seconds = kv("seconds").toDouble, seed = kv("seed").toLong,
      trace = kv.getOrElse("trace", "0") == "1",
      cpus = kv.getOrElse("cpus", "4").toInt,
      setupReps = kv.getOrElse("setup-reps", "3").toInt,
      checker = kv.getOrElse("checker", ""),
      artifacts = Paths.get(kv("artifacts")), queries = kv.getOrElse("queries", ""))
    // artifacts (FitOrLoad) and index paths resolve under java.io.tmpdir
    Files.createDirectories(a.artifacts)
    System.setProperty("java.io.tmpdir", a.artifacts.toString)

    val m = new Metrics
    val trace = new Trace
    val loadStart = loadAvg
    a.workload match {
      case "vectordb" | "pipeline" | "selftest" =>
        new Batch(a, m, trace, jvmStartToMain).run()
      case "serve" => new Serve(a, m, trace, jvmStartToMain).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    m.e2e("heap_live_mb") = (Heap.peakOldAfterGcMb, "MB")
    m.detail("heap_samples_mb") = Heap.samples.toSeq
    if (a.trace) trace.write(a.out.resolve("spans.jsonl"))
    val run = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "cpus" -> a.cpus, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace,
      "load_avg_start" -> loadStart, "load_avg_end" -> loadAvg,
      "jvm_start_to_main_s" -> jvmStartToMain,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0)
    val json = Json.obj(Seq(
      "workload" -> a.workload,
      "attempted" -> m.attempted, "failed" -> m.failed,
      "errors" -> m.errors.toSeq,
      "e2e" -> m.e2e.toSeq.map { case (k, (v, u)) => Map("name" -> k, "value" -> v, "unit" -> u) },
      "layer" -> m.layer.toSeq.map { case (k, (v, u)) => Map("name" -> k, "value" -> v, "unit" -> u) },
      "run" -> run,
      "detail" -> m.detail.toMap))
    Files.write(a.out.resolve("result.json"), json.getBytes("UTF-8"))
    System.exit(0)
  }

  def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** The benchmark's session: local mode on the run's cpu budget, with
    * scratch, warehouse and shuffle files kept inside the run dir. */
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.out.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Deterministic seeded permutation. */
  def shuffled[T](xs: Seq[T], seed: Long): Seq[T] = new scala.util.Random(seed).shuffle(xs)
}

/** Wall time of a run's consecutive phases, for the run's description. */
final class Phases {
  private var t = System.nanoTime()
  val seconds = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def end(name: String): Unit = {
    val now = System.nanoTime(); seconds(name) = (now - t) / 1e9; t = now
  }
}

/** JVM memory and GC readings, taken from the management beans. */
object Heap {
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  private var peak = 0L

  /** Force full collections and fold the old generation's occupancy
    * after them (its collection usage) into the run's peak. */
  def sample(): Unit = {
    // collect until the occupancy stops falling (at least twice, at most
    // five times): Spark's cleaner releases broadcast and shuffle state
    // off weak references, so what one collection clears is freed by a
    // later one
    def collect(): Long = {
      System.gc()
      Thread.sleep(100)
      oldPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    }
    var prev = collect()
    var used = collect()
    var rounds = 2
    while (used < prev * 0.99 && rounds < 5) { prev = used; used = collect(); rounds += 1 }
    samples += used / 1048576.0
    peak = math.max(peak, used)
  }

  /** Every sample's old-generation occupancy, in MB, for the run's detail. */
  val samples = scala.collection.mutable.ArrayBuffer.empty[Double]

  def peakOldAfterGcMb: Double = { sample(); peak / 1048576.0 }

  private val threads = ManagementFactory.getThreadMXBean

  /** CPU nanoseconds so far of each of the JVM's application threads:
    * every live Java thread except the JIT compiler threads (GC workers
    * are not Java threads). The kernel does not charge a thread for
    * time its virtual CPU was stolen by the host, and leaving out
    * compilation and collection keeps background JVM work that varies
    * from run to run out of the reading; collection is per layer. */
  def appCpu(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    val infos = threads.getThreadInfo(ids)
    ids.indices.collect {
      case i if infos(i) != null && !infos(i).getThreadName.contains("CompilerThread") =>
        ids(i) -> threads.getThreadCpuTime(ids(i))
    }.filter(_._2 >= 0).toMap
  }

  /** Application CPU seconds since `start` (a snapshot from appCpu),
    * counted per thread so a thread that ends meanwhile cannot make the
    * sum shrink; threads started meanwhile count from zero. The thread
    * `except`, if given, is left out. */
  def appCpuSecondsSince(start: Map[Long, Long], except: Long = -1L): Double =
    appCpu().iterator.collect { case (id, ns) if id != except => ns - start.getOrElse(id, 0L) }
      .filter(_ > 0).sum / 1e9

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
}
