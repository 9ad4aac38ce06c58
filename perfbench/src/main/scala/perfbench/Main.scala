package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Where a run keeps its session and its inputs. */
final class Env(val seed: Long, val work: Path, val cores: Int, val tracer: Tracer) {
  /** Input files per table, a multiple of the cores so that no scan wave
    * runs half empty; one file is one split (see `start`). */
  val files: Int = 2 * cores
  var spark: SparkSession = _

  def start(threads: Int): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // a max split of 1 GiB with an open cost of 1 GiB puts each input
      // file (all far smaller) in a split of its own
      .config("spark.sql.files.maxPartitionBytes", "1g")
      .config("spark.sql.files.openCostInBytes", "1g")
      .config("spark.local.dir", path("spark-local").toString)
      .config("spark.sql.warehouse.dir", path("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(spark.sparkContext)
  }

  def stop(): Unit = spark.stop()

  def path(name: String): Path = work.resolve(name)

  def writeRead(name: String, df: DataFrame): DataFrame = {
    df.write.parquet(path(name).toString)
    spark.read.parquet(path(name).toString)
  }
}

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`. Prints progress on stderr and, as the last
  * line of stdout, one JSON object with `correct`, `attempted`, `failed`
  * and `metrics`: the end-to-end metrics untraced, the per-layer metrics
  * traced. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workload.Names.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val tracer = new Tracer(traced)
    val env = new Env(seed, Paths.get(opts("work")).toAbsolutePath, cores, tracer)

    // the oracle's self-check is the benchmark's own work, so set-up time
    // starts after it
    val tc = System.nanoTime()
    val selfCheck = Oracle.selfCheck()
    selfCheck.foreach(f => System.err.println(s"[perfbench] oracle self-check: $f"))
    val t0 = System.nanoTime()
    val tCheck = (t0 - tc) / 1e9
    env.start(cores)
    val tSession = (System.nanoTime() - t0) / 1e9
    val wl = tracer.span("bench", "setup")(Workload.setup(workload, env))
    val tInputs = (System.nanoTime() - t0) / 1e9
    val warm = new Ops(tracer)
    (1 to wl.warmupPasses).foreach(_ => warm.pass(wl.pass(warm)))
    val setupS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] $workload self-check took $tCheck%.2f s; session at $tSession%.1f s, inputs at $tInputs%.1f s, " +
      f"setup $setupS%.1f s, warm-up pass walls " +
      warm.passWalls.map(w => f"$w%.2f").mkString(" "))

    val ops = new Ops(tracer)
    val gc = new GcProbe(traced)
    // a fixed number of passes for a given --seconds, so that every run
    // times the same operations on the same states
    val passes = math.max(1L, math.round(seconds / wl.passSeconds))
    (1L to passes).foreach(_ => ops.pass(wl.pass(ops)))
    gc.stop()
    val docs = (wl.docsPerPass * passes).toDouble
    val docsPerS = docs / (ops.wallNs / 1e9)
    System.err.println(f"[perfbench] $workload timed pass walls " +
      ops.passWalls.map(w => f"$w%.2f").mkString(" ") + f", $docsPerS%.0f docs/s")
    ops.opWalls.foreach { case (n, ws) =>
      System.err.println(f"[perfbench]   $n: " + ws.map(w => f"$w%.2f").mkString(" ")) }

    val (metrics, sweepWrong) =
      if (!traced) (Seq(
        ("setup_s", setupS, "s"),
        ("docs_per_s", docsPerS, "docs/s"),
        ("cpu_s_per_mdoc", ops.cpuNs / 1e9 / (docs / 1e6), "s")), Nil)
      else {
        val (layers, wrong) = Layers.sweep(env)
        val self = tracer.selfSeconds
        (Seq(("trace.docs_per_s", docsPerS, "docs/s"),
          ("run.gc_s", gc.gcSeconds, "s"),
          ("run.heap_peak_mb", gc.heapPeakMb, "MB")) ++ layers ++
          Layers.LayerNames.map(l => (s"self_s.$l", self.getOrElse(l, 0.0), "s")), wrong)
      }
    env.stop()

    val correct = selfCheck.isEmpty && warm.failed == 0 && ops.wrong.isEmpty && sweepWrong.isEmpty
    val body = metrics.map { case (k, v, u) => s""""$k": {"value": $v, "unit": "$u"}""" }
      .mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${ops.attempted}, """ +
      s""""failed": ${ops.failed}, "metrics": {$body}}""")
  }
}

/** GC time and peak retained heap over the timed passes of a traced run.
  * Retained heap is what the heap pools hold right after their last
  * collection (sampled every 10 ms): with the heap pre-sized, plain heap
  * use only tracks the young generation filling up. */
final class GcProbe(enabled: Boolean) {
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs = beans.map(_.getCollectionTime).sum
  private val gc0 = gcMs
  @volatile private var peak = 0L
  @volatile private var running = enabled
  private val sampler = new Thread(() => {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP)
    while (running) {
      peak = math.max(peak, heapPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum)
      Thread.sleep(10)
    }
  })
  sampler.setDaemon(true)
  if (enabled) sampler.start()
  var gcSeconds = 0.0

  def stop(): Unit = {
    gcSeconds = (gcMs - gc0) / 1e3
    running = false
    if (enabled) sampler.join()
  }
  def heapPeakMb: Double = peak / 1048576.0
}
