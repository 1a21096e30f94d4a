package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run of one workload measured, found wrong and recorded. */
final class Result(val workload: String) {
  @volatile var attempted = 0L
  @volatile var failed = 0L
  private val failures = mutable.ArrayBuffer[String]()
  /** End-to-end metrics every workload reports (BENCHMARK.json). */
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  /** The workload's own end-to-end metrics, under their own names. */
  val named = mutable.LinkedHashMap[String, (Double, String)]()
  /** Per-layer metrics of the traced run. */
  val layers = mutable.LinkedHashMap[String, (Double, String)]()
  val record = mutable.LinkedHashMap[String, Any]()

  def ok(): Unit = synchronized { attempted += 1 }
  def fail(why: String): Unit = synchronized {
    attempted += 1
    failed += 1
    if (failures.length < 20) failures += why
  }
  def failureSamples: Seq[String] = synchronized(failures.toList)
  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)
}

/** Everything a workload needs: its arguments, a clock for set-up, the
  * tracer and the result it fills. */
final class RunCtx(val workload: String, val seed: Long, val seconds: Double,
    val traced: Boolean, val dataDir: String, val workDir: String,
    val javaBin: String, val classPath: String) {
  val tracer = new Tracer(traced)
  val result = new Result(workload)
  /** JVM start, epoch ms: set-up time is measured from here. */
  val jvmStartMs: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  val cores: Int = Runtime.getRuntime.availableProcessors
  /** Spark settings every workload's session uses. */
  val sparkConf: Seq[(String, String)] = Seq(
    "spark.master" -> "local[4]",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.driver.maxResultSize" -> "2g")

  def session(): SparkSession = {
    val b = SparkSession.builder().appName(s"perfbench-$workload")
    sparkConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    result.record("spark_conf") = sparkConf.toMap
    spark
  }

  /** Seeded generator for one named input stream, so adding a stream
    * never shifts another's draws. */
  def rng(stream: String): scala.util.Random =
    new scala.util.Random(seed * 1000003L ^ stream.hashCode.toLong)

  /** Milliseconds since JVM start, now. */
  def sinceStartMs: Double = Clock.nowMs - jvmStartMs
}

/** Box state over the timed window: hypervisor steal and load average
  * sampled from /proc with the probes `Bench` uses, so a noisy run can be
  * recognised. */
final class BoxSampler {
  private def jiffies(): (Long, Long) = graft.CrossProc.cpuJiffies()
  private def load1(): Double = graft.CrossProc.loadAvg()

  private var j0 = (0L, 0L)
  private var l0 = 0.0
  private val loads = mutable.ArrayBuffer[Double]()
  @volatile private var running = false
  private var thread: Thread = null

  def start(): Unit = {
    j0 = jiffies(); l0 = load1(); running = true
    thread = new Thread(() => {
      while (running) {
        loads.synchronized(loads += load1())
        try Thread.sleep(1000) catch { case _: InterruptedException => () }
      }
    }, "perfbench-box")
    thread.setDaemon(true)
    thread.start()
  }

  def stop(): Map[String, Any] = {
    running = false
    thread.interrupt()
    thread.join()
    val j1 = jiffies()
    val dt = j1._2 - j0._2
    val ls = loads.synchronized(loads.toList)
    Map(
      "steal_pct" -> (if (dt <= 0) -1.0 else 100.0 * (j1._1 - j0._1) / dt),
      "load_start" -> l0,
      "load_end" -> load1(),
      "load_mean" -> (if (ls.isEmpty) -1.0 else ls.sum / ls.length))
  }
}

/** Entry point: `graft.perfbench.Main --workload <name> --seed <n>
  * --seconds <s> --trace <0|1> --data <dir> --work <dir> --out <file>`.
  * Writes one JSON object to `--out`; `run.py` turns it into the
  * benchmark's result line. */
object Main {
  val workloads: Map[String, RunCtx => Unit] = Map(
    "batch_sweep" -> BatchSweep.run,
    "serve_xproc" -> ServeXproc.run,
    "serve_refresh" -> ServeRefresh.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts("workload")
    val body = workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val ctx = new RunCtx(workload, opts("seed").toLong, opts("seconds").toDouble,
      opts("trace") == "1", opts("data"), opts("work"),
      System.getProperty("java.home") + "/bin/java",
      System.getProperty("java.class.path"))
    val r = ctx.result
    try body(ctx)
    catch {
      case e: Throwable =>
        r.fail(s"workload aborted: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    }
    val heapPeakMb = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .toArray.collect { case p: java.lang.management.MemoryPoolMXBean
        if p.getType == java.lang.management.MemoryType.HEAP =>
        p.getPeakUsage.getUsed }.sum / 1048576.0
    r.layer("mem.driver_heap_mb", heapPeakMb, "MB")
    r.record("driver_hwm_mb") = Serve.hwmMb(ProcessHandle.current.pid)
    if (ctx.traced) {
      val spansPath = s"${ctx.workDir}/spans.json"
      ctx.tracer.dump(spansPath)
      r.record("spans_file") = spansPath
      r.layer("trace.spans", ctx.tracer.spans.size.toDouble, "count")
    }
    def metricMap(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "seed" -> ctx.seed,
      "traced" -> ctx.traced,
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "failures" -> r.failureSamples,
      "e2e" -> metricMap(r.e2e),
      "named" -> metricMap(r.named),
      "layers" -> metricMap(r.layers),
      "record" -> r.record)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opts("out")),
      Json.write(out))
    // Spark and pool threads must not keep the JVM alive past the result
    System.exit(0)
  }
}
