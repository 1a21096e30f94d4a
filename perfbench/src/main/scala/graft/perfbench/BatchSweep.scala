package graft.perfbench

import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

import scala.collection.mutable

/** `batch_sweep`: the committed query list over the committed data set,
  * one driver thread under `local[4]`, each query materializing its whole
  * result with `collect()` and checked against its committed fingerprint.
  *
  * Set-up builds the session and runs every query once (side tables,
  * codegen, JIT). The timed part then runs whole passes, in an order the
  * seed shuffles, until `--seconds` have passed; a query's time is the
  * median of its passes. */
object BatchSweep {

  /** Committed expectations: query name → fingerprint, in file order. */
  def expectations(path: String): Seq[(String, Check.Fingerprint)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(name, rows, hash) = l.split("\t")
        name -> Check.Fingerprint(rows.toLong, hash)
      }.toList
    finally src.close()
  }

  /** One query's run: wall ms and window, CPU ms of the Java threads and
    * of the whole process, or the reason it failed. */
  final case class Exec(name: String, pass: Int, startMs: Double, endMs: Double,
      cpuMs: Double, procCpuMs: Double, rows: Int, error: Option[String]) {
    def ms: Double = endMs - startMs
  }

  /** Hard stop for the whole JVM, so the run always prints a result. */
  val DeadlineMs = 150000.0
  val QueryTimeoutMs = 60000.0

  def run(ctx: RunCtx): Unit = {
    val r = ctx.result
    val spark = ctx.session()
    val listener = if (ctx.traced) LayerListener.install(spark) else null
    val t0 = Clock.nowMs
    val expected = expectations(s"${ctx.dataDir}/../sweep_fingerprints.tsv")
    val truthMs = Clock.nowMs - t0
    val queries = graft.SparkEntry.queries
    val missing = expected.map(_._1).filterNot(queries.contains)
    require(missing.isEmpty, s"queries missing from SparkEntry: ${missing.mkString(",")}")
    val sfDir = ctx.dataDir
    // one worker thread runs every query, so a stuck query can be
    // abandoned (its jobs cancelled) without stopping the sweep
    var pool = Executors.newSingleThreadExecutor(daemon)

    def once(name: String, pass: Int): Exec = {
      val fn = queries(name)
      val want = expected.find(_._1 == name).get._2
      val budget = math.min(QueryTimeoutMs, DeadlineMs - ctx.sinceStartMs)
      if (budget <= 0) {
        r.fail(s"$name: not run, run deadline passed")
        return Exec(name, pass, Clock.nowMs, Clock.nowMs, 0, 0, 0, Some("deadline"))
      }
      val req = s"$name#$pass"
      val task = pool.submit(() => {
        val c = Cpu.threadCpu()
        val p = Cpu.selfMs
        val s = Clock.nowMs
        val got = ctx.tracer.span("query", req) {
          val df = ctx.tracer.span("entry.build", req)(fn(spark, sfDir))
          val rows = ctx.tracer.span("materialize", req)(df.collect())
          (df.schema, rows)
        }
        (s, Clock.nowMs, Cpu.threadCpuSince(c), Cpu.selfMs - p, got)
      })
      try {
        val (s, e, cpu, proc, (schema, rows)) = task.get(budget.toLong, TimeUnit.MILLISECONDS)
        val fp = Check.fingerprint(schema, rows)
        if (fp == want) { r.ok(); Exec(name, pass, s, e, cpu, proc, rows.length, None) }
        else {
          r.fail(s"$name: fingerprint $fp, want $want")
          Exec(name, pass, s, e, cpu, proc, rows.length, Some("wrong answer"))
        }
      } catch {
        case _: TimeoutException =>
          spark.sparkContext.cancelAllJobs()
          pool.shutdownNow()
          pool = Executors.newSingleThreadExecutor(daemon)
          r.fail(s"$name: timed out after ${budget.toLong} ms")
          Exec(name, pass, 0, 0, 0, 0, 0, Some("timeout"))
        case e: java.util.concurrent.ExecutionException =>
          r.fail(s"$name: threw ${e.getCause}")
          Exec(name, pass, 0, 0, 0, 0, 0, Some("threw"))
      }
    }

    val names = expected.map(_._1)
    // set-up: one untimed pass builds side tables and warms the JIT
    val w0 = Clock.nowMs
    val warm = names.map(n => once(n, 0))
    val warmMs = Clock.nowMs - w0
    r.record("setup_ms_per_query") = warm.map(x => x.name -> x.ms).toMap
    val firstTimed = Clock.nowMs
    val setupS = ((firstTimed - ctx.jvmStartMs) - truthMs) / 1000.0

    val box = new BoxSampler
    box.start()
    val rnd = ctx.rng("batch_sweep.order")
    val execs = mutable.ArrayBuffer[Exec]()
    var pass = 0
    while (pass == 0 || (Clock.nowMs - firstTimed < ctx.seconds * 1000 &&
        ctx.sinceStartMs < DeadlineMs - QueryTimeoutMs)) {
      pass += 1
      rnd.shuffle(names).foreach(n => execs += once(n, pass))
    }
    r.record("box") = box.stop()
    pool.shutdownNow()

    val good = execs.filter(_.error.isEmpty)
    val perQuery = good.groupBy(_.name).map { case (n, xs) =>
      n -> Stats.median(xs.map(_.ms)) }
    if (perQuery.nonEmpty) {
      val ms = perQuery.values
      val sweepS = ms.sum / 1000.0
      val (q, tailMs) = Stats.tail(ms)
      val pName = f"query_p${q * 100}%.0f_ms"
      r.e2e("setup_s") = (setupS, "s")
      def perQueryMedian(f: Exec => Double) =
        good.groupBy(_.name).values.map(xs => Stats.median(xs.map(f)))
      val cpu = perQueryMedian(_.cpuMs)
      val proc = perQueryMedian(_.procCpuMs)
      // geometric mean over queries, as TPC-H's power metric takes it:
      // every query weighs alike, and no one query sets the figure (the
      // median over queries rested on two and spread 0.10 over ten runs)
      r.e2e("op_cpu_ms") = (Stats.geomean(cpu), "ms")
      r.named("query_cpu_p50_ms") = (Stats.median(cpu), "ms")
      r.named("sweep_cpu_s") = (cpu.sum / 1000.0, "s")
      r.named("query_process_cpu_p50_ms") = (Stats.median(proc), "ms")
      r.named("sweep_process_cpu_s") = (proc.sum / 1000.0, "s")
      r.named("sweep_s") = (sweepS, "s")
      r.named("query_p50_ms") = (Stats.median(ms), "ms")
      r.named(pName) = (tailMs, "ms")
      r.record("tail_quantile") = q
      r.record("per_query_ms") = perQuery.toSeq.sortBy(_._1).toMap
      r.record("per_query_cpu_ms") = good.groupBy(_.name).map { case (n, xs) =>
        n -> Stats.median(xs.map(_.cpuMs)) }
    }
    r.record("queries") = names.length
    r.record("timed_passes") = pass
    r.record("data_dir") = sfDir
    r.layer("setup.warm_ms", warmMs, "ms")
    r.layer("truth_s", truthMs / 1000.0, "s")

    if (listener != null) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      layers(ctx, listener, good.toSeq, pass)
    }
  }

  /** Per-layer totals for one sweep (sums over the timed executions,
    * divided by the number of passes). Each query's wall time is split
    * among its layers ([[Tracer.partition]]); the accounting check is
    * that the layer spans Spark reports for a query lie inside its
    * window, within [[ToleranceMs]] + [[ToleranceFrac]] of its wall. */
  val ToleranceMs = 2.0
  val ToleranceFrac = 0.02

  private def layers(ctx: RunCtx, l: LayerListener, good: Seq[Exec],
      passes: Int): Unit = {
    val r = ctx.result
    val tr = ctx.tracer
    val reqs = good.map(x => s"${x.name}#${x.pass}").toSet
    val byReq = tr.spans.filter(s => reqs(s.req)).groupBy(_.req)
    var eagerJobs = 0
    var gapMax = 0.0
    var outside = 0
    val layerMs = mutable.Map[String, Double]().withDefaultValue(0.0)
    byReq.foreach { case (req, mine) =>
      mine.find(_.name == "query").foreach { q =>
        val kids = mine.filter(_.parent == q.id)
        // Spark's jobs and Catalyst phases become spans under the
        // harness span they started in
        val sparkSpans = l.intervals(q.startMs, q.endMs).map { case (name, s, e) =>
          val parent = kids.find(k => s >= k.startMs && s <= k.endMs)
            .map(_.id).getOrElse(q.id)
          if (name == "sched.job" && kids.exists(k =>
              k.name == "entry.build" && k.id == parent)) eagerJobs += 1
          tr.add(name, req, parent, s, e)
        }
        val (split, out) = tr.partition(q, mine ++ sparkSpans, s => s.name match {
          case "query" | "materialize" => "driver"
          case n if n.startsWith("catalyst.") => "catalyst"
          case other => other
        })
        split.foreach { case (k, v) => layerMs(k) += v }
        gapMax = math.max(gapMax, out)
        if (out > ToleranceMs + ToleranceFrac * q.durMs) outside += 1
      }
    }
    val t = l.totals(good.map(x => (x.startMs, x.endMs)))
    val p = passes.toDouble
    t.foreach { case (k, v) =>
      val unit =
        if (k.endsWith("_ms")) "ms" else if (k.endsWith("_bytes")) "bytes"
        else "count"
      r.layer(k, v / p, unit)
    }
    r.layer("exec.slot_util", if (t("sched.job_wall_ms") > 0)
      t("exec.task_ms") / (t("sched.job_wall_ms") * ctx.cores) else 0.0, "ratio")
    r.layer("entry.build_ms", byReq.values.flatten.filter(_.name == "entry.build")
      .map(_.durMs).sum / p, "ms")
    r.layer("entry.eager_jobs", eagerJobs / p, "count")
    r.layer("driver.result_rows", good.map(_.rows.toDouble).sum / p, "count")
    r.layer("driver.other_ms", layerMs("driver") / p, "ms")
    r.layer("trace.accounting_gap_ms", gapMax, "ms")
    r.layer("trace.queries_outside_tolerance", outside.toDouble, "count")
    r.record("trace_tolerance") =
      s"per query, Spark-reported layer time outside the query's window <= " +
        s"$ToleranceMs ms + ${ToleranceFrac * 100}% of its wall"
    r.record("layer_split_ms_per_sweep") = layerMs.map { case (k, v) => k -> v / p }
    r.record("wall_ms_per_sweep") = good.map(_.ms).sum / p
  }

  private val daemon: java.util.concurrent.ThreadFactory = (run: Runnable) => {
    val t = new Thread(run, "perfbench-query")
    t.setDaemon(true)
    t
  }
}
