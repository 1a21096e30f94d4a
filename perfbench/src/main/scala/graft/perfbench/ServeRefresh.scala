package graft.perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Api, BatchedServer}
import graft.operators.Collection

/** `serve_refresh`: [[Api.batchedServer]] on its replica tier over the
  * committed collection tiled to 34,000 rows (past the direct tier's
  * 2^21-cell cutoff, so reads queue and coalesce), read open-loop at 1000/s by
  * one generator thread, each read with a query of its own, while one
  * writer thread, one write after another, upserts 16 vectors through
  * [[Api.addVectors]], deletes 16 ids through [[Collection.deleteById]],
  * checkpoints the new generation and calls `refresh`. A read's latency
  * runs from its scheduled send time. */
object ServeRefresh {
  val Copies = 17
  val RatePerS = 1000.0
  /** Pause between the end of one write and the start of the next. */
  val WriteGapMs = 100.0
  val BatchSize = 16
  /** Set-up ends with the timed mix, reads and writes, for [[WarmWrites]]
    * writes and at least [[WarmMs]]. The first write takes about three
    * times a later one; after five, and after eight, warm writes the
    * window's writes still cost a tenth less CPU from its first to its
    * last, which [[TimedWrites]] makes the same in every run. */
  val WarmWrites = 6
  val WarmMs = 3000.0
  /** Writes in the timed window, which reads last for `--seconds` and
    * as much longer as these take. A warm write takes 1.0-1.6 s here, so
    * five fill an 8 s window; a fixed count keeps the median over the
    * same writes of the sequence however fast the host runs. */
  val TimedWrites = 5

  final case class Read(i: Long, qi: Int, dueMs: Double, sentMs: Double,
      @volatile var doneMs: Double = Double.NaN,
      @volatile var hits: Seq[(Long, Double)] = Nil,
      @volatile var error: Option[String] = None)

  /** One served generation: its frame and when its refresh was called
    * and returned (generation 0 serves from set-up). */
  final case class Gen(df: DataFrame, callMs: Double, returnMs: Double)

  /** One write's phases and its CPU: `cpuMs` of the Java threads other
    * than the serving threads and the read generator, `procCpuMs` of the
    * whole JVM less those threads (GC and JIT included). */
  final case class Write(startMs: Double, upsertMs: Double, deleteMs: Double,
      checkpointMs: Double, refreshMs: Double, endMs: Double, cpuMs: Double,
      procCpuMs: Double) {
    def ms: Double = endMs - startMs
  }

  def run(ctx: RunCtx): Unit = {
    val r = ctx.result
    val tr = ctx.tracer
    val spark = ctx.session()
    val listener = if (ctx.traced) LayerListener.install(spark) else null
    val base = Serve.baseRows(spark, ctx.dataDir)
    // one query per scheduled read, timed and warm; twice the window's
    // reads, for a window the writes stretch
    val qs = Serve.queries(base, ctx.rng("serve_refresh.queries"),
      2 * math.ceil(ctx.seconds * RatePerS).toInt + 1)
    // the untimed warm reads cycle through 500 queries of their own
    val warmQs = Serve.queries(base, ctx.rng("serve_refresh.warm"), 500)
    val gen0 = Serve.tiled(spark, ctx.dataDir, Copies).localCheckpoint()
    val rows0 = gen0.count()

    val s0 = Clock.nowMs
    val before = Cpu.threadCpu().keySet
    val server = Api.batchedServer(gen0, k = Serve.K,
      scoreThreshold = Some(Serve.Threshold))
    // the read side: this thread (the generator), the server's flusher,
    // started by its constructor, its named pools and the samplers
    val readSide = Cpu.threadCpu().keySet -- before + Thread.currentThread.getId
    def writeSide(id: Long, n: String) = !readSide(id) &&
      !n.startsWith("graft-batched-server") && !n.startsWith("perfbench-depth") &&
      !n.startsWith("perfbench-box")
    def procLessReadsMs: Double =
      Cpu.selfMs - Cpu.threadCpu((id, n) => !writeSide(id, n)).values.sum / 1e6
    val decision = server.servingDecision
    val replicaMs = Clock.nowMs - s0
    require(decision.family == "exact", s"expected the exact replica tier, got $decision")
    try {
      // warm the flush path, the kernel and the write path
      val model = new LiveSet(base, Copies, ctx.rng("serve_refresh.writes"))
      val writer = new Writer(spark, model, tr, server, r, gen0, () => procLessReadsMs,
        writeSide)
      val w0 = Clock.nowMs
      val warmWriter = writer.start(w0, WarmWrites)
      while (warmWriter.isAlive || Clock.nowMs < w0 + WarmMs)
        paced(server, warmQs, Clock.nowMs, Clock.nowMs + 500, () => false)
      warmWriter.join()
      val warmWrites = writer.writes.size
      val gen1 = writer.current

      val firstTimed = Clock.nowMs
      val setupS = (firstTimed - ctx.jvmStartMs) / 1000.0
      val endMs = firstTimed + ctx.seconds * 1000
      val box = new BoxSampler
      box.start()
      val m0 = server.metricsSnapshot
      @volatile var depthMax = 0.0
      val sampling = new CountDownLatch(1)
      val sampler = new Thread(() => {
        while (!sampling.await(2, TimeUnit.MILLISECONDS))
          depthMax = math.max(depthMax, server.metricsSnapshot("queue_depth"))
      }, "perfbench-depth")
      sampler.setDaemon(true)
      sampler.start()

      val gen0Timed = writer.gens.size
      val timedWriter = writer.start(firstTimed, TimedWrites)

      val reads = paced(server, qs, firstTimed, endMs, () => timedWriter.isAlive)
      val windowEnd = Clock.nowMs
      val windowS = (windowEnd - firstTimed) / 1000.0
      timedWriter.join()
      val gens = Gen(gen1, Double.NegativeInfinity, firstTimed) +:
        writer.gens.drop(gen0Timed).toIndexedSeq
      val writes = writer.writes.drop(warmWrites).toIndexedSeq
      // every read gets 10 s past the window to complete
      val waitUntil = Clock.nowMs + 10000
      while (reads.exists(_.doneMs.isNaN) && Clock.nowMs < waitUntil)
        Thread.sleep(5)
      sampling.countDown()
      sampler.join()
      val m1 = server.metricsSnapshot
      r.record("box") = box.stop()

      // expected answers, after the window: each generation's exact
      // top-k for the reads that could have seen it
      val calls = gens.map(_.callMs).toIndexedSeq
      val rets = gens.map(_.returnMs).toIndexedSeq
      val all = reads
      val ok = all.filter(rd => !rd.doneMs.isNaN && rd.error.isEmpty)
      val allowed = ok.map(rd =>
        rd.i -> Check.allowedGenerations(rd.sentMs, rd.doneMs, calls, rets)).toMap
      val t0 = Clock.nowMs
      val want = truth(spark, gens, qs,
        ok.flatMap(rd => allowed(rd.i).map(_ -> rd)), r)
      val truthMs = Clock.nowMs - t0
      var single = 0
      all.foreach { rd =>
        if (rd.doneMs.isNaN) r.fail(s"read ${rd.i}: no answer 10 s after the window")
        else rd.error match {
          case Some(e) => r.fail(s"read ${rd.i}: $e")
          case None =>
            val gs = allowed(rd.i)
            if (gs.length == 1) single += 1
            if (gs.exists(g => Check.topK(want((g, rd.i)), rd.hits).isEmpty)) r.ok()
            else r.fail(s"read ${rd.i}: matches none of generations " +
              s"${gs.mkString(",")}: " + Check.topK(want((gs.last, rd.i)), rd.hits).get)
        }
      }
      r.e2e("setup_s") = (setupS, "s")
      Serve.readMetrics(r, ok.map(rd => rd.doneMs - rd.dueMs), windowS, ok.size.toLong)
      Serve.queryRecord(r, qs.length, all.map(_.qi))
      // this workload's own operation is the write: the bounded cost is
      // the median CPU of the window's writes
      val timedWrites = writes.map(_.ms)
      if (writes.nonEmpty)
        r.e2e("op_cpu_ms") = (Stats.median(writes.map(_.cpuMs)), "ms")
      // the open loop fixes the offered rate: throughput is the reads
      // answered inside the window, below the rate once a backlog grows
      r.named("read_qps") = (ok.count(_.doneMs <= windowEnd) / windowS, "1/s")
      if (timedWrites.nonEmpty)
        r.named("write_p50_ms") = (Stats.median(timedWrites), "ms")
      val lag = all.map(rd => rd.sentMs - rd.dueMs)
      r.named("gen_lag_p99_ms") = (Stats.quantile(lag, 0.99), "ms")
      r.record("writes") = writes.size
      r.record("warm_writes") = warmWrites
      r.record("window_s") = windowS
      r.record("write_ms") = writes.map(_.ms)
      r.record("write_cpu_ms") = writes.map(_.cpuMs)
      r.record("write_process_cpu_ms") = writes.map(_.procCpuMs)
      r.record("generations") = gens.size
      r.record("reads_single_generation") = single
      r.record("rows_gen0") = rows0

      r.layer("setup.replica_ms", replicaMs, "ms")
      r.layer("truth_s", truthMs / 1000.0, "s")
      r.layer("gen.lag_p99_ms", Stats.quantile(lag, 0.99), "ms")
      val flushes = m1("flushes_total") - m0("flushes_total")
      r.layer("serving.flushes", flushes, "count")
      r.layer("serving.rows_per_flush",
        if (flushes > 0) (m1("flush_batch_rows_total") - m0("flush_batch_rows_total")) / flushes
        else 0.0, "rows")
      r.layer("serving.queue_depth_max", depthMax, "count")
      if (writes.nonEmpty) {
        r.layer("write.p50_ms", Stats.median(writes.map(_.ms)), "ms")
        r.layer("store.upsert_ms", Stats.median(writes.map(_.upsertMs)), "ms")
        r.layer("store.delete_ms", Stats.median(writes.map(_.deleteMs)), "ms")
        r.layer("store.checkpoint_ms", Stats.median(writes.map(_.checkpointMs)), "ms")
        r.layer("serving.refresh_ms", Stats.median(writes.map(_.refreshMs)), "ms")
      }
      if (listener != null && writes.nonEmpty) {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        val t = listener.totals(writes.map(w => (w.startMs, w.endMs)).toSeq)
        r.layer("store.jobs", t("sched.jobs") / writes.size, "count")
        r.layer("store.shuffle_bytes", t("exec.shuffle_write_bytes") / writes.size, "bytes")
        Seq("sched.jobs", "sched.stages", "sched.tasks", "sched.job_wall_ms",
          "exec.task_ms", "exec.cpu_ms", "exec.gc_ms").foreach { k =>
          r.layer(k, t(k) / writes.size,
            if (k.endsWith("_ms")) "ms" else "count")
        }
      }
    } finally server.close()
  }

  /** Ids live in the served collection, and the embedding each carries,
    * so the writer can pick deletes and know what a read must find. */
  final class LiveSet(base: Map[Long, Array[Double]], copies: Int,
      val rnd: scala.util.Random) {
    private val baseIds = base.keys.toArray.sorted
    private val overrides = mutable.Map[Long, Array[Double]]()
    private val deleted = mutable.Set[Long]()
    private var nextNew = 0L
    def embedding(id: Long): Array[Double] =
      overrides.getOrElse(id, base(id & ((1L << Serve.IdShift) - 1)))
    def randomLive(): Long = {
      var id = 0L
      do {
        id = (rnd.nextInt(copies).toLong << Serve.IdShift) | baseIds(rnd.nextInt(baseIds.length))
      } while (deleted(id))
      id
    }
    /** A fresh id outside every tile. */
    def freshId(): Long = { nextNew += 1; (copies.toLong + 1) << Serve.IdShift | nextNew }
    def upsert(id: Long, e: Array[Double]): Unit = { overrides(id) = e; deleted -= id }
    def delete(id: Long): Unit = { deleted += id; overrides -= id }
  }

  /** Exact top-k of each (generation, read) pair's query over that
    * generation, keyed by (generation, read index); two generations at
    * a time. */
  private def truth(spark: SparkSession, gens: IndexedSeq[Gen],
      qs: Array[Array[Double]], pairs: Seq[(Int, Read)], r: Result)
      : Map[(Int, Long), Seq[(Long, Double)]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val perGen = pairs.groupBy(_._1).toSeq.map { case (g, xs) =>
        Future(Serve.truth(spark, gens(g).df, xs.map { case (_, rd) => rd.i -> qs(rd.qi) }, r)
          .map { case (i, hits) => (g, i) -> hits })
      }
      Await.result(Future.sequence(perGen), Duration.Inf).flatten.toMap
    } finally pool.shutdown()
  }

  /** The writer: one write after another, [[WriteGapMs]] apart, each
    * checked by [[verify]] once its refresh returns. */
  private final class Writer(spark: SparkSession, model: LiveSet, tr: Tracer,
      server: BatchedServer, r: Result, @volatile var current: DataFrame,
      procMs: () => Double, writeSide: (Long, String) => Boolean) {
    val gens = mutable.ArrayBuffer[Gen]()
    val writes = mutable.ArrayBuffer[Write]()
    private var j = 0

    /** A thread making `count` writes from `fromMs` on. */
    def start(fromMs: Double, count: Int): Thread = {
      val t = new Thread(() => {
        try {
          sleepUntil(fromMs + WriteGapMs)
          var n = 0
          while (n < count) {
            n += 1
            j += 1
            val req = s"w$j"
            val (w, next, upserts, deletes) = tr.span("write", req)(
              write(spark, current, model, j, req, tr, server, gens, procMs, writeSide))
            writes.synchronized(writes += w)
            current = next
            verify(server, upserts, deletes, r)
            sleepUntil(Clock.nowMs + WriteGapMs)
          }
        } catch {
          case e: Throwable => r.fail(s"write $j: ${e.getClass.getName}: ${e.getMessage}")
        }
      }, "perfbench-writer")
      t.start()
      t
    }
  }

  /** One write: 16 upserts (half new ids, half replacing live ones), 16
    * deletes, checkpoint, refresh. */
  private def write(spark: SparkSession, current: DataFrame, model: LiveSet,
      j: Int, req: String, tr: Tracer, server: BatchedServer,
      gens: mutable.ArrayBuffer[Gen], procMs: () => Double,
      writeSide: (Long, String) => Boolean)
      : (Write, DataFrame, Seq[(Long, Array[Double])], Seq[(Long, Array[Double])]) = {
    import spark.implicits._
    val cpu0 = Cpu.threadCpu(writeSide)
    val proc0 = procMs()
    val start = Clock.nowMs
    val upserts = (0 until BatchSize).map { b =>
      val id = if (b % 2 == 0) model.freshId() else model.randomLive()
      id -> Serve.perturbed(model.embedding(model.randomLive()), model.rnd)
    }
    val upIds = upserts.map(_._1).toSet
    val deletes = Iterator.continually(model.randomLive())
      .filterNot(upIds).distinct.take(BatchSize).toList
    // newer ts than every stored row, so last-write-wins keeps the upsert
    val ts = 1e12 + j
    val adds = upserts.map { case (id, e) =>
      (Option(id), e.toSeq, (id % 10).toInt, ts) }
      .toDF("id", "embedding", "user_id", "ts")
    val u0 = Clock.nowMs
    val upserted = tr.span("store.upsert", req)(Api.addVectors(current, adds))
    val d0 = Clock.nowMs
    val deleted = tr.span("store.delete", req)(
      deletes.foldLeft(upserted)((df, id) => Collection.deleteById(df, lit(id))))
    val c0 = Clock.nowMs
    val next = tr.span("store.checkpoint", req)(deleted.localCheckpoint())
    val callMs = Clock.nowMs
    tr.span("serving.refresh", req)(server.refresh(next))
    val end = Clock.nowMs
    val cpu = Cpu.threadCpuSince(cpu0, writeSide)
    val proc = procMs() - proc0
    gens.synchronized(gens += Gen(next, callMs, end))
    val gone = deletes.map(id => id -> model.embedding(id))
    upserts.foreach { case (id, e) => model.upsert(id, e) }
    deletes.foreach(model.delete)
    (Write(start, d0 - u0, c0 - d0, callMs - c0, end - callMs, end, cpu, proc),
      next, upserts, gone)
  }

  /** Reads issued after `refresh` returned: each upserted vector must come
    * back at rank 1 under its id, and no deleted id may come back. */
  private def verify(server: BatchedServer, upserts: Seq[(Long, Array[Double])],
      deletes: Seq[(Long, Array[Double])], r: Result): Unit = {
    upserts.foreach { case (id, e) =>
      val got = Await.result(server.submit(e.toSeq), 60.seconds)
      if (got.headOption.exists(_.getLong(0) == id)) r.ok()
      else r.fail(s"upserted id $id not at rank 1: ${got.headOption.map(_.getLong(0))}")
    }
    deletes.foreach { case (id, e) =>
      val got = Await.result(server.submit(e.toSeq), 60.seconds)
      if (got.exists(_.getLong(0) == id)) r.fail(s"deleted id $id still served")
      else r.ok()
    }
  }

  /** Open-loop generator on the calling thread: read i is due at
    * fromMs + i / RatePerS seconds, is sent then (or at once when the
    * generator runs late) with query i, and records its completion from
    * the future. */
  private def paced(server: BatchedServer, qs: Array[Array[Double]],
      fromMs: Double, untilMs: Double, orWhile: () => Boolean): Seq[Read] = {
    implicit val ec: ExecutionContext = ExecutionContext.parasitic
    val reads = mutable.ArrayBuffer[Read]()
    var i = 0L
    while (fromMs + i * 1000.0 / RatePerS < untilMs || orWhile()) {
      val due = fromMs + i * 1000.0 / RatePerS
      sleepUntil(due)
      val qi = (i % qs.length).toInt
      val rd = Read(i, qi, due, Clock.nowMs)
      reads += rd
      try {
        server.submit(qs(qi).toSeq).onComplete { t =>
          t.fold(e => rd.error = Some(e.toString),
            rows => rd.hits = rows.map(x => (x.getLong(0), x.getDouble(1))).toSeq)
          rd.doneMs = Clock.nowMs
        }
      } catch {
        case e: Throwable => rd.error = Some(e.toString); rd.doneMs = Clock.nowMs
      }
      i += 1
    }
    reads.toSeq
  }

  private def sleepUntil(ms: Double): Unit = {
    var left = ms - Clock.nowMs
    while (left > 0) {
      LockSupport.parkNanos((left * 1e6).toLong)
      left = ms - Clock.nowMs
    }
  }
}
