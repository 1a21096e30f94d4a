package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.{BatchedServer, RemoteShardedRouter, SlabIO}

/** `serve_xproc`: the committed collection tiled to 264,000 rows,
  * hash-split into 2 shards, each served by a [[graft.ShardWorker]] JVM;
  * 4 closed-loop clients call [[RemoteShardedRouter.search]] with k=10,
  * threshold 0.1, and every response is compared with the exact top-k. */
object ServeXproc {
  val Copies = 132
  val Shards = 2
  val Clients = 4
  /** Queries drawn for the timed reads, one per read: about eight times
    * the reads an 8 s window completes at this commit (800-1,000), so a
    * faster kernel still meets each query once. */
  val Queries = 8192
  /** Queries the untimed warm reads cycle through. */
  val WarmQueries = 256

  def run(ctx: RunCtx): Unit = {
    val r = ctx.result
    val tr = ctx.tracer
    val spark = ctx.session()
    val base = Serve.baseRows(spark, ctx.dataDir)
    val pool = Serve.queries(base, ctx.rng("serve_xproc.queries"), Queries)
    val warmPool = Serve.queries(base, ctx.rng("serve_xproc.warm"), WarmQueries)
    val points = Serve.tiled(spark, ctx.dataDir, Copies).cache()

    // set-up 1: export one slab file per hash shard
    val e0 = Clock.nowMs
    val slabs = (0 until Shards).map { s =>
      val rows = points.filter(pmod(xxhash64(col("id")), lit(Shards.toLong)) === s.toLong)
        .select("id", "embedding", "user_id").collect()
        .map(x => (x.getLong(0), x.getSeq[Double](1).toArray, x.getInt(2)))
      val p = s"${ctx.workDir}/shard_$s.slab"
      SlabIO.write(p, rows)
      (p, rows.length)
    }
    val exportMs = Clock.nowMs - e0
    points.unpersist()

    // set-up 2: start the workers on fresh ports and connect the router
    val w0 = Clock.nowMs
    val ports = slabs.indices.map(_ => Serve.freePort())
    val workerThreads = 1
    val procs = slabs.zip(ports).zipWithIndex.map { case (((slab, _), port), i) =>
      new ProcessBuilder(Seq(ctx.javaBin, "--add-modules=jdk.incubator.vector",
        "-Xmx1g", "-cp", ctx.classPath, "graft.ShardWorker", slab,
        port.toString, Serve.K.toString, Serve.Threshold.toString,
        workerThreads.toString).asJava)
        .redirectErrorStream(true)
        .redirectOutput(new java.io.File(s"${ctx.workDir}/worker_$i.log"))
        .start()
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${ctx.workDir}/workers.pids"),
      procs.map(_.pid).mkString("\n"))
    var reads = Seq.empty[Read]
    try {
      val addrs = ports.map(p => ("127.0.0.1", p))
      val router = connect(addrs, procs)
      val workerStartMs = Clock.nowMs - w0
      try {
        // warm the workers' kernels and the router before timing
        val warmUntil = Clock.nowMs + 3000
        closedLoop(Clients, warmUntil, warmPool, (_, q) => router.search(q))
        val reconnects0 = router.reconnects
        val failovers0 = router.failovers

        // CPU of the Java threads of the driver (router, clients) and of
        // both workers; and of the whole processes, for the record
        def procMs = Cpu.selfMs + procs.map(p => Cpu.pidMs(p.pid)).sum
        def workersMs = procs.map(p => Cpu.pidJavaThreadsMs(p.pid)).sum
        val firstTimed = Clock.nowMs
        val setupS = (firstTimed - ctx.jvmStartMs) / 1000.0
        val box = new BoxSampler
        box.start()
        val p0 = procMs
        val d0 = Cpu.threadCpu()
        val wk0 = workersMs
        reads = closedLoop(Clients, firstTimed + ctx.seconds * 1000, pool,
          (req, q) => tr.span("read", req)(tr.span("router.search", req)(router.search(q))))
        val cpuS = (Cpu.threadCpuSince(d0) + workersMs - wk0) / 1000.0
        val procS = (procMs - p0) / 1000.0
        val windowS = (Clock.nowMs - firstTimed) / 1000.0
        r.record("box") = box.stop()

        val ok = reads.filter(_.error.isEmpty)
        r.e2e("setup_s") = (setupS, "s")
        r.e2e("op_cpu_ms") = (cpuS * 1000.0 / math.max(1, reads.size), "ms")
        r.record("window_cpu_s") = cpuS
        r.record("window_process_cpu_s") = procS
        Serve.readMetrics(r, ok.map(_.ms), windowS, ok.size.toLong)
        Serve.queryRecord(r, pool.length, reads.map(_.qi))
        r.layer("router.reconnects", (router.reconnects - reconnects0).toDouble, "count")
        r.layer("router.failovers", (router.failovers - failovers0).toDouble, "count")
        if (ctx.traced) layers(ctx, router, addrs, warmPool, slabs.head._1,
          Stats.median(ok.map(_.ms)))
      } finally router.close()
      r.layer("setup.slab_export_ms", exportMs, "ms")
      r.layer("setup.worker_start_ms", workerStartMs, "ms")
      r.record("rows") = slabs.map(_._2).sum
      r.record("shards") = Shards
      r.record("worker_threads") = workerThreads
    } finally {
      val hwm = procs.map(p => Serve.hwmMb(p.pid)).sum
      r.layer("mem.worker_rss_mb", hwm, "MB")
      r.record("worker_hwm_mb") = hwm
      procs.foreach(_.destroy())
      procs.foreach(p => if (!p.waitFor(5, java.util.concurrent.TimeUnit.SECONDS))
        { p.destroyForcibly(); p.waitFor() })
    }

    // expected answers for every query read, after the window: the
    // benchmark's own cost, outside set-up and the timed reads
    val t0 = Clock.nowMs
    val used = reads.filter(_.error.isEmpty).map(_.qi).distinct
    val want = Serve.truth(spark, Serve.tiled(spark, ctx.dataDir, Copies),
      used.map(qi => qi.toLong -> pool(qi)), r)
    r.layer("truth_s", (Clock.nowMs - t0) / 1000.0, "s")
    reads.foreach { x =>
      x.error match {
        case Some(e) => r.fail(s"read ${x.req}: $e")
        case None =>
          Check.topK(want(x.qi.toLong), x.hits) match {
            case None => r.ok()
            case Some(why) => r.fail(s"read ${x.req}: $why")
          }
      }
    }
  }

  /** Connect once every worker has loaded its slab and listens. */
  private def connect(addrs: Seq[(String, Int)], procs: Seq[Process]): RemoteShardedRouter = {
    val deadline = Clock.nowMs + 60000
    while (true) {
      try return new RemoteShardedRouter(addrs, Serve.K)
      catch {
        case e: java.io.IOException =>
          procs.find(!_.isAlive).foreach(p =>
            throw new IllegalStateException(s"shard worker exited ${p.exitValue}"))
          if (Clock.nowMs > deadline) throw e
          Thread.sleep(100)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  final case class Read(req: String, qi: Int, startMs: Double, endMs: Double,
      hits: Seq[(Long, Double)], error: Option[String]) {
    def ms: Double = endMs - startMs
  }

  /** `clients` threads, each sending its next read when the last one
    * returns, until `untilMs`; query i of client c is pool entry
    * (c + i·clients) mod pool size. */
  def closedLoop(clients: Int, untilMs: Double, pool: Array[Array[Double]],
      search: (String, Array[Double]) => Array[(Long, Double, Int)]): Seq[Read] = {
    val out = new ConcurrentLinkedQueue[Read]()
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        var i = 0
        while (Clock.nowMs < untilMs) {
          val qi = (c + i * clients) % pool.length
          val req = s"c$c-$i"
          val s = Clock.nowMs
          val read = try {
            val hits = search(req, pool(qi))
            Read(req, qi, s, Clock.nowMs, hits.map(h => (h._1, h._2)).toSeq, None)
          } catch {
            case e: Throwable => Read(req, qi, s, Clock.nowMs, Nil, Some(e.toString))
          }
          out.add(read)
          i += 1
        }
      }, s"perfbench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    out.asScala.toSeq
  }

  /** Traced-run extras, measured after the window on idle workers:
    * IPC ping, each shard's round trip through a one-shard router at the
    * same concurrency, the gather cost, and the kernel over one shard's
    * slab at nq=1 and nq=4. */
  private def layers(ctx: RunCtx, router: RemoteShardedRouter,
      addrs: Seq[(String, Int)], pool: Array[Array[Double]], slab0: String,
      searchP50: Double): Unit = {
    val r = ctx.result
    (0 until 50).foreach(_ => router.ping())
    val pings = (0 until 300).map { _ =>
      val s = Clock.nowMs; router.ping(); Clock.nowMs - s }
    r.layer("ipc.ping_ms", Stats.median(pings), "ms")
    val rtts = addrs.map { a =>
      val one = new RemoteShardedRouter(Seq(a), Serve.K)
      try {
        closedLoop(Clients, Clock.nowMs + 300, pool, (_, q) => one.search(q))
        val xs = closedLoop(Clients, Clock.nowMs + 1500, pool, (_, q) => one.search(q))
        Stats.median(xs.filter(_.error.isEmpty).map(_.ms))
      } finally one.close()
    }
    r.layer("shard.rtt_ms", rtts.max, "ms")
    r.layer("router.gather_ms", searchP50 - rtts.max, "ms")
    r.record("shard_rtt_ms") = rtts

    val rep = BatchedServer.FlatReplica(SlabIO.read(slab0))
    val cells = rep.n.toDouble * 64
    Seq(1, 4).foreach { nq =>
      val qs = pool.take(nq)
      (0 until 3).foreach(_ => BatchedServer.scoreRange(rep, 0, rep.n, qs, Serve.K, Serve.Threshold))
      val ms = Stats.median((0 until 9).map { _ =>
        val s = System.nanoTime()
        BatchedServer.scoreRange(rep, 0, rep.n, qs, Serve.K, Serve.Threshold)
        (System.nanoTime() - s) / 1e6
      })
      r.layer(s"kernel.pass_ms.nq$nq", ms, "ms")
      r.layer(s"kernel.gcells_per_s.nq$nq", cells * nq / (ms / 1000) / 1e9, "Gcells/s")
    }
    r.layer("kernel.bytes_per_pass_computed", rep.n.toDouble * 64 * 8, "bytes")
    r.record("kernel_note") = "kernel.* is one shard's slab on one thread; " +
      "gcells_per_s counts cell x query pairs; bytes_per_pass_computed is " +
      "rows x 64 x 8, computed, not measured"
  }
}
