package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Inputs and ground truth shared by the two serving workloads. */
object Serve {
  val K = 10
  val Threshold = 0.1
  /** Tile ids are `copy << IdShift | base id`, so tiles never collide. */
  val IdShift = 32

  /** The committed collection tiled `copies` times with disjoint ids:
    * (id, embedding, user_id, ts), embeddings L2-normalized. */
  def tiled(spark: SparkSession, dataDir: String, copies: Int): DataFrame =
    graft.operators.Collection.load(spark, dataDir)
      .crossJoin(spark.range(copies).select(col("id").as("copy")))
      .select(
        (shiftleft(col("copy"), IdShift) + col("id")).as("id"),
        col("embedding"), col("user_id"), col("ts"))

  /** Base rows of the committed collection, id → normalized embedding. */
  def baseRows(spark: SparkSession, dataDir: String): Map[Long, Array[Double]] =
    graft.operators.Collection.load(spark, dataDir)
      .select("id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap

  def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** The reference's query generator: a random stored vector nudged by
    * noise, normalize(0.9·base + 0.1·noise), noise a random unit vector. */
  def perturbed(base: Array[Double], rnd: scala.util.Random): Array[Double] = {
    val noise = normalize(Array.fill(base.length)(rnd.nextGaussian()))
    normalize(base.indices.map(i => 0.9 * base(i) + 0.1 * noise(i)).toArray)
  }

  /** `n` seeded queries, each around a stored vector drawn at random.
    * The workloads draw one per read, so reads do not repeat a query. */
  def queries(base: Map[Long, Array[Double]], rnd: scala.util.Random,
      n: Int): Array[Array[Double]] = {
    val ids = base.keys.toArray.sorted
    Array.fill(n)(perturbed(base(ids(rnd.nextInt(ids.length))), rnd))
  }

  /** Rows of a collection that carry one embedding, ids ascending: they
    * score alike on every query. */
  final case class Group(emb: Array[Double], ids: Array[Long])

  /** `points` grouped by embedding. */
  def groups(points: DataFrame): Array[Group] =
    points.groupBy("embedding").agg(sort_array(collect_list("id")).as("ids"))
      .collect()
      .map(r => Group(r.getSeq[Double](0).toArray, r.getSeq[Long](1).toArray))

  private def dot(e: Array[Double], q: Array[Double]): Double = {
    val n = math.min(e.length, q.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += e(i) * q(i); i += 1 }
    s
  }

  /** Spark's `round(x, 6)` on a double: half-up on its decimal form. */
  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  private def rankOrder(a: (Long, Double), b: (Long, Double)): Boolean =
    a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)

  /** Exact top-k of `q` over `gs` by a scan on the driver, scored as
    * knnBatch scores (round(Σ e(i)·q(i), 6), summed in index order like
    * `DotProductD`), filtered by its threshold and ranked in its order
    * (score desc, id asc). Only groups whose unrounded score lies within
    * 1e-6 of the k-th row's are rounded: rounding moves a score by at
    * most 0.5e-6, so no other row can reach the top k. */
  def scan(gs: Array[Group], q: Array[Double]): Seq[(Long, Double)] = {
    val raw = gs.map(g => dot(g.emb, q))
    // the k best groups, best first
    val top = Array.fill(K)(-1)
    raw.indices.foreach { i =>
      if (top(K - 1) < 0 || raw(i) > raw(top(K - 1))) {
        var j = K - 1
        while (j > 0 && (top(j - 1) < 0 || raw(i) > raw(top(j - 1)))) { top(j) = top(j - 1); j -= 1 }
        top(j) = i
      }
    }
    var rows = 0
    var cut = Double.NegativeInfinity
    top.takeWhile(_ >= 0).foreach { i =>
      if (rows < K) { rows += gs(i).ids.length; if (rows >= K) cut = raw(i) - 1e-6 }
    }
    raw.indices.filter(i => raw(i) >= cut).flatMap { i =>
      val sc = round6(raw(i))
      if (sc >= Threshold) gs(i).ids.toSeq.map(id => (id, sc)) else Nil
    }.sortWith(rankOrder).take(K)
  }

  /** Exact top-k of each (query id, vector) over `gs` through the
    * oracle-graded [[graft.operators.Search.knnBatch]]. knnBatch runs over
    * one row per group, under its smallest id, and each hit is expanded
    * to the group's ids in knnBatch's order: a row whose embedding is not
    * among the k best has k rows ranked ahead of it, so the expansion is
    * exact. */
  def knnTruth(spark: SparkSession, gs: Array[Group],
      qs: Seq[(Long, Array[Double])]): Map[Long, Seq[(Long, Double)]] = {
    import spark.implicits._
    val members = gs.map(g => g.ids.head -> g.ids).toMap
    // spread over the cores: a local relation would score in one task;
    // knnBatch carries user_id through, and the answers do not read it
    val reps = spark.sparkContext.parallelize(gs.map(g => (g.ids.head, g.emb.toSeq, 0)).toSeq,
      spark.sparkContext.defaultParallelism).toDF("id", "embedding", "user_id")
    val qdf = qs.map { case (i, q) => (i, q.toSeq) }.toDF("query_id", "qemb")
    val got = graft.operators.Search.knnBatch(reps, qdf, K, Threshold)
      .select("query_id", "id", "score").collect()
      .groupBy(_.getLong(0))
    qs.map { case (i, _) =>
      i -> got.getOrElse(i, Array.empty).toSeq
        .flatMap(x => members(x.getLong(1)).toSeq.map(id => (id, x.getDouble(2))))
        .sortWith(rankOrder).take(K)
    }.toMap
  }

  /** Expected answers for each (query id, vector) over `points`: [[scan]]
    * on every query, on all cores, graded against [[knnTruth]] on
    * `graded` queries spread over the list. A query on which the two
    * disagree fails `r`. */
  def truth(spark: SparkSession, points: DataFrame, qs: Seq[(Long, Array[Double])],
      r: Result, graded: Int = 64): Map[Long, Seq[(Long, Double)]] =
    if (qs.isEmpty) Map.empty
    else {
      val gs = groups(points)
      val q = qs.toArray
      val out = new Array[Seq[(Long, Double)]](q.length)
      java.util.stream.IntStream.range(0, q.length).parallel()
        .forEach(i => out(i) = scan(gs, q(i)._2))
      val step = math.max(1, q.length / graded)
      val sample = q.indices.by(step).take(graded).map(q)
      val oracle = knnTruth(spark, gs, sample)
      sample.foreach { case (i, _) =>
        val mine = out(q.indexWhere(_._1 == i))
        Check.topK(oracle(i), mine).foreach(why =>
          r.fail(s"truth scan disagrees with knnBatch on query $i: $why"))
      }
      q.indices.map(i => q(i)._1 -> out(i)).toMap
    }

  /** Peak resident set of a process, MB, from /proc (0 when gone). */
  def hwmMb(pid: Long): Double = try {
    val src = scala.io.Source.fromFile(s"/proc/$pid/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  } catch { case _: Throwable => 0.0 }

  /** A port free right now on the loopback interface. */
  def freePort(): Int = {
    val s = new java.net.ServerSocket(0, 1, java.net.InetAddress.getLoopbackAddress)
    try s.getLocalPort finally s.close()
  }

  /** Latency summary of one run's reads into the result. */
  def readMetrics(r: Result, latMs: Seq[Double], windowS: Double,
      completed: Long): Unit = if (latMs.nonEmpty) {
    r.named("read_p50_ms") = (Stats.median(latMs), "ms")
    r.named("read_p90_ms") = (Stats.quantile(latMs, 0.9), "ms")
    r.named("read_p99_ms") = (Stats.quantile(latMs, 0.99), "ms")
    r.named("read_qps") = (completed / windowS, "1/s")
    r.record("reads") = latMs.size
  }

  /** Query draw of one run into the record: the queries drawn, and the
    * share of reads that repeated an earlier read's query. */
  def queryRecord(r: Result, drawn: Int, used: Seq[Int]): Unit = {
    r.record("queries_drawn") = drawn
    r.record("query_repeat_rate") =
      if (used.isEmpty) 0.0 else 1.0 - used.distinct.size.toDouble / used.size
  }
}
