package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock shared by the harness's spans and Spark's event times:
  * epoch milliseconds with sub-millisecond resolution from nanoTime. */
object Clock {
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** One timed call boundary. `req` groups the spans of one query or
  * request; `parent` is 0 for a root. Times are [[Clock]] milliseconds. */
final case class Span(id: Long, parent: Long, name: String, req: String,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory span recorder. Disabled, `span` just runs its body, so the
  * untraced run pays nothing but a branch. Parents nest per thread. */
final class Tracer(val enabled: Boolean) {
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  def span[T](name: String, req: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      val t0 = Clock.nowMs
      try body
      finally {
        current.set(parent)
        buf.add(Span(id, parent, name, req, t0, Clock.nowMs))
      }
    }

  /** Record an interval measured elsewhere (a Spark event). */
  def add(name: String, req: String, parent: Long, s: Double, e: Double): Span = {
    val span = Span(ids.incrementAndGet(), parent, name, req, s, e)
    if (enabled) buf.add(span)
    span
  }

  def spans: Seq[Span] = buf.asScala.toSeq

  /** Splits `root`'s wall time among the layers of its span tree: each
    * instant goes to the deepest span covering it, so overlapping
    * siblings (concurrent jobs) count once and a parent keeps only its
    * self time. Also returns how much span time lies outside the root's
    * window, which no layer can account for. */
  def partition(root: Span, tree: Seq[Span], layer: Span => String)
      : (Map[String, Double], Double) = {
    val byId = tree.map(s => s.id -> s).toMap
    def depth(s: Span): Int =
      if (s.id == root.id) 0 else byId.get(s.parent).map(depth).getOrElse(0) + 1
    val deep = tree.map(s => (s, depth(s)))
    val cuts = tree.flatMap(s => Seq(s.startMs, s.endMs))
      .filter(t => t >= root.startMs && t <= root.endMs).distinct.sorted
    val out = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val mid = (a + b) / 2
      val (s, _) = deep.filter { case (x, _) => x.startMs <= mid && x.endMs >= mid }
        .maxBy(_._2)
      out(layer(s)) += b - a
    }
    val outside = tree.map(s => math.max(0.0, root.startMs - s.startMs) +
      math.max(0.0, s.endMs - root.endMs)).sum
    (out.toMap, outside)
  }

  /** Write every span as one JSON array. */
  def dump(path: String): Unit = {
    val rows = spans.sortBy(_.startMs).map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "req" -> s.req,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      Json.write(rows))
  }
}

/** Scheduler and execution facts from Spark's listener bus, plus the
  * Catalyst phases of every action, kept raw and attributed to the
  * harness's operation windows after the run. */
final class LayerListener extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, startMs: Long) {
    @volatile var endMs: Long = -1L
  }
  final case class Task(stageId: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      inputBytes: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long,
      resultBytes: Long)
  final case class Action(phases: Map[String, (Long, Long)], exchanges: Int,
      scans: Int)

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stageJob = new ConcurrentHashMap[Int, Int]()
  val stagesDone = new ConcurrentLinkedQueue[Int]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val actions = new ConcurrentLinkedQueue[Action]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, Job(e.jobId, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stagesDone.add(e.stageInfo.stageId)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.stageId, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.resultSize))
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (p, s) =>
      p -> (s.startTimeMs, s.endTimeMs) }
    val nodes = try LayerListener.nodes(qe.executedPlan)
      catch { case _: Throwable => Nil }
    actions.add(Action(phases,
      nodes.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      },
      nodes.count(n => n.isInstanceOf[BatchScanExec] ||
        n.getClass.getSimpleName == "FileSourceScanExec")))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  /** Layer totals over the jobs and actions that started inside any of
    * `windows` (Clock milliseconds). Job wall is the union of job
    * intervals, so concurrent jobs count once. */
  def totals(windows: Seq[(Double, Double)]): Map[String, Double] = {
    def inside(t: Double) = windows.exists { case (s, e) => t >= s && t <= e }
    val js = jobs.values.asScala.filter(j => inside(j.startMs.toDouble)).toSeq
    val jobIds = js.map(_.id).toSet
    val ts = tasks.asScala.filter(t =>
      jobIds.contains(stageJob.getOrDefault(t.stageId, -1))).toSeq
    val stages = stagesDone.asScala.count(s =>
      jobIds.contains(stageJob.getOrDefault(s, -1)))
    val acts = actions.asScala.filter(a => a.phases.values.exists {
      case (s, _) => inside(s.toDouble) }).toSeq
    def phase(p: String) = acts.flatMap(_.phases.get(p))
      .map { case (s, e) => (e - s).toDouble }.sum
    val jobWall = Stats.unionLength(js.map(j =>
      (j.startMs.toDouble, (if (j.endMs < 0) j.startMs else j.endMs).toDouble)))
    val taskMs = ts.map(_.runMs).sum.toDouble
    Map(
      "sched.jobs" -> js.size.toDouble,
      "sched.stages" -> stages.toDouble,
      "sched.tasks" -> ts.size.toDouble,
      "sched.job_wall_ms" -> jobWall,
      "catalyst.analysis_ms" -> phase("analysis"),
      "catalyst.optimization_ms" -> phase("optimization"),
      "catalyst.planning_ms" -> phase("planning"),
      "exec.task_ms" -> taskMs,
      "exec.cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
      "exec.gc_ms" -> ts.map(_.gcMs).sum.toDouble,
      "exec.input_bytes" -> ts.map(_.inputBytes).sum.toDouble,
      "exec.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "exec.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "exec.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "plan.exchanges" -> acts.map(_.exchanges).sum.toDouble,
      "plan.scans" -> acts.map(_.scans).sum.toDouble,
      "driver.result_bytes" -> ts.map(_.resultBytes).sum.toDouble)
  }

  /** Job and Catalyst-phase intervals starting inside [s, e], as
    * (layer name, start, end) — the spans a window's trace gains. */
  def intervals(s: Double, e: Double): Seq[(String, Double, Double)] = {
    def in(t: Double) = t >= s && t <= e
    val js = jobs.values.asScala.toSeq.filter(j => in(j.startMs.toDouble))
      .map(j => ("sched.job", j.startMs.toDouble,
        (if (j.endMs < 0) j.startMs else j.endMs).toDouble))
    val ps = actions.asScala.toSeq.flatMap(_.phases.toSeq).collect {
      case (p, (ps0, pe)) if in(ps0.toDouble) =>
        ("catalyst." + p, ps0.toDouble, pe.toDouble)
    }
    js ++ ps
  }
}

object LayerListener {
  /** Every physical node, through adaptive wrappers, query stages and
    * subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Register a fresh listener on the session's bus. */
  def install(spark: org.apache.spark.sql.SparkSession): LayerListener = {
    val l = new LayerListener
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }
}
