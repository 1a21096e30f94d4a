package graft.perfbench

import java.lang.management.ManagementFactory

/** CPU time, the cost side of every operation. The guest kernel accounts
  * hypervisor steal apart from a thread's run time, so on a shared host
  * an operation's CPU time stretches far less than its wall time with
  * the neighbours' load (at 36% steal, a write's wall time doubled and
  * its CPU time grew by two fifths).
  *
  * The bounded cost counts the JVMs' Java threads, the ones that run
  * graft's and Spark's code. The JVM's own garbage collector and JIT
  * compiler threads are left out: in a `batch_sweep` pass they burned more
  * CPU than the query threads, and it varied by a tenth from run to run.
  * Process CPU, theirs included, is kept next to it in the run record. */
object Cpu {
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
  /** Clock ticks of /proc/<pid>/stat: USER_HZ, 100 on Linux. */
  private val TickMs = 10.0

  /** This JVM's CPU time so far, every thread (GC and JIT too), ms. */
  def selfMs: Double = osBean.getProcessCpuTime / 1e6

  /** Another process's CPU time so far (utime + stime), ms. */
  def pidMs(pid: Long): Double = {
    val stat = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"/proc/$pid/stat")))
    // fields after "(comm) ": state, ppid, ... utime is the 12th, stime the 13th
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    (f(11).toLong + f(12).toLong) * TickMs
  }

  /** Threads of a HotSpot JVM that are not Java threads, by name prefix. */
  private val JvmInternal = Seq("GC Thread", "G1 ", "C1 CompilerThre",
    "C2 CompilerThre", "VM Thread", "VM Periodic", "Sweeper thread")

  /** CPU time so far of another JVM's Java threads, ms, from each
    * thread's run time in /proc/<pid>/task/<tid>/schedstat (ns). */
  def pidJavaThreadsMs(pid: Long): Double = {
    val tasks = new java.io.File(s"/proc/$pid/task").listFiles()
    if (tasks == null) 0.0
    else tasks.iterator.map { t =>
      try {
        val comm = new String(java.nio.file.Files.readAllBytes(
          new java.io.File(t, "comm").toPath)).trim
        if (JvmInternal.exists(comm.startsWith)) 0.0
        else new String(java.nio.file.Files.readAllBytes(
          new java.io.File(t, "schedstat").toPath)).trim.split(" ")(0).toLong / 1e6
      } catch { case _: java.io.IOException => 0.0 } // the thread ended
    }.sum
  }

  /** CPU time so far of each live Java thread that `keep` (id, name)
    * passes, ns. GC and JIT compiler threads are not Java threads. */
  def threadCpu(keep: (Long, String) => Boolean = (_, _) => true): Map[Long, Long] =
    threads.getThreadInfo(threads.getAllThreadIds).iterator
      .filter(t => t != null && keep(t.getThreadId, t.getThreadName))
      .map(t => t.getThreadId -> threads.getThreadCpuTime(t.getThreadId))
      .filter(_._2 >= 0).toMap

  /** CPU ms the threads `keep` passes used since `before` was taken: a
    * thread started since counts whole, one that ended since is lost. */
  def threadCpuSince(before: Map[Long, Long],
      keep: (Long, String) => Boolean = (_, _) => true): Double =
    threadCpu(keep).iterator.map { case (id, ns) => ns - before.getOrElse(id, 0L) }
      .sum / 1e6
}
