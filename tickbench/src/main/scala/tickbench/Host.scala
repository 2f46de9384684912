package tickbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Host context of a run. The machine's external CPU share over a window
  * is the CPU time taken from the run by others, over the machine's
  * capacity in that window: steal time (from /proc/stat: the hypervisor ran
  * another guest while one of ours was ready) plus the CPU of every
  * user-space process outside the benchmark's own process tree (from
  * /proc/<pid>/stat). Kernel threads are left out, since they mostly do
  * the run's own I/O. The share is about 0 on a quiet host; on a host
  * without /proc every reading is -1.
  */
object Host {
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  private val clkTck = 100.0 // USER_HZ on mainstream Linux

  private def readFirstLine(path: String): Option[String] =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().nextOption() finally src.close()
    } catch { case _: Throwable => None }

  /** Steal CPU-seconds of the whole machine since boot (all cores summed). */
  def stealSecs(): Double =
    readFirstLine("/proc/stat").map { l =>
      val f = l.trim.split("\\s+").drop(1).map(_.toDouble)
      if (f.length > 7) f(7) / clkTck else 0.0
    }.getOrElse(-1.0)

  /** (parent pid, CPU-seconds used so far: utime + stime) of process `pid`. */
  private def procStat(pid: Long): Option[(Long, Double)] =
    readFirstLine(s"/proc/$pid/stat").map { l =>
      // fields after the parenthesised command name: state is field 3 of
      // the whole line, ppid 4, utime 14 and stime 15
      val f = l.substring(l.lastIndexOf(')') + 2).split(" ")
      (f(1).toLong, (f(11).toDouble + f(12).toDouble) / clkTck)
    }

  /** CPU-seconds so far of every user-space process but `own`, by pid. */
  def othersCpuSecs(own: Set[Long]): Map[Long, Double] = {
    val s = Files.list(Paths.get("/proc"))
    val pids =
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).toSeq
      finally s.close()
    pids.filterNot(own).flatMap { p =>
      procStat(p).collect { case (pp, cpu) if p != 2 && pp != 2 => p -> cpu }
    }.toMap
  }

  /** Peak resident set (VmHWM) of process `pid`, in MiB. */
  def peakRssMb(pid: Long): Double =
    try {
      val line = Files.readAllLines(Paths.get(s"/proc/$pid/status"))
        .toArray(Array.empty[String]).find(_.startsWith("VmHWM:"))
      line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    } catch { case _: Throwable => -1.0 }

  val selfPid: Long = ProcessHandle.current().pid()

  /** This JVM, every process it started, and the process that started it. */
  def ownPids(): Set[Long] = {
    val me = ProcessHandle.current()
    (Seq(me.pid()) ++ me.parent().map[Long](_.pid()).map(Seq(_)).orElse(Nil) ++
      me.descendants().iterator().asScala.map(_.pid())).toSet
  }

  /** A window over which the external CPU share is measured. */
  final class Window {
    private val t0 = System.nanoTime()
    private val steal0 = stealSecs()
    private val others0 = try othersCpuSecs(ownPids()) catch { case _: Throwable => null }

    /** (wall seconds, external CPU share of the machine). Processes that
      * ended inside the window are not counted.
      */
    def close(): (Double, Double) = {
      val wall = (System.nanoTime() - t0) / 1e9
      val steal1 = stealSecs()
      val others1 = try othersCpuSecs(ownPids()) catch { case _: Throwable => null }
      val ext =
        if (steal0 < 0 || steal1 < 0 || others0 == null || others1 == null || wall <= 0) -1.0
        else {
          val others = others1.map { case (p, c) => c - others0.getOrElse(p, 0.0) }.sum
          math.max(0.0, (steal1 - steal0 + others) / (nproc * wall))
        }
      (wall, ext)
    }
  }

  /** External shares above this mark a window as contaminated. A quiet
    * 4-core VM reads 0.00 to 0.02; windows that ran up to a third slower
    * read 0.07 to 0.19.
    */
  val contaminatedShare = 0.05

  /** Wait until a half-second window shows the host quiet, for at most
    * `maxS` seconds. Returns the seconds waited.
    */
  def awaitQuiet(maxS: Double): Double = {
    val t0 = System.nanoTime()
    def waited = (System.nanoTime() - t0) / 1e9
    var quiet = false
    while (!quiet && waited < maxS) {
      val w = new Window
      Thread.sleep(500)
      quiet = w.close()._2 <= contaminatedShare
    }
    waited
  }

  /** Longest wait for a quiet host before a timed window. */
  val quietWaitS = 3.0
  /** A contaminated window is measured again only if the run is younger
    * than this, so that a contaminated host cannot stretch runs without
    * bound.
    */
  val redoBeforeS = 50.0

  /** Run the timed part of a workload, `body(attempt)`, in a window that
    * starts on a quiet host, if one comes within [[quietWaitS]]. A window
    * found contaminated is measured once more, when the run is young
    * enough. The attempt with the lowest external share is kept; every
    * attempt's share is recorded, and the run is marked contaminated when
    * the kept one is.
    */
  def quietWindow[A](o: Outcome, jvmStartMs: Long)(body: Int => A): A = {
    def once(attempt: Int): (A, Double, Double, Double) = {
      val waited = awaitQuiet(quietWaitS)
      val w = new Window
      val r = body(attempt)
      val (wall, ext) = w.close()
      (r, wall, ext, waited)
    }
    val first = once(0)
    val age = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    // a redo helps only if the host has become quiet again
    val tries =
      if (first._3 > contaminatedShare && age < redoBeforeS && awaitQuiet(quietWaitS) < quietWaitS)
        Seq(first, once(1))
      else Seq(first)
    val kept = tries.minBy(t => if (t._3 < 0) Double.MaxValue else t._3)
    o.detail("window_s") = kept._2
    o.detail("external_cpu_share") = kept._3
    o.detail("contaminated") = kept._3 > contaminatedShare
    o.detail("attempts_external_cpu_share") = tries.map(_._3)
    o.detail("quiet_wait_s") = tries.map(_._4)
    kept._1
  }
}
