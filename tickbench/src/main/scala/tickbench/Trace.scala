package tickbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. Spans of one request share
  * `req`; `parent` is the id of the span that caused this one (0 = root).
  */
final case class Span(id: Long, parent: Long, req: String, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder: spans are kept in memory while the run goes
  * and written out once, when it ends. A disabled tracer still runs the
  * body and costs one branch.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong
  private val buf = new ConcurrentLinkedQueue[Span]

  /** Time `body` as span `name`; the body gets the new span's id so it
    * can parent its own children. With `on` false nothing is recorded.
    */
  def span[A](name: String, req: String, parent: Long = 0L,
      on: Boolean = true)(body: Long => A): A =
    if (!enabled || !on) body(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try body(id)
      finally buf.add(Span(id, parent, req, name, t0, System.nanoTime()))
    }

  /** Record a span whose ends were taken elsewhere (an async completion). */
  def record(name: String, req: String, startNs: Long, endNs: Long,
      on: Boolean = true): Unit =
    if (enabled && on) buf.add(Span(ids.incrementAndGet(), 0L, req, name, startNs, endNs))

  def spans: Seq[Span] = buf.asScala.toSeq

  def byName(name: String): Seq[Span] = spans.filter(_.name == name)

  /** Self time of every span named `name`, in ns: its length minus the
    * union of its children inside it.
    */
  def selfTimes(name: String): Seq[Long] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.filter(_.name == name).map(s =>
      Stats.selfTime(s.startNs, s.endNs,
        kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))))
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.startNs).map(s =>
      s"${s.id}\t${s.parent}\t${s.req}\t${s.name}\t${s.startNs}\t${s.endNs}")
    java.nio.file.Files.write(path,
      ("id\tparent\treq\tname\tstart_ns\tend_ns" +: lines).asJava)
  }
}

/** Per-job-group Spark counters, from one listener. Every observed action
  * runs under its own job group. Events reach a listener asynchronously,
  * so [[LayerListener.await]] waits until the group's jobs have all ended
  * and no event has arrived for a short quiet period before counts are read.
  */
final class LayerListener extends SparkListener {
  final class Counts {
    val jobsStarted = new LongAdder
    val jobsEnded = new LongAdder
    val tasks = new LongAdder
    val shuffleWriteBytes = new LongAdder
    val spillBytes = new LongAdder
    val inputRecords = new LongAdder
    def jobs: Long = jobsStarted.sum
  }
  private val groups = TrieMap.empty[String, Counts]
  private val stageGroup = TrieMap.empty[Int, String]
  private val jobGroup = TrieMap.empty[Int, String]
  @volatile private var lastEventNs = System.nanoTime()

  def counts(group: String): Counts = groups.getOrElseUpdate(group, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup.put(e.jobId, g)
    e.stageIds.foreach(s => stageGroup.put(s, g))
    counts(g).jobsStarted.increment()
    lastEventNs = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    counts(jobGroup.getOrElse(e.jobId, "")).jobsEnded.increment()
    lastEventNs = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counts(stageGroup.getOrElse(e.stageId, ""))
    c.tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      c.shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.inputRecords.add(m.inputMetrics.recordsRead)
    }
    lastEventNs = System.nanoTime()
  }

  /** Counts of `group` once its events have been delivered (bounded wait). */
  def await(group: String, quietMs: Long = 30, timeoutMs: Long = 3000): Counts = {
    val c = counts(group)
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def settled = c.jobsStarted.sum == c.jobsEnded.sum &&
      System.nanoTime() - lastEventNs > quietMs * 1000000L
    while (!settled && System.nanoTime() < deadline) Thread.sleep(2)
    c
  }
}

object LayerListener {
  def install(sc: SparkContext): LayerListener = {
    val l = new LayerListener
    sc.addSparkListener(l)
    l
  }

  private val groupSeq = new AtomicLong

  /** Run `body` under a fresh job group; returns the result and the group. */
  def inGroup[A](sc: SparkContext, prefix: String)(body: => A): (A, String) = {
    val g = s"$prefix-${groupSeq.incrementAndGet()}"
    sc.setJobGroup(g, g, interruptOnCancel = false)
    try (body, g) finally sc.clearJobGroup()
  }
}
