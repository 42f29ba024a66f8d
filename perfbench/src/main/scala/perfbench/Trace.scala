package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable

/** One recorded span: a timed call into one layer's public function.
  * `op` ties the spans of one session operation together; `parent` is
  * the enclosing span (0 = none). Times are wall-clock nanoseconds. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans recorded from the benchmark side, around the calls into each
  * layer, kept in memory and written out once at the end. Disabled,
  * `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op = 0

  /** A wall clock shared with Spark's listener events (ms since epoch),
    * anchored once so span times stay nanosecond-precise. */
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def toEpochMs(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** self time per span id: duration minus the union of its children. */
  def selfNs: Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.iterator.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(k => k.endNs - k.startNs).sum
      s.id -> math.max(0L, (s.endNs - s.startNs) - covered)
    }.toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val self = selfNs
    val sb = new StringBuilder
    spans.sortBy(_.id).foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""")
        .append(f""""start_ms":${toEpochMs(s.startNs)}%.3f,"end_ms":${toEpochMs(s.endNs)}%.3f,""")
        .append(f""""dur_ms":${s.ms}%.3f,"self_ms":${self(s.id) / 1e6}%.3f}""").append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.result())
  }

  def named(name: String): Seq[Span] = spans.iterator.filter(_.name == name).toSeq
}

/** Spark work counted at the scheduler: one record per job start and
  * per finished task, stamped with Spark's own clock so they can be
  * attributed to the span that was open when they ran. */
final case class Task(launchMs: Long, runMs: Long, recordsRead: Long, shuffleWriteBytes: Long)

final class SparkCounters extends SparkListener {
  val jobStarts: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  val tasks: mutable.ArrayBuffer[Task] = mutable.ArrayBuffer.empty

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobStarts += e.time }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.taskInfo.launchTime, m.executorRunTime, m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten)
  }

  /** Wait until the listener bus has delivered everything posted so far
    * (no new event for 300 ms, at most 5 s). */
  def settle(): Unit = {
    var last = -1
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() < deadline && { val n = synchronized(jobStarts.size + tasks.size); val changed = n != last; last = n; changed })
      Thread.sleep(300)
  }

  /** jobs started and tasks launched inside [fromMs, toMs]. */
  def jobsIn(fromMs: Double, toMs: Double): Int = synchronized(jobStarts.count(t => t >= fromMs && t <= toMs))
  def tasksIn(fromMs: Double, toMs: Double): Seq[Task] =
    synchronized(tasks.filter(t => t.launchMs >= fromMs && t.launchMs <= toMs).toSeq)
}

object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  /** CPU time each live thread of the process has run so far, ns, by
    * thread id: the kernel's per-thread run time (schedstat), which is
    * exact to the nanosecond where the process-wide figure counts 10 ms
    * ticks, and which on a VM leaves out time stolen by the host. The
    * JIT compiler threads are left out: what they do after the warm-up
    * varies from run to run and is no op's work. */
  def threadCpuNs(): Map[String, Long] = {
    val tasks = Option(new java.io.File("/proc/self/task").list()).getOrElse(Array.empty[String])
    tasks.iterator.filterNot(jit).flatMap { t =>
      try Some(t -> read(t, "schedstat").takeWhile(_ != ' ').toLong)
      catch { case _: java.io.IOException | _: NumberFormatException => None } // the thread ended
    }.toMap
  }

  private def read(tid: String, file: String): String =
    java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/self/task", tid, file))

  private val jitThreads = scala.collection.mutable.Map.empty[String, Boolean]
  private def jit(tid: String): Boolean = jitThreads.getOrElseUpdate(tid,
    try read(tid, "comm").contains("CompilerThre") catch { case _: java.io.IOException => false })

  /** CPU time the process spent between two [[threadCpuNs]] readings, ns:
    * threads that started in between count from zero; a thread that ended
    * in between drops out, so the figure never runs backwards. */
  def cpuBetween(before: Map[String, Long], after: Map[String, Long]): Long =
    after.iterator.map { case (t, ns) => ns - before.getOrElse(t, 0L) }.sum

  /** (collections, seconds) summed over every collector so far. */
  def gc(): (Long, Double) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(b => math.max(0L, b.getCollectionCount)).sum,
      beans.map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0)
  }

  /** heap in use after a full collection, MB: the lesser of two tries,
    * each after a pause that lets Spark's cleaner drop what the previous
    * collection released. */
  def liveHeapMb(): Double =
    (1 to 2).map { _ =>
      System.gc()
      Thread.sleep(200)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
}

/** On-disk view of a store directory: the parquet files of each table,
  * by bucket. Listing it before and after a write shows which buckets
  * the write replaced and how many bytes it put down, without touching
  * the store's code. */
object StoreDisk {
  /** table -> (bucket dir or "" -> (file name -> bytes)). */
  type Snapshot = Map[String, Map[String, Map[String, Long]]]

  val tables: Seq[String] = Seq("bibs", "auths", "bib_history", "auth_history")

  def snapshot(base: String): Snapshot = tables.map { t =>
    val dir = new java.io.File(base, t)
    def files(d: java.io.File): Map[String, Long] =
      Option(d.listFiles()).toSeq.flatten.filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.length()).toMap
    val buckets = Option(dir.listFiles()).toSeq.flatten.filter(_.isDirectory)
      .map(d => d.getName -> files(d)).toMap
    t -> (buckets + ("" -> files(dir)))
  }.toMap

  def bytes(s: Snapshot, table: String): Long = s(table).valuesIterator.flatMap(_.valuesIterator).sum

  /** (live buckets rewritten, live bytes written, history bytes written). */
  def diff(before: Snapshot, after: Snapshot): (Int, Long, Long) = {
    def changed(t: String): Seq[Map[String, Long]] =
      after(t).toSeq.collect { case (b, fs) if before(t).get(b).forall(_ != fs) => fs }
    def newBytes(t: String): Long = after(t).iterator.map { case (b, fs) =>
      val old = before(t).getOrElse(b, Map.empty)
      fs.iterator.collect { case (n, len) if !old.contains(n) => len }.sum
    }.sum
    val live = Seq("bibs", "auths")
    (live.map(changed(_).size).sum, live.map(newBytes).sum,
      Seq("bib_history", "auth_history").map(newBytes).sum)
  }
}
