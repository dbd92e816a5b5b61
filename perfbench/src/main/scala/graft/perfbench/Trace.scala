package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval: `parent` is the id of the enclosing span on the
  * same thread, or of the root span for intervals timed on other threads
  * (-1 at the root); spans of one operation share `trace`. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, trace: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder around the benchmark's calls into each layer.
  * Disabled, `span` only evaluates its body. Spans are written out once,
  * when the run ends. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer[Span]()
  private val nextId = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  @volatile var traceId: Int = 0
  /** The outermost open span: the parent of spans recorded from other
    * threads (pipeline stages run on the lane threads). */
  @volatile var root: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(-1)
      if (parent == -1) root = id
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        record(Span(id, name, t0, t1, parent, traceId))
      }
    }

  /** Record an interval measured on another thread, under the root span. */
  def interval(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) record(Span(nextId.getAndIncrement(), name, startNs, endNs, root, traceId))

  private def record(s: Span): Unit = synchronized { spans += s }

  def all: Seq[Span] = synchronized { spans.toList }

  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      out.println(Json.render(Map("id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "parent" -> s.parent, "trace" -> s.trace)))
    } finally out.close()
  }
}

/** Per-group accumulation of Spark task metrics. */
final class RtAcc {
  var jobs = 0
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  val taskMs = ArrayBuffer[Double]()
}

/** The runtime layer, observed from outside: a SparkListener that counts
  * jobs and sums task metrics, overall and per job description (the
  * description names the pipeline stage or query that submitted the job). */
final class RuntimeListener extends SparkListener {
  private val groups = new ConcurrentHashMap[String, RtAcc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val jobsStarted = new AtomicInteger(0)

  private def acc(g: String): RtAcc = groups.computeIfAbsent(g, _ => new RtAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet()
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    e.stageIds.foreach(s => stageGroup.put(s, g))
    Seq("", g).distinct.foreach { k => val a = acc(k); a.synchronized(a.jobs += 1) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val g = Option(stageGroup.get(e.stageId)).getOrElse("")
      Seq("", g).distinct.foreach { k =>
        val a = acc(k)
        a.synchronized {
          a.tasks += 1
          a.cpuNs += m.executorCpuTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.taskMs += e.taskInfo.duration.toDouble
        }
      }
    }
  }

  def reset(): Unit = { groups.clear(); stageGroup.clear() }
  def group(g: String): RtAcc = Option(groups.get(g)).getOrElse(new RtAcc)
}

object RuntimeListener {
  /** Run `body` with `desc` as the Spark job description of this thread. */
  def described[T](sc: SparkContext, desc: String)(body: => T): T = {
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }

  /** The `rt.*` metrics of one accumulation over a window of `wallS` that
    * held `ops` operations; counts and times are per operation. */
  def metrics(a: RtAcc, wallS: Double, gcS: Double, ops: Int): Seq[(String, Double, String)] = {
    val per = 1.0 / math.max(1, ops)
    val mb = 1048576.0
    def pct(p: Double) = if (a.taskMs.isEmpty) 0.0 else Stats.percentile(a.taskMs.toSeq, p)
    Seq(
      ("rt.jobs", a.jobs * per, "count"),
      ("rt.tasks", a.tasks * per, "count"),
      ("rt.executor_cpu_s", a.cpuNs / 1e9 * per, "s"),
      ("rt.cpu_util", if (wallS > 0) a.cpuNs / 1e9 / (wallS * Session.cpus) else 0.0, "ratio"),
      ("rt.gc_s", gcS * per, "s"),
      ("rt.shuffle_write_mb", a.shuffleWrite / mb * per, "MB"),
      ("rt.shuffle_read_mb", a.shuffleRead / mb * per, "MB"),
      ("rt.spill_mb", a.spill / mb * per, "MB"),
      ("rt.task_p50_ms", pct(50), "ms"),
      ("rt.task_p99_ms", pct(99), "ms"))
  }
}
