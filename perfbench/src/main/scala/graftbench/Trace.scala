package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

private object Props {
  /** The local property SparkContext.setJobGroup sets. */
  val JobGroup = "spark.jobGroup.id"
}

/** One timed call into a layer. `req` groups the spans of one request (or
  * op, or batch); `parent` is the id of the enclosing span, -1 at the root. */
final case class Span(id: Long, parent: Long, req: String, layer: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one job group. */
final class JobCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuMs = 0.0
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMemBytes = 0L

  def add(o: JobCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuMs += o.cpuMs; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    peakExecMemBytes = math.max(peakExecMemBytes, o.peakExecMemBytes)
  }
}

/** Counts jobs, stages, tasks and task metrics per job group. Spans set the
  * job group to `<req>/<layer>` on their thread, so every job a layer call
  * starts is attributed to that request and layer. */
final class JobListener extends SparkListener {
  private val stageGroup = TrieMap.empty[Int, String]
  val byGroup = TrieMap.empty[String, JobCounts]

  private def counts(g: String): JobCounts =
    byGroup.getOrElseUpdate(g, new JobCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Props.JobGroup)))
      .getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    counts(g).synchronized(counts(g).jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val c = counts(stageGroup.getOrElse(info.stageId, ""))
    val m = info.taskMetrics
    c.synchronized {
      c.stages += 1
      c.tasks += info.numTasks
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuMs += m.executorCpuTime / 1e6
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMemBytes = math.max(c.peakExecMemBytes, m.peakExecutionMemory)
      }
    }
  }

  /** Sum over the groups the predicate selects. */
  def sum(p: String => Boolean): JobCounts = {
    val out = new JobCounts
    byGroup.foreach { case (g, c) => if (p(g)) out.add(c) }
    out
  }
}

/** Runs a call inside a span of a fixed request. */
trait SpanFn {
  def apply[T](layer: String)(f: => T): T
}

/** Span recorder. Spans stay in memory until [[write]]; the disabled
  * tracer runs each call bare, so untraced runs pay nothing. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  val listener: Option[JobListener] =
    if (enabled) {
      val l = new JobListener
      sc.addSparkListener(l)
      Some(l)
    } else None

  def span[T](req: String, layer: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val prevGroup = sc.getLocalProperty(Props.JobGroup)
      sc.setJobGroup(s"$req/$layer", layer)
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(-1L), req, layer,
          t0, System.nanoTime()))
        stack.set(parents)
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setLocalProperty(Props.JobGroup, prevGroup)
      }
    }

  def forReq(req: String): SpanFn = new SpanFn {
    def apply[T](layer: String)(f: => T): T = span(req, layer)(f)
  }

  /** Records a span measured elsewhere (e.g. an HTTP round trip timed on a
    * client thread). */
  def record(req: String, layer: String, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), -1L, req, layer,
      startNs, endNs))

  def all: Seq[Span] = spans.asScala.toSeq

  private val counters =
    TrieMap.empty[String, java.util.concurrent.atomic.LongAdder]
  def add(name: String, n: Long): Unit =
    if (enabled) counters.getOrElseUpdate(name,
      new java.util.concurrent.atomic.LongAdder).add(n)
  def counter(name: String): Long = counters.get(name).map(_.sum).getOrElse(0L)

  /** Jobs counted for a request, once the listener bus has drained. */
  def counts(p: String => Boolean): JobCounts = listener match {
    case Some(l) =>
      org.apache.spark.ListenerBusDrain(sc)
      l.sum(p)
    case None => new JobCounts
  }

  /** Jobs per request id (the job group up to its last '/'). */
  def jobsByReq: Map[String, Long] = listener match {
    case Some(l) =>
      org.apache.spark.ListenerBusDrain(sc)
      l.byGroup.toSeq.filter(_._1.contains('/'))
        .groupMapReduce { case (g, _) => g.substring(0, g.lastIndexOf('/')) } {
          case (_, c) => c.jobs } (_ + _)
    case None => Map.empty
  }

  /** One JSON line per span, with its self time: its duration minus what
    * its children cover (children of one span run one after another on
    * its thread). */
  def write(path: java.nio.file.Path): Unit = {
    val ss = all
    val childMs = ss.groupBy(_.parent).view.mapValues(_.map(_.ms).sum).toMap
    val lines = ss.sortBy(_.startNs).map { s =>
      graft.result.Json.write(scala.collection.immutable.ListMap(
        "id" -> s.id, "parent" -> s.parent, "req" -> s.req,
        "layer" -> s.layer, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_ms" -> (s.ms - childMs.getOrElse(s.id, 0.0))))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
