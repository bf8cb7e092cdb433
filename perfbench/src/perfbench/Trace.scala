package perfbench

import java.io.PrintWriter
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are `System.nanoTime` based. A parent
  * of -1 means "resolve by interval containment when the run ends" (spans
  * reported by Spark's asynchronous listeners); 0 means root. */
final case class Span(id: Long, parent: Long, name: String, key: String,
    start: Long, end: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durMs: Double = (end - start) / 1e6
}

/** In-memory span recorder. Disabled tracers run the body and record
  * nothing, so untraced runs pay one branch per call. */
final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val cur = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  /** Local property carrying the open span id into Spark jobs, so the
    * job listener can parent its job spans. */
  val SpanProp = "perfbench.span"
  @volatile var sc: Option[SparkContext] = None
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def fromEpochMs(ms: Long): Long = ms * 1000000L + nanoOffset
  def newId(): Long = ids.incrementAndGet()

  /** Time `body` as a span; the parent defaults to this thread's open span
    * (0 when none). Pass -1 for a span opened on a thread that does not
    * know its cause, or an id allocated elsewhere with [[newId]]. */
  def span[T](name: String, key: String, parentId: Long = Long.MinValue)(body: => T): T =
    if (!on) body
    else {
      val id = newId()
      val outer: Long = cur.get
      val parent = if (parentId == Long.MinValue) outer else parentId
      cur.set(id)
      sc.foreach(_.setLocalProperty(SpanProp, id.toString))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, key, t0, System.nanoTime()))
        cur.set(outer)
        sc.foreach(_.setLocalProperty(SpanProp, if (outer == 0) null else outer.toString))
      }
    }

  def add(s: Span): Unit = if (on) spans.add(s)

  /** Spans with parents resolved: a -1 parent becomes the shortest
    * enclosing span other than a job (Catalyst runs before its jobs).
    * Listener spans carry millisecond timestamps, hence the 1 ms slack. */
  def resolved: Seq[Span] = {
    val all = spans.asScala.toVector
    val hosts = all.filter(s => s.parent != -1 && s.name != "exec.job").sortBy(s => s.end - s.start)
    val slack = 1000000L
    all.map { s =>
      if (s.parent != -1) s
      else s.copy(parent = hosts.find(h => h.start - slack <= s.start && s.end <= h.end + slack)
        .map(_.id).getOrElse(0L))
    }
  }

  /** Per-layer self time in ms: each span's duration minus the union of its
    * children's intervals clipped to it. */
  def selfMs(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var hi = Long.MinValue
        iv.foreach { case (a, b) =>
          val from = math.max(a, hi)
          if (b > from) covered += b - from
          hi = math.max(hi, b)
        }
        (s.end - s.start - covered) / 1e6
      }.sum
    }
  }

  /** One JSON object per line; times in ms relative to `origin`. */
  def write(path: String, spans: Seq[Span], origin: Long): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try spans.sortBy(_.start).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""key":${Json.str(s.key)},"start_ms":${Json.num((s.start - origin) / 1e6)},""" +
        s""""end_ms":${Json.num((s.end - origin) / 1e6)}}""")
    } finally w.close()
  }
}

/** Spark task/stage/job counters for the traced section, plus one
  * `exec.job` span per job parented through [[Tracer.SpanProp]]. */
final class ExecListener(tracer: Tracer) extends SparkListener {
  private val MarkerProp = "perfbench.marker"
  private case class Job(parent: Long, start: Long, marker: Option[String])
  private val jobs = TrieMap.empty[Int, Job]
  private val stageJob = TrieMap.empty[Int, Int]
  private val markers = TrieMap.empty[String, Boolean]

  val taskRunMs, taskCpuNs, gcMs, tasks, stages, shuffleRead, shuffleWrite,
      spill, scanTasks, inputBytes = new LongAdder
  /** Longest task (ms) per parent span id. */
  val longestTask = TrieMap.empty[Long, Long]
  /** Number of jobs started under each parent span id. */
  val jobsUnder = TrieMap.empty[Long, Int]

  private def marker(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(MarkerProp)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = e.properties
    val parent = Option(props).flatMap(p => Option(p.getProperty(tracer.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    jobs.put(e.jobId, Job(parent, e.time, marker(props)))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    if (marker(props).isEmpty)
      jobsUnder.updateWith(parent)(n => Some(n.getOrElse(0) + 1))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.remove(e.jobId).foreach { j =>
      j.marker match {
        case Some(m) => markers.put(m, true)
        case None => tracer.add(Span(tracer.newId(), j.parent, "exec.job",
          s"job:${e.jobId}", tracer.fromEpochMs(j.start), tracer.fromEpochMs(e.time)))
      }
    }

  private def isMarker(stageId: Int): Boolean =
    stageJob.get(stageId).flatMap(jobs.get).exists(_.marker.isDefined)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (!isMarker(e.stageInfo.stageId)) stages.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null || isMarker(e.stageId)) return
    tasks.increment()
    taskRunMs.add(m.executorRunTime)
    taskCpuNs.add(m.executorCpuTime)
    gcMs.add(m.jvmGCTime)
    shuffleRead.add(m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
    shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
    spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    if (m.inputMetrics.bytesRead > 0) {
      scanTasks.increment(); inputBytes.add(m.inputMetrics.bytesRead)
    }
    val parent = stageJob.get(e.stageId).flatMap(jobs.get).map(_.parent).getOrElse(0L)
    longestTask.updateWith(parent)(v => Some(math.max(v.getOrElse(0L), e.taskInfo.duration)))
  }

  /** Run a one-task job tagged as a marker and wait until this listener
    * has seen it end: every earlier event has then been delivered. */
  def drain(sc: SparkContext): Unit = {
    val tag = s"m${System.nanoTime()}"
    sc.setLocalProperty(MarkerProp, tag)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(MarkerProp, null)
    val deadline = System.currentTimeMillis() + 10000
    while (!markers.contains(tag) && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }
}

/** Catalyst phase times of every successful query execution, read from
  * `qe.tracker.phases`; each phase is also recorded as a span whose parent
  * is resolved by interval when the run ends. */
final class CatalystListener(tracer: Tracer) extends QueryExecutionListener {
  private val MarkerCol = "perfbench_marker_"
  private val markers = TrieMap.empty[String, Boolean]
  val phaseMs = TrieMap.empty[String, Long]
  val executions = new LongAdder

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val tree = qe.logical.treeString
    val at = tree.indexOf(MarkerCol)
    if (at >= 0) {
      markers.put(tree.substring(at).takeWhile(c => c.isLetterOrDigit || c == '_'), true)
      return
    }
    executions.increment()
    qe.tracker.phases.foreach { case (phase, p) =>
      phaseMs.updateWith(phase)(v => Some(v.getOrElse(0L) + (p.endTimeMs - p.startTimeMs)))
      tracer.add(Span(tracer.newId(), -1, s"catalyst.$phase", funcName,
        tracer.fromEpochMs(p.startTimeMs), tracer.fromEpochMs(p.endTimeMs)))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Run a tagged no-op write and wait until this listener has seen it. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    val tag = s"$MarkerCol${System.nanoTime()}"
    spark.range(1).toDF(tag).write.format("noop").mode("overwrite").save()
    val deadline = System.currentTimeMillis() + 10000
    while (!markers.contains(tag) && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }
}
