package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed interval of an op. `parent` names the enclosing span of the
  * same op; the op's root span has none. Times are nanoTime-based. */
final case class Span(op: String, name: String, start: Long, end: Long, parent: Option[String]) {
  def seconds: Double = (end - start) / 1e9
}

object Span {

  /** Length of the union of intervals, in nanoseconds. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }

  /** Self time per span name, in seconds: each span's duration minus the
    * part of it its children cover (children clipped to the parent). */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.filter(_.parent.nonEmpty).groupBy(s => (s.op, s.parent.get))
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse((s.op, s.name), Nil)
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
          .filter { case (a, b) => b > a }
        (s.end - s.start - covered(kids)) / 1e9
      }.sum
    }
  }
}

/** Per-key task/stage/job counters, filled by [[JobListener]]. */
final class Counters {
  var jobs, stages, singleTaskStages, skippedStages, tasks, tasksFailed = 0L
  var taskRunMs, cpuNs, gcMs, inputBytes, shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; singleTaskStages += o.singleTaskStages
    skippedStages += o.skippedStages; tasks += o.tasks; tasksFailed += o.tasksFailed
    taskRunMs += o.taskRunMs; cpuNs += o.cpuNs; gcMs += o.gcMs; inputBytes += o.inputBytes
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes
  }
}

/** Attributes every job, stage and task to the job group it ran under.
  * Jobs without a group (a streaming query's micro-batches run under the
  * query's own group) fall back to the first job tag that names an op:
  * streaming queries inherit the starting thread's tags. */
final class JobListener(tagPrefix: String) extends SparkListener {
  private val byKey = mutable.HashMap.empty[String, Counters]
  private val stageKey = mutable.HashMap.empty[Int, String]
  private val jobStages = mutable.HashMap.empty[Int, Seq[Int]]
  private val submitted = mutable.HashSet.empty[Int]

  private def key(props: java.util.Properties): String = {
    val group = Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val tag = Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .flatMap(_.split(',').find(_.startsWith(tagPrefix)))
    group.filter(_.contains('|')).orElse(tag.map(t => t.stripPrefix(tagPrefix) + "|queries.build"))
      .getOrElse("?")
  }
  private def at(k: String): Counters = byKey.getOrElseUpdate(k, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val k = key(e.properties)
    at(k).jobs += 1
    jobStages(e.jobId) = e.stageIds
    e.stageIds.foreach(s => stageKey.getOrElseUpdate(s, k))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    submitted += e.stageInfo.stageId
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val c = at(stageKey.getOrElse(e.stageInfo.stageId, "?"))
    c.stages += 1
    if (e.stageInfo.numTasks == 1) c.singleTaskStages += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStages.remove(e.jobId).foreach { ss =>
      val skipped = ss.filterNot(submitted.contains)
      skipped.foreach(s => at(stageKey.getOrElse(s, "?")).skippedStages += 1)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = at(stageKey.getOrElse(e.stageId, "?"))
    c.tasks += 1
    if (!e.taskInfo.successful) c.tasksFailed += 1
    c.taskRunMs += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.diskBytesSpilled
    }
  }

  /** Counters whose key satisfies `p`, summed. */
  def sum(p: String => Boolean): Counters = synchronized {
    val out = new Counters
    byKey.foreach { case (k, c) => if (p(k)) out.add(c) }
    out
  }
}

object StreamListener {
  final case class Batch(op: String, startMs: Long, durations: Map[String, Long],
      rows: Long, stateRows: Long, stateBytes: Long)
}

/** Micro-batch progress of every streaming query, keyed by the op that
  * started it (the op id is the query's first job tag with the prefix). */
final class StreamListener(tagPrefix: String) extends StreamingQueryListener {
  import StreamListener.Batch
  // pairs epoch milliseconds (progress timestamps) with nanoTime (spans)
  private val wallRef = (System.currentTimeMillis(), System.nanoTime())
  private val opOf = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()
  private val startedMs = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Long]()
  val batches = new ConcurrentLinkedQueue[Batch]()
  /** (op, seconds from start() to the end of the first trigger). */
  val firstProgress = new ConcurrentLinkedQueue[(String, Double)]()

  private def ms(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli

  override def onQueryStarted(e: QueryStartedEvent): Unit = {
    val op = e.jobTags.find(_.startsWith(tagPrefix)).map(_.stripPrefix(tagPrefix)).getOrElse("?")
    opOf.put(e.runId, op)
    startedMs.put(e.runId, ms(e.timestamp))
  }
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val op = Option(opOf.get(p.runId)).getOrElse("?")
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = ms(p.timestamp)
    Option(startedMs.remove(p.runId)).foreach(s =>
      firstProgress.add(op -> (start + d.getOrElse("triggerExecution", 0L) - s) / 1000.0))
    batches.add(Batch(op, start, d, p.numInputRows,
      p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum))
  }
  /** Every trigger as a span under its op's build phase: the streaming
    * entries run their queries to completion while building. */
  def triggerSpans: Seq[Span] = batches.asScala.toSeq.map { b =>
    val (ms0, ns0) = wallRef
    val start = ns0 + (b.startMs - ms0) * 1000000L
    Span(b.op, "streaming.trigger", start,
      start + b.durations.getOrElse("triggerExecution", 0L) * 1000000L, Some("queries.build"))
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}

/** Span recorder. Off: records nothing and costs one branch per span. */
final class Tracer {
  @volatile var on = false
  val spans = new ConcurrentLinkedQueue[Span]()
  def span[T](op: String, name: String, parent: Option[String])(body: => T): T =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      try body finally spans.add(Span(op, name, t0, System.nanoTime(), parent))
    }
}
