package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** A timed region around one call into a layer of the program. */
final case class Span(id: Int, name: String, parent: Int, startMs: Long, startNs: Long) {
  var endMs: Long = 0L
  var endNs: Long = 0L
  def seconds: Double = (endNs - startNs) / 1e9
  def layer: String = name.takeWhile(_ != '.')
}

/** Engine counters of the Spark jobs run under one job group. */
final class Counters {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs, shuffleWrite, inputBytes, inputRecords, spillBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** max / median task duration of each completed stage */
  val stageSkew = mutable.ArrayBuffer.empty[Double]

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; inputBytes += o.inputBytes
    inputRecords += o.inputRecords; spillBytes += o.spillBytes
    jobIntervals ++= o.jobIntervals; stageSkew ++= o.stageSkew
  }
}

/** Records Spark job, stage and task metrics keyed by the job group they ran
  * under. Every span sets its own job group, and a streaming query runs its
  * batches under its run id, so each counter lands on the span that caused it.
  */
final class LayerListener extends SparkListener {
  private val byGroup = mutable.HashMap.empty[String, Counters]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, (String, Long)]
  private val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  private def of(group: String): Counters = byGroup.getOrElseUpdate(group, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    jobGroup(e.jobId) = (g, e.time)
    e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
    of(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, t0) => of(g).jobIntervals += ((t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    val c = of(stageGroup.getOrElse(id, "none"))
    c.stages += 1
    stageTasks.remove(id).filter(_.nonEmpty).foreach { ds =>
      val sorted = ds.sorted
      val median = sorted(sorted.size / 2).max(1L)
      c.stageSkew += sorted.last.toDouble / median
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageGroup.getOrElse(e.stageId, "none"))
    c.tasks += 1
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def counters(group: String): Option[Counters] = synchronized(byGroup.get(group))
}

/** `StreamingQueryProgress.durationMs` of every micro-batch, by run id. */
final class ProgressListener extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer.empty[(String, Long, Map[String, Long])]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    import scala.jdk.CollectionConverters._
    if (p.numInputRows > 0)
      progress += ((p.runId.toString, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
  def snapshot: Seq[(String, Long, Map[String, Long])] = synchronized(progress.toSeq)
}

/** Spans kept in memory and written out as JSON when the run ends; with
  * tracing off, [[span]] only runs its body.
  */
final class Trace(spark: SparkSession, val enabled: Boolean, val runId: String) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val streamRuns = mutable.HashMap.empty[String, Int]
  val listener = new LayerListener
  val progress = new ProgressListener
  private var attached = false

  /** Listener attachment, separate from [[enabled]] so a traced run can time
    * some units with the listeners off to measure their overhead.
    */
  def attach(on: Boolean): Unit = if (enabled && on != attached) {
    if (on) { sc.addSparkListener(listener); spark.streams.addListener(progress) }
    else { drain(); sc.removeSparkListener(listener); spark.streams.removeListener(progress) }
    attached = on
  }

  private var quietDepth = 0

  /** Runs `body` without recording spans (warm-up and checks). */
  def quiet[T](body: => T): T = {
    quietDepth += 1
    try body finally quietDepth -= 1
  }

  def span[T](name: String)(body: => T): T = if (!enabled || quietDepth > 0) body else {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setJobGroup(s"span:${s.id}", name)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"span:${p.id}", p.name)
        case None    => sc.clearJobGroup()
      }
    }
  }

  /** A streaming query runs its jobs under its run id: charge them to the
    * innermost open span.
    */
  def bindStream(queryRunId: java.util.UUID): Unit =
    if (enabled) stack.headOption.foreach(s => streamRuns(queryRunId.toString) = s.id)

  def drain(): Unit = org.apache.spark.BenchBridge.drainListenerBus(sc)

  /** Counters charged to one span itself (not its children). */
  def selfCounters(s: Span): Counters = {
    val c = new Counters
    listener.counters(s"span:${s.id}").foreach(c.add)
    streamRuns.collect { case (run, id) if id == s.id => run }
      .foreach(run => listener.counters(run).foreach(c.add))
    c
  }

  /** A span and every span nested in it. */
  def subtree(root: Span): Seq[Span] = {
    val ids = mutable.HashSet(root.id)
    spans.filter(s => s.id == root.id || (ids(s.parent) && { ids += s.id; true })).toSeq
  }

  /** Counters charged to any of `ss`. */
  def counters(ss: Iterable[Span]): Counters = {
    val c = new Counters
    ss.foreach(s => c.add(selfCounters(s)))
    c
  }

  /** Wall time of `root` during which none of its subtree's jobs ran. */
  def jobGapSeconds(root: Span): Double = {
    val busy = counters(subtree(root)).jobIntervals.toSeq
      .map { case (a, b) => (math.max(a, root.startMs), math.min(b, root.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var reach = root.startMs
    busy.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    math.max(0.0, root.seconds - covered / 1e3)
  }

  /** Run ids of the streaming queries started inside `ss`. */
  def streamRunIds(ss: Iterable[Span]): Set[String] = {
    val ids = ss.map(_.id).toSet
    streamRuns.collect { case (run, id) if ids(id) => run }.toSet
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def spansJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ms":${s.startMs},""" +
      s""""end_ms":${s.endMs},"seconds":${s.seconds},"run_id":"$runId"}"""
  }.mkString("[\n", ",\n", "\n]")
}
