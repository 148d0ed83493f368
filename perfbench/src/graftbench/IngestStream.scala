package graftbench

import graft.WarehouseOptions
import graft.streaming.StreamIngest
import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions.col
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `ingest_stream`: the monitor path. `StreamIngest.start` catches up on a
  * backlog of spool chunks; then a closed loop with one client appends a
  * chunk, runs `start` to completion and reads the chunk's last change back
  * through the published view; one such step is the unit of work. A second
  * `StreamIngest` then reopens the warehouse (restart).
  */
object IngestStream {
  private val whOpts = WarehouseOptions(database = IngestBatch.Db, split = Some("type"))

  /** Runs `start` on the spool until it has drained it. */
  private def drain(ctx: Ctx, ingest: StreamIngest, spool: Path, wh: Path): Unit = {
    val q = ingest.start(spool.toString, wh.resolve("_spark_checkpoint").toString)
    ctx.trace.bindStream(q.runId)
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }

  /** Reads `c`'s doc back through its type's view; true when the view shows
    * exactly `c` (its rev, or no row after a delete).
    */
  private def visible(ctx: Ctx, c: Change): Boolean = {
    val revs = ctx.spark.table(s"${IngestBatch.Db}_${c.docType.get}")
      .where(col("id") === c.id).select("rev").collect().map(_.getString(0)).toSeq
    val rev = if (ctx.plant("fresh")) c.rev + "x" else c.rev
    if (c.deleted) revs.isEmpty else revs == Seq(rev)
  }

  /** Regular files under `root` with their size and modification time. */
  private def files(root: Path): Map[Path, (Long, Long)] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
      finally s.close()
    }

  private def buckets(files: Map[Path, (Long, Long)], state: Path): Map[String, Set[String]] =
    files.keys.filter(_.startsWith(state)).map(state.relativize).filter(_.getNameCount >= 2)
      .groupBy(_.getName(0).toString).filter(_._1.startsWith("_bucket="))
      .map { case (b, ps) => b -> ps.map(_.toString).toSet }

  def run(ctx: Ctx): Unit = {
    import ctx._
    val (pages, pageSize, stepSize) = if (opts.tiny) (4, 250, 40) else (6, 1000, 100)

    // Set-up: generate the backlog (three times, the median is kept), then
    // warm the monitor path on a throwaway warehouse: one micro-batch over
    // the first chunk and one read through its view.
    val gens = (0 until 3).map(r => timed(IngestBatch.generate(opts.seed, pages, pageSize, dir(s"spool-$r"))))
    gens.drop(1).foreach(g => delete(g._1.dir))
    val backlog = gens.head._1
    val (warmSpool, warmWh) = (dir("warm-spool"), dir("warm-wh"))
    val warmS = timed {
      Files.createDirectories(warmSpool)
      Files.copy(backlog.dir.resolve("chunk-000001.json"), warmSpool.resolve("chunk-000001.json"))
      trace.quiet {
        drain(ctx, new StreamIngest(spark, whOpts, warmWh.toString), warmSpool, warmWh)
        spark.table(s"${IngestBatch.Db}_user").where(col("id") === "doc000000001").collect()
      }
    }._2
    delete(warmSpool); delete(warmWh)
    setup(gens.map(_._2), warmS)
    val gen = backlog.gen
    val spool = backlog.dir
    val wh = dir("wh")

    // Catch-up over the whole backlog.
    val ingest = trace.span("streaming.open")(new StreamIngest(spark, whOpts, wh.toString))
    result.attempted += 1
    val catchup = timed(trace.span("streaming.catchup")(drain(ctx, ingest, spool, wh)))._2

    // The closed loop. A traced run alternates steps with the listeners on
    // and off, and snapshots the warehouse files around each traced step.
    val fresh = mutable.ArrayBuffer.empty[Double]
    val freshTraced = mutable.ArrayBuffer.empty[Double]
    val rewritten = mutable.ArrayBuffer.empty[Double]
    val writeAmp = mutable.ArrayBuffer.empty[Double]
    val stepSpans = mutable.ArrayBuffer.empty[Span]
    var chunk = backlog.chunks
    var stepBytes = 0L
    val end = deadline()
    var i = 0
    while (i < 2 || System.nanoTime() < end) {
      val on = opts.trace && i % 2 == 0
      trace.attach(on)
      val cs = gen.page(stepSize - 2) ++ Seq(gen.replayOf(1).head, gen.upsert())
      val before = if (on) files(wh) else Map.empty[Path, (Long, Long)]
      chunk += 1
      result.attempted += 1
      val bytes = Spool.write(spool, chunk, cs)
      stepBytes += bytes
      val t0 = System.nanoTime()
      try {
        val firstSpan = trace.spans.size
        trace.span("streaming.batch")(drain(ctx, ingest, spool, wh))
        val ok = trace.span("streaming.view_read")(visible(ctx, cs.last))
        val s = (System.nanoTime() - t0) / 1e9
        if (result.check("fresh_read", ok, s"step $i: ${cs.last.id} not visible at rev ${cs.last.rev}")) {
          (if (on) freshTraced else fresh) += s
        } else result.failed += 1
        if (on) {
          stepSpans ++= trace.spans.drop(firstSpan)
          val after = files(wh)
          val changed = after.filter { case (p, v) => !before.get(p).contains(v) }
          writeAmp += changed.values.map(_._1).sum.toDouble / bytes
          val state = wh.resolve("_state")
          val (b0, b1) = (buckets(before, state), buckets(after, state))
          rewritten += b1.count { case (b, fs) => !b0.get(b).contains(fs) }.toDouble / math.max(1, b1.size)
        }
      } catch {
        case e: Exception =>
          result.failed += 1
          result.check("step", ok = false, s"step $i: ${e.getMessage}")
      }
      i += 1
    }
    trace.attach(true)

    // The views must hold the generator's last-writer-wins state, before and
    // after a restart; the restart must add and lose nothing.
    val expected = new Expectation(ctx, gen, IngestBatch.Db)
    trace.quiet {
      expected.tableNames.foreach(t => expected.checkTable(t, spark.table(t)))
      expected.checkCheckpoint(ingest.checkpoint, "stream")
    }
    val stateBytes = bytesUnder(wh.resolve("_state"))
    result.attempted += 1
    val (reopened, openS) = timed(trace.span("streaming.open")(new StreamIngest(spark, whOpts, wh.toString)))
    trace.quiet {
      drain(ctx, reopened, spool, wh)
      reopened.publish()
      expected.tableNames.foreach(t => expected.checkTable(t, spark.table(t)))
      expected.checkCheckpoint(reopened.checkpoint, "restarted stream")
    }

    val times = if (opts.trace) freshTraced else fresh
    result.metric("throughput_per_s", backlog.changes / catchup, "1/s")
    result.metric("latency_p50_s", Stats.median(times.toSeq), "s")
    result.metric("latency_p90_s", Stats.quantile(times.toSeq, 0.9), "s")
    result.note("input", s"""{"backlog_changes":${backlog.changes},"backlog_bytes":${backlog.bytes},""" +
      s""""backlog_chunks":${backlog.chunks},"step_changes":$stepSize,"steps":$i,""" +
      s""""step_bytes_mean":${stepBytes / math.max(1, i)},"docs":${gen.latest.size}}""")
    result.note("samples", s"""{"catchup":1,"fresh":${times.size}}""")
    result.note("unit_s", times.mkString("[", ",", "]"))
    result.note("catchup_s", catchup.toString)
    result.note("generate_s", gens.map(_._2).mkString("[", ",", "]"))

    if (opts.trace) {
      import Layers.put
      trace.drain()
      val batchSpans = stepSpans.filter(_.name == "streaming.batch")
      val runs = trace.streamRunIds(batchSpans)
      val progress = trace.progress.snapshot.filter(p => runs(p._1)).map(_._3)
      def ms(p: Map[String, Long], k: String) = p.getOrElse(k, 0L) / 1e3
      put(result, "streaming.add_batch_s", Stats.median(progress.map(ms(_, "addBatch"))))
      put(result, "streaming.trigger_overhead_s",
        Stats.median(progress.map(p => ms(p, "triggerExecution") - ms(p, "addBatch"))))
      put(result, "sources.latest_offset_s", Stats.median(progress.map(ms(_, "latestOffset"))))
      put(result, "streaming.buckets_rewritten_frac", rewritten.sum / rewritten.size)
      put(result, "streaming.write_amp", writeAmp.sum / writeAmp.size)
      put(result, "streaming.jobs_per_batch",
        trace.counters(batchSpans).jobs.toDouble / math.max(1, progress.size))
      put(result, "streaming.space_amp", stateBytes.toDouble / gen.liveDocJsonBytes)
      put(result, "streaming.view_read_s", Stats.median(stepSpans.filter(_.name == "streaming.view_read").map(_.seconds).toSeq))
      put(result, "streaming.open_s", openS)
      val c = trace.counters(stepSpans)
      put(result, "streaming.gc_s", c.gcMs / 1e3 / batchSpans.size)
      put(result, "streaming.shuffle_bytes", c.shuffleWrite.toDouble / batchSpans.size)
      put(result, "trace.overhead_frac", Stats.median(freshTraced.toSeq) / Stats.median(fresh.toSeq) - 1)
      result.note("trace_samples", s"""{"micro_batches":${progress.size},"traced_steps":${batchSpans.size}}""")
    }
    Layers.fillIdle(result)
  }
}
