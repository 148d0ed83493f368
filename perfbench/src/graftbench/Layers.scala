package graftbench

import graft.model.SchemaDiscovery
import graft.ops.{Compact, Flatten, Split}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Per-layer metrics of a traced run. Layers are the program's modules;
  * every span is named `<layer>.<call>`, and spans named `bench.*` are the
  * benchmark's own work.
  */
object Layers {
  val Units: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s", "sources.feed_reads" -> "ratio", "sources.latest_offset_s" -> "s",
    "sources.gc_s" -> "s", "sources.shuffle_bytes" -> "bytes",
    "model.discover_s" -> "s", "model.gc_s" -> "s", "model.shuffle_bytes" -> "bytes",
    "ops.split_s" -> "s", "ops.compact_s" -> "s", "ops.flatten_s" -> "s",
    "ops.compact_shuffle_bytes" -> "bytes", "ops.gc_s" -> "s", "ops.shuffle_bytes" -> "bytes",
    "warehouse.ingest_s" -> "s", "warehouse.export_s" -> "s", "warehouse.jobs" -> "count",
    "warehouse.driver_gap_s" -> "s", "warehouse.gc_s" -> "s", "warehouse.shuffle_bytes" -> "bytes",
    "streaming.add_batch_s" -> "s", "streaming.trigger_overhead_s" -> "s",
    "streaming.buckets_rewritten_frac" -> "ratio", "streaming.write_amp" -> "ratio",
    "streaming.jobs_per_batch" -> "count", "streaming.space_amp" -> "ratio",
    "streaming.view_read_s" -> "s", "streaming.open_s" -> "s",
    "streaming.gc_s" -> "s", "streaming.shuffle_bytes" -> "bytes",
    "queries.relational_s" -> "s", "queries.training_s" -> "s", "queries.jobs" -> "count",
    "queries.stages" -> "count", "queries.tasks" -> "count", "queries.driver_gap_s" -> "s",
    "queries.task_cpu_s" -> "s", "queries.task_run_s" -> "s", "queries.gc_s" -> "s",
    "queries.shuffle_bytes" -> "bytes", "queries.input_bytes" -> "bytes",
    "queries.spill_bytes" -> "bytes", "queries.cache_bytes" -> "bytes", "queries.task_skew" -> "ratio",
    "trace.overhead_frac" -> "ratio")
  private val unitOf = Units.toMap

  def put(r: Result, name: String, v: Double): Unit = r.metric(name, v, unitOf(name))

  /** A layer the workload does not drive reads 0 on every one of its metrics. */
  def fillIdle(r: Result): Unit =
    if (r.metrics.keySet.exists(unitOf.contains))
      Units.foreach { case (n, u) => if (!r.metrics.contains(n)) r.metric(n, 0.0, u) }

  /** GC time and shuffle bytes of one layer's spans, per unit of work. */
  def gcAndShuffle(ctx: Ctx, layer: String, units: Int): Unit = {
    val c = ctx.trace.counters(ctx.trace.spans.filter(_.layer == layer))
    put(ctx.result, s"$layer.gc_s", c.gcMs / 1e3 / units)
    put(ctx.result, s"$layer.shuffle_bytes", c.shuffleWrite.toDouble / units)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The ingest layers one at a time on cached inputs: a bare source scan,
    * type discovery, schema discovery with its donor fetch, compaction and
    * flattening. Returns the number of repetitions.
    */
  def probeIngestLayers(ctx: Ctx, feed: Generated): Int = {
    import ctx._
    val reps = if (opts.tiny) 1 else 2
    (0 until reps).foreach { _ =>
      val src = spark.read.format("couch-changes").load(feed.dir.toString)
      trace.span("sources.scan")(noop(src))
      val cached = trace.span("bench.cache") { val c = src.cache(); c.count(); c }
      val types = trace.span("ops.split")(Split.discoverTypes(cached, "type"))
      val schemas = trace.span("model.discover") {
        types.map { t =>
          cached.where(!col("deleted") && !col("id").startsWith("_design") && col("doc").isNotNull &&
              Split.docType("type", col("doc")) === t)
            .orderBy(col("seqNum")).select("doc").limit(1).collect().headOption
            .map(r => SchemaDiscovery.discover(r.getString(0)))
            .getOrElse(SchemaDiscovery.DocSchema(Nil))
        }
      }
      val slices = trace.span("bench.cache") {
        types.map { t =>
          val s = Split.ofType(cached, "type", t).select("id", "seqNum", "deleted", "doc").cache()
          s.count(); s
        }
      }
      val compacted = trace.span("ops.compact")(slices.map { s => val c = Compact(s); noop(c); c })
      val compCached = trace.span("bench.cache")(compacted.map { c => val x = c.cache(); x.count(); x })
      trace.span("ops.flatten") {
        compCached.zip(schemas).foreach { case (c, s) => noop(Flatten(c, s)) }
      }
      (compCached ++ slices :+ cached).foreach(_.unpersist(true))
    }
    reps
  }

  def reportBatch(ctx: Ctx, feed: Generated, tracedBuilds: Seq[Int], probeReps: Int): Unit = {
    import ctx.{result, trace}
    trace.drain()
    def med(name: String) = Stats.median(trace.named(name).map(_.seconds))
    put(result, "sources.scan_s", med("sources.scan"))
    put(result, "model.discover_s", med("model.discover"))
    put(result, "ops.split_s", med("ops.split"))
    put(result, "ops.compact_s", med("ops.compact"))
    put(result, "ops.flatten_s", med("ops.flatten"))
    put(result, "ops.compact_shuffle_bytes",
      Stats.median(trace.named("ops.compact").map(s => trace.selfCounters(s).shuffleWrite.toDouble)))
    Seq("sources", "model", "ops").foreach(l => gcAndShuffle(ctx, l, probeReps))

    val builds = tracedBuilds.map(trace.spans(_))
    def perBuild(f: Span => Double) = Stats.median(builds.map(f))
    def kids(b: Span, name: String) = trace.subtree(b).filter(_.name == name)
    put(result, "warehouse.ingest_s", perBuild(b => kids(b, "warehouse.ingest").map(_.seconds).sum))
    put(result, "warehouse.export_s", perBuild(b => kids(b, "warehouse.export").map(_.seconds).sum))
    put(result, "warehouse.jobs", perBuild(b => trace.counters(trace.subtree(b)).jobs.toDouble))
    put(result, "warehouse.driver_gap_s", perBuild(trace.jobGapSeconds))
    put(result, "sources.feed_reads",
      perBuild(b => trace.counters(trace.subtree(b)).inputRecords.toDouble / feed.changes))
    val c = trace.counters(builds.flatMap(trace.subtree))
    put(result, "warehouse.gc_s", c.gcMs / 1e3 / builds.size)
    put(result, "warehouse.shuffle_bytes", c.shuffleWrite.toDouble / builds.size)
  }
}
