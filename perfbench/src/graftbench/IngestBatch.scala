package graftbench

import graft.{Warehouse, WarehouseOptions}
import graft.model.SchemaDiscovery
import graft.ops.{Compact, Flatten, Split}
import java.nio.file.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** A generated spool directory and the generator that knows its expected
  * warehouse content.
  */
final case class Generated(dir: Path, gen: FeedGen, changes: Long, bytes: Long, chunks: Int)

/** `ingest_batch`: the CLI batch path. Spool chunks are read through the
  * `couch-changes` source, ingested with `split = type`, and every type table
  * is exported to parquet; one such build is the unit of work.
  */
object IngestBatch {
  val Db = "bench"

  def generate(seed: Long, pages: Int, pageSize: Int, dir: Path): Generated = {
    val gen = new FeedGen(seed)
    var chunks = 0
    var changes = 0L
    var bytes = 0L
    def land(cs: Seq[Change]): Unit = {
      chunks += 1
      bytes += Spool.write(dir, chunks, cs)
      changes += cs.size
    }
    (0 until pages).foreach { p =>
      land(gen.page(pageSize))
      if (p == pages / 2) land(gen.replayOf(2)) // one page delivered twice
    }
    Generated(dir, gen, changes, bytes, chunks)
  }

  def build(ctx: Ctx, feedDir: Path, outDir: Path): Warehouse = ctx.trace.span("bench.build") {
    val changes = ctx.spark.read.format("couch-changes").load(feedDir.toString)
    val w = new Warehouse(ctx.spark, WarehouseOptions(database = Db, split = Some("type")))
    ctx.trace.span("warehouse.ingest")(w.ingest(changes))
    w.tableNames.foreach { t =>
      ctx.trace.span("warehouse.export")(w.export(t, outDir.resolve(t).toString))
    }
    w
  }

  def run(ctx: Ctx): Unit = {
    import ctx._
    val (pages, pageSize) = if (opts.tiny) (6, 250) else (24, 1000)

    // Set-up: generate the feed (three times, the median is kept), then
    // warm the whole pipeline with one untimed build.
    val gens = (0 until 3).map(r => timed(generate(opts.seed, pages, pageSize, dir(s"feed-$r"))))
    gens.drop(1).foreach(g => delete(g._1.dir))
    val feed = gens.head._1
    val warmS = timed(trace.quiet(build(ctx, feed.dir, dir("warm-out"))))._2
    delete(dir("warm-out"))
    setup(gens.map(_._2), warmS)
    val expected = new Expectation(ctx, feed.gen, Db)

    // Measured phase: builds until the deadline. A traced run alternates
    // builds with the listeners on and off to measure tracing overhead.
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val tracedBuilds = mutable.ArrayBuffer.empty[Int]
    val end = deadline()
    var i = 0
    while (i < 2 || System.nanoTime() < end) {
      val out = dir(s"out-$i")
      val on = opts.trace && i % 2 == 0
      trace.attach(on)
      result.attempted += 1
      val firstSpan = trace.spans.size
      try {
        val (w, s) = timed(build(ctx, feed.dir, out))
        (if (on) traced else plain) += s
        if (on) tracedBuilds += firstSpan
        trace.quiet(expected.check(w, out))
      } catch {
        case e: Exception =>
          result.failed += 1
          result.check("build", ok = false, s"build $i: ${e.getMessage}")
      }
      delete(out)
      i += 1
    }
    trace.attach(true)

    val times = if (opts.trace) traced else plain
    result.metric("throughput_per_s", feed.changes / Stats.median(times), "1/s")
    result.metric("latency_p50_s", Stats.median(times), "s")
    result.metric("latency_p90_s", Stats.quantile(times, 0.9), "s")
    result.note("input", s"""{"changes":${feed.changes},"bytes":${feed.bytes},"chunks":${feed.chunks},""" +
      s""""docs":${feed.gen.latest.size},"types":${feed.gen.types.size}}""")
    result.note("samples", s"""{"builds":${times.size}}""")
    result.note("unit_s", times.mkString("[", ",", "]"))
    result.note("generate_s", gens.map(_._2).mkString("[", ",", "]"))

    if (opts.trace) {
      val probeReps = Layers.probeIngestLayers(ctx, feed)
      Layers.reportBatch(ctx, feed, tracedBuilds.toSeq, probeReps)
      result.metric("trace.overhead_frac", Stats.median(traced.toSeq) / Stats.median(plain.toSeq) - 1, "ratio")
    }
    Layers.fillIdle(result)
  }
}

/** The generator's last-writer-wins model turned into per-table checks of
  * what the program wrote.
  */
final class Expectation(ctx: Ctx, gen: FeedGen, db: String) {
  import ctx.{plant, result}
  private val tables = gen.expected(db, forgetTombstone = plant("tombstone"))
  private val columns = gen.types.map(t =>
    s"${db}_${t.name}" -> (if (plant("columns")) t.columns.reverse else t.columns)).toMap
  private val names = tables.keys.toSeq.sorted ++ (if (plant("tables")) Seq(s"${db}_extra") else Nil)
  private val sums = tables.map { case (t, rows) =>
    t -> (RowHash.sum(rows) + (if (plant("checksum")) 1L else 0L)) }
  private val maxSeq = gen.maxSeq + (if (plant("checkpoint")) 1L else 0L)

  /** Checks a batch build: its table set, checkpoint, and every exported table. */
  def check(w: Warehouse, out: Path): Unit = {
    result.check("tables", w.tableNames.sorted == names, s"tables ${w.tableNames.sorted} != $names")
    result.check("checkpoint", w.checkpoint == maxSeq, s"checkpoint ${w.checkpoint} != max seq $maxSeq")
    tables.keys.foreach(t => checkTable(t, ctx.spark.read.parquet(out.resolve(t).toString)))
  }

  /** Checks one table's columns, row count, id uniqueness and checksum. */
  def checkTable(t: String, df0: DataFrame): Unit = {
    val df = if (plant("unique")) df0.union(df0.limit(1)) else df0
    result.check("columns", df.columns.toSeq == columns(t), s"$t columns ${df.columns.toSeq} != ${columns(t)}")
    val idIdx = df.columns.indexOf("id")
    val rows = df.rdd.map(r => (if (idIdx >= 0) r.getString(idIdx) else null, RowHash(r.toSeq))).collect()
    result.check("rows", rows.length == tables(t).size, s"$t rows ${rows.length} != ${tables(t).size}")
    result.check("unique_ids", rows.map(_._1).distinct.length == rows.length, s"$t has duplicate ids")
    result.check("checksum", rows.map(_._2).sum == sums(t), s"$t checksum differs")
  }

  def checkCheckpoint(seq: Long, what: String): Unit =
    result.check("checkpoint", seq == maxSeq, s"$what checkpoint $seq != max seq $maxSeq")

  def tableNames: Seq[String] = tables.keys.toSeq.sorted
}
