package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.{Queries, SparkEntry, TrainingQueries}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** An order-insensitive result fingerprint: row count, column count and the
  * sum of a 64-bit hash of every row. Floating-point values are rounded to
  * seven significant digits (and |x| < 1e-9 to zero) before hashing, so the
  * last-ulp drift of a parallel sum does not change it.
  */
object Fingerprint {
  final case class Print(rows: Long, cols: Int, hash: String)

  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      val x = c.cast(DoubleType)
      val e = floor(log10(abs(x)))
      when(abs(x) < 1e-9, lit(0.0)).otherwise(rint(x * pow(lit(10.0), lit(6) - e)) * pow(lit(10.0), e - 6))
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(struct(fs.map(f => norm(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*))
    case MapType(_, vt, _) => transform_values(c, (_, v) => norm(v, vt))
    case _ => c
  }

  /** `df` with the fingerprint aggregates attached to its own execution. */
  def observed(df: DataFrame, obs: Observation): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    val rowHash = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named.observe(obs, count(lit(1)).as("n"), sum(rowHash.cast(DecimalType(20, 0))).as("h"))
  }

  /** Runs `df` through the `noop` sink and returns its fingerprint. */
  def of(df: DataFrame): Print = {
    val obs = Observation()
    observed(df, obs).write.mode("overwrite").format("noop").save()
    val r = obs.get
    Print(r("n").asInstanceOf[Long], df.columns.length,
      Option(r("h")).map(_.toString).getOrElse("0"))
  }
}

/** `query_board`: a fixed sample of the `SparkEntry.queries` board on a
  * copy of the sf0.01 test tables. Every sampled query first runs once
  * untimed, which warms its code paths and checks its fingerprint; then the
  * sample runs timed through the `noop` sink. State is dropped after every
  * run. One query run is the unit of work.
  */
object QueryBoard {
  val MinPasses = 2

  final case class Spec(data: Path, sample: Seq[String], prints: Map[String, Fingerprint.Print])

  def load(path: Path): Spec = {
    val root = new ObjectMapper().readTree(path.toFile)
    val prints = root.get("fingerprints").properties().asScala.map { e =>
      val v = e.getValue
      e.getKey -> Fingerprint.Print(v.get("rows").asLong, v.get("cols").asInt, v.get("hash").asText)
    }.toMap
    Spec(path.getParent.resolve(root.get("data").asText), root.get("sample").asScala.map(_.asText).toSeq, prints)
  }

  /** Drops every cached table and persisted RDD and waits for the blocks to go. */
  def dropState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def run(ctx: Ctx): Unit = {
    import ctx._
    val spec = load(opts.board)
    val dataDir = spec.data.toString
    val board = SparkEntry.queries
    val relational = Queries.relational.map(_.name).toSet
    val training = TrainingQueries.all.map(_.name).toSet
    val sample = if (opts.tiny) spec.sample.take(3) else spec.sample
    val expect = spec.prints.map { case (q, p) =>
      q -> (if (plant("fingerprint") && q == sample.head) p.copy(rows = p.rows + 1) else p) }

    // Set-up: read the tables once so the page cache is warm, then run every
    // sampled query once untimed, which warms its code paths and checks its
    // fingerprint.
    val pageCache = timed {
      Files.list(spec.data).iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .foreach(p => Files.readAllBytes(p))
    }._2
    val rng = new scala.util.Random(opts.seed)
    val warmS = rng.shuffle(sample).map { q =>
      q -> timed {
        trace.quiet {
          try {
            val got = Fingerprint.of(board(q)(spark, dataDir))
            result.check("fingerprint", expect.get(q).contains(got), s"$q: $got != ${expect.get(q)}")
          } catch {
            case e: Exception => result.check("fingerprint", ok = false, s"$q threw ${e.getMessage}")
          }
          dropState(spark)
        }
      }._2
    }
    setup(Seq(pageCache), warmS.map(_._2).sum)

    // Measured: passes over the sample, each in a fresh seeded order, until
    // the timed query time reaches --seconds, and at least two; a query's
    // latency is the median of its runs.
    val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val firstPass = mutable.ArrayBuffer.empty[Span]
    val cacheBytes = mutable.ArrayBuffer.empty[Long]
    var timedTotal = 0.0
    var pass = 0
    while (pass < MinPasses || timedTotal < opts.seconds) {
      for (q <- rng.shuffle(sample) if pass < MinPasses || timedTotal < opts.seconds) {
        result.attempted += 1
        val spansBefore = trace.spans.size
        val t0 = System.nanoTime()
        val ok = try {
          trace.span(s"queries.$q")(board(q)(spark, dataDir).write.mode("overwrite").format("noop").save())
          true
        } catch {
          case e: Exception =>
            result.failed += 1
            result.check("query", ok = false, s"$q threw ${e.getMessage}")
            false
        }
        val s = (System.nanoTime() - t0) / 1e9
        if (ok) { lat.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += s; timedTotal += s }
        if (opts.trace && pass == 0) {
          firstPass ++= trace.spans.drop(spansBefore)
          cacheBytes += spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
        }
        dropState(spark)
      }
      pass += 1
    }

    val perQuery = lat.map { case (q, xs) => q -> Stats.median(xs.toSeq) }
    val boardS = perQuery.values.sum
    val all = lat.values.flatten.toSeq
    result.metric("throughput_per_s", perQuery.size / boardS, "1/s")
    result.metric("latency_p50_s", Stats.median(perQuery.values), "s")
    result.metric("latency_p90_s", Stats.quantile(perQuery.values, 0.9), "s")
    result.note("board_s", boardS.toString)
    result.note("input", s"""{"data":"sf0.01","queries":${sample.size},"passes":$pass}""")
    result.note("samples", s"""{"query_latencies":${all.size}}""")
    result.note("samples_s", lat.map { case (q, xs) => s""""$q":${xs.mkString("[", ",", "]")}""" }.mkString("{", ",", "}"))
    result.note("per_query_s", perQuery.map { case (q, v) => s""""$q":$v""" }.mkString("{", ",", "}"))
    result.note("warm_s", warmS.map { case (q, v) => s""""$q":$v""" }.mkString("{", ",", "}"))
    result.check("sample", lat.size == sample.size, s"${sample.size - lat.size} queries never completed")

    if (opts.trace) {
      import Layers.put
      trace.drain()
      val c = trace.counters(firstPass)
      put(result, "queries.relational_s", perQuery.filter(e => relational(e._1)).values.sum)
      put(result, "queries.training_s", perQuery.filter(e => training(e._1)).values.sum)
      put(result, "queries.jobs", c.jobs.toDouble)
      put(result, "queries.stages", c.stages.toDouble)
      put(result, "queries.tasks", c.tasks.toDouble)
      put(result, "queries.driver_gap_s", firstPass.filter(_.parent < 0).map(trace.jobGapSeconds).sum)
      put(result, "queries.task_cpu_s", c.cpuNs / 1e9)
      put(result, "queries.task_run_s", c.runMs / 1e3)
      put(result, "queries.gc_s", c.gcMs / 1e3)
      put(result, "queries.shuffle_bytes", c.shuffleWrite.toDouble)
      put(result, "queries.input_bytes", c.inputBytes.toDouble)
      put(result, "queries.spill_bytes", c.spillBytes.toDouble)
      put(result, "queries.cache_bytes", cacheBytes.sum.toDouble)
      put(result, "queries.task_skew", if (c.stageSkew.isEmpty) 0.0 else c.stageSkew.sum / c.stageSkew.size)
      put(result, "trace.overhead_frac", overhead(ctx, sample, dataDir))
    }
    Layers.fillIdle(result)
  }

  /** Tracing overhead on the board: a seeded handful of queries, each run
    * with the listeners off and on, alternating which goes first.
    */
  private def overhead(ctx: Ctx, sample: Seq[String], dataDir: String): Double = {
    import ctx._
    val board = SparkEntry.queries
    val picks = new scala.util.Random(opts.seed + 1).shuffle(sample).take(if (opts.tiny) 2 else 8)
    val on, off = mutable.ArrayBuffer.empty[Double]
    picks.zipWithIndex.foreach { case (q, i) =>
      Seq(i % 2 == 0, i % 2 != 0).foreach { traced =>
        trace.attach(traced)
        val s = timed(trace.quiet(board(q)(spark, dataDir).write.mode("overwrite").format("noop").save()))._2
        (if (traced) on else off) += s
        dropState(spark)
      }
    }
    trace.attach(true)
    on.sum / off.sum - 1
  }

  /** Fingerprints of every query's result as `graft.Verify` dumped it, as
    * the JSON object `board.json` keeps.
    */
  def fingerprintDumps(spark: SparkSession, dumps: Path): String = {
    val relational = Queries.relational.map(_.name).toSet
    SparkEntry.queries.keys.toSeq.sorted.flatMap { q =>
      val p = dumps.resolve(q)
      if (!Files.isDirectory(p)) None
      else {
        val f = Fingerprint.of(spark.read.parquet(p.toString))
        val module = if (relational(q)) "relational" else "training"
        Some(s""""$q":{"rows":${f.rows},"cols":${f.cols},"hash":"${f.hash}","module":"$module"}""")
      }
    }.mkString("{", ",", "}")
  }
}
