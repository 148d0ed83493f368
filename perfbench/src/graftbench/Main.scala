package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      cpus: Int, work: Path, board: Path, tiny: Boolean,
                      plant: Option[String], spansOut: Option[Path])

/** What one run measured and checked; printed as one JSON line. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  /** A provenance or detail entry; `json` is a JSON value. */
  def note(name: String, json: String): Unit = info(name) = json
  def check(name: String, ok: Boolean, detail: => String): Boolean = {
    checks += ((name, ok, if (ok) "" else detail))
    ok
  }

  def json: String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val ms = metrics.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
    val failedChecks = checks.filterNot(_._2).map { case (n, _, d) =>
      s"""{"check":"$n","detail":"${Json.escape(d)}"}""" }
    val passed = checks.groupBy(_._1).map { case (n, cs) => s""""$n":${cs.count(_._2)}""" }
    s"""{"correct":${checks.nonEmpty && checks.forall(_._2)},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":${ms.mkString("{", ",", "}")},""" +
      s""""checks_passed":${passed.mkString("{", ",", "}")},""" +
      s""""checks_failed":${failedChecks.mkString("[", ",", "]")},""" +
      s""""info":${info.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")}}"""
  }
}

object Stats {
  /** Linear interpolation between closest ranks (NumPy's default). */
  def quantile(xs: Iterable[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.toIndexedSeq.sorted
      val pos = (s.size - 1) * q
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
}

final class Ctx(val spark: SparkSession, val opts: Opts, val trace: Trace,
                val result: Result, val sessionSeconds: Double) {
  def plant(name: String): Boolean = opts.plant.contains(name)

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def dir(name: String): Path = opts.work.resolve(name)

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(q => Files.deleteIfExists(q))
      finally s.close()
    }

  /** Bytes of every regular file under `p`. */
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  /** Set-up cost: session start, the median of the repeated input
    * preparations, and the warm-up.
    */
  def setup(inputs: Iterable[Double], warmUp: Double): Unit = {
    result.metric("setup_s", sessionSeconds + Stats.median(inputs) + warmUp, "s")
    result.note("setup_input_reps", inputs.size.toString)
    result.note("warm_up_s", warmUp.toString)
  }

  /** Deadline for the measured phase. */
  def deadline(): Long = System.nanoTime() + opts.seconds * 1000000000L
}

/** Benchmark entry point: `--workload ingest_batch|ingest_stream|query_board
  * --seed N --seconds S --trace 0|1 --cpus N --work DIR --board FILE
  * [--tiny] [--plant CHECK] [--spans FILE]`. Prints one line
  * `GRAFTBENCH {json}`. With `--dumps DIR --cpus N --work DIR` it instead
  * prints `FINGERPRINTS {json}` for the query results `graft.Verify` dumped
  * into DIR.
  */
object Main {
  private def session(cpus: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    kv.get("dumps").foreach { dumps =>
      val spark = session(kv("cpus").toInt, Paths.get(kv("work")).toAbsolutePath)
      println("FINGERPRINTS " + QueryBoard.fingerprintDumps(spark, Paths.get(dumps)))
      spark.stop()
      return
    }
    val opts = Opts(
      workload = kv("workload"), seed = kv("seed").toLong, seconds = kv("seconds").toInt,
      trace = kv.get("trace").contains("1"), cpus = kv("cpus").toInt,
      work = Paths.get(kv("work")).toAbsolutePath, board = Paths.get(kv("board")).toAbsolutePath,
      tiny = argv.contains("--tiny"), plant = kv.get("plant"),
      spansOut = kv.get("spans").map(Paths.get(_).toAbsolutePath))
    Files.createDirectories(opts.work)

    val t0 = System.nanoTime()
    val spark = session(opts.cpus, opts.work)
    val sessionSeconds = (System.nanoTime() - t0) / 1e9

    val result = new Result
    val trace = new Trace(spark, opts.trace, s"${opts.workload}-${opts.seed}-${System.currentTimeMillis()}")
    trace.attach(true)
    val ctx = new Ctx(spark, opts, trace, result, sessionSeconds)
    try opts.workload match {
      case "ingest_batch"  => IngestBatch.run(ctx)
      case "ingest_stream" => IngestStream.run(ctx)
      case "query_board"   => QueryBoard.run(ctx)
      case w               => throw new IllegalArgumentException(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        result.check("run", ok = false, s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    }
    result.metric("peak_rss_mb", peakRssMb(), "MB")
    result.note("spark", "\"" + spark.version + "\"")
    result.note("jdk", "\"" + System.getProperty("java.version") + "\"")
    result.note("master", "\"local[" + opts.cpus + "]\"")
    result.note("session_s", sessionSeconds.toString)
    if (opts.trace) {
      trace.drain()
      opts.spansOut.foreach(p => Files.writeString(p, trace.spansJson))
    }
    println("GRAFTBENCH " + result.json)
    spark.stop()
  }

  /** Process high-water resident set (`VmHWM`), in MB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
    finally src.close()
  }
}
