package graftbench

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Thrown by a correctness check; the operation it guards counts as failed. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** State of one benchmark run: samples, attempted/failed operations and
  * point values, plus the Spark session the workload is driving.
  */
final class Run(val workload: String, val seed: Long, val seconds: Double,
    val traced: Boolean, val threads: Int, val workDir: String) {

  var spark: SparkSession = _
  var tracer: Option[Tracer] = None

  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Double]
  val failures = mutable.ArrayBuffer.empty[String]
  val opsBy = mutable.LinkedHashMap.empty[String, Long]
  var attempted = 0L
  var failed = 0L

  def sample(key: String, v: Double): Unit =
    samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty[Double]) += v

  def count(key: String): Int = samples.get(key).fold(0)(_.length)

  def verify(ok: Boolean, msg: => String): Unit = if (!ok) throw new CheckFailed(msg)

  /** One checked operation: counted as attempted, and as failed when it
    * throws (a failed check included). Returns None on failure.
    */
  def op[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    opsBy(what) = opsBy.getOrElse(what, 0L) + 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        if (failures.length < 20) failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }

  /** `body` as a traced span when tracing is on, plainly otherwise. */
  def span[A](name: String)(body: => A): A = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  def startSession(): SparkSession = {
    spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.default.parallelism", threads.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stopSession(): Unit = if (spark != null) { spark.stop(); spark = null }
}

/** A workload: inputs made from the seed, one headline operation and
  * the short calls issued after it, all checked.
  */
trait Workload {
  /** Generate and materialise the inputs on the current session (part of set-up). */
  def prepare(run: Run): Unit
  /** The headline operation; its wall time is an `op_s` sample. */
  def headline(run: Run): Unit
  /** `n` short calls; each latency is a `call_ms` sample. */
  def calls(run: Run, n: Int): Unit
  /** Short calls of a measured cycle. */
  def callsPerCycle: Int
  /** Work after set-up and before measuring, checked but not reported:
    * enough for JIT compilation of both the headline operation and the
    * short calls to settle.
    */
  def warmup(run: Run): Unit
  /** Each layer of the workload called on its own, for traced runs. */
  def tracedLayers(run: Run): Unit = ()
}

/** Entry point: `Main --workload W --seed N --seconds S --trace 0|1
  * --out DIR --launched-ms T [--data DIR]`, where T is the wall-clock
  * time (ms since the epoch) at which the caller started this JVM.
  * Writes DIR/result.json; the caller turns it into the benchmark's
  * result line.
  */
object Main {

  /** Short calls a measured window must reach: the reported tail then
    * sits at p66 or above, with 10 samples beyond it.
    */
  val MinCalls = 30
  /** Headline operations a measured window must reach, so `op_s` is a
    * median over runs of the operation rather than one sample.
    */
  val MinOps = 2

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val threads = Runtime.getRuntime.availableProcessors()
    require(threads >= 1, s"invalid thread count $threads")
    val out = need("out")
    val launchedMs = need("launched-ms").toLong
    val run = new Run(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", threads, out)
    val workload: Workload = run.workload match {
      case "glove_broadcast" => new GloveWorkload
      case "corpus_dedup" => new DedupWorkload(need("data"))
      case "analytics_sf01" => new AnalyticsWorkload(need("data"))
      case w => sys.error(s"unknown workload $w")
    }
    def lap(from: Long) = (System.nanoTime() - from) / 1e9

    // Set-up, measured once and cold: JVM start, session start, input
    // generation and the first headline operation.
    run.startSession()
    if (run.traced) run.tracer = Some(new Tracer(run.spark.sparkContext, threads))
    workload.prepare(run)
    workload.headline(run)
    val setupS = (System.currentTimeMillis() - launchedMs) / 1e3
    run.values("phase.setup_s") = setupS

    val tWarm = System.nanoTime()
    workload.warmup(run)
    run.samples.clear()
    run.sample("setup_s", setupS)
    run.tracer.foreach(_.reset())
    run.values("phase.warmup_s") = lap(tWarm)

    // Measured window: closed-loop cycles until `seconds` have passed and
    // MinOps headline operations and MinCalls short calls were made (or
    // an operation failed).
    val tMeasure = System.nanoTime()
    do { workload.headline(run); workload.calls(run, workload.callsPerCycle) }
    while (lap(tMeasure) < run.seconds ||
      (run.failed == 0 && (run.count("op_s") < MinOps || run.count("call_ms") < MinCalls)))
    run.values("phase.measure_s") = lap(tMeasure)
    run.values("peak_rss_mb") = peakRssMb()

    // Traced runs then call each layer on its own: once untraced, to
    // compile paths the headline operation does not take, then traced.
    run.tracer.foreach { t =>
      run.tracer = None
      workload.tracedLayers(run)
      run.tracer = Some(t)
      workload.tracedLayers(run)
    }
    run.stopSession() // drains the listener bus before metrics are read
    run.tracer.foreach { t =>
      run.values ++= t.spanMetrics()
      run.values ++= t.iterationMetrics("glove.fit", "treeReduce", "glove.iter")
    }
    write(s"$out/result.json", run)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def write(path: String, run: Run): Unit = {
    val samples = run.samples.map { case (k, xs) => q(k) + ":" + xs.map(num).mkString("[", ",", "]") }
    val values = run.values.map { case (k, v) => q(k) + ":" + num(v) }
    val json = Seq(
      q("workload") + ":" + q(run.workload),
      q("threads") + ":" + run.threads,
      q("attempted") + ":" + run.attempted,
      q("failed") + ":" + run.failed,
      q("failures") + ":" + run.failures.map(q).mkString("[", ",", "]"),
      q("ops") + ":" + run.opsBy.map { case (k, n) => q(k) + ":" + n }.mkString("{", ",", "}"),
      q("samples") + ":" + samples.mkString("{", ",", "}"),
      q("values") + ":" + values.mkString("{", ",", "}")).mkString("{", ",", "}\n")
    Files.write(Paths.get(path), json.getBytes(StandardCharsets.UTF_8))
  }
}
