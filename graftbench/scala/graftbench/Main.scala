package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload run measured. `e2e` holds the end-to-end metrics
  * (tracing off) and `layer` the per-layer ones (tracing on); both map a
  * metric name to (value, unit). */
final case class Outcome(
    attempted: Long, failed: Long, checksFailed: Seq[String],
    e2e: Map[String, (Double, String)], layer: Map[String, (Double, String)],
    info: Map[String, String])

/** Everything a workload gets from the harness. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val work: Path, val tracer: Tracer, val cpus: Int,
                val expected: Path) {
  /** Wall-clock origin of the process, for `setup_s`. */
  val jvmStartMs: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  private val failures = mutable.ArrayBuffer[String]()
  def fail(what: String): Unit = {
    failures += what
    System.err.println(s"[graftbench] CHECK FAILED: $what")
  }
  def failed: Seq[String] = failures.toSeq

  def check(ok: Boolean, what: => String): Boolean = { if (!ok) fail(what); ok }

  def span[T](name: String)(f: => T): T = tracer.span(name)(f)

  /** Progress note on stderr, seconds since the JVM started. */
  def note(what: String): Unit =
    System.err.println(f"[graftbench] ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.2fs $what")

  def dir(name: String): String = {
    val d = work.resolve(name)
    Files.createDirectories(d)
    d.toString
  }
}

/** Entry point: `graftbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --work DIR --data DIR --expected DIR`. Prints one result line prefixed
  * with `GRAFTBENCH_RESULT ` and writes the spans of a traced run to
  * `DIR/trace.jsonl`. */
object Main {
  def main(args: Array[String]): Unit = {
    def opt(name: String): String = {
      val i = args.indexOf(s"--$name")
      require(i >= 0 && i + 1 < args.length, s"--$name required")
      args(i + 1)
    }
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val data = opt("data")
    val expected = Paths.get(opt("expected")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext, trace)
    val ctx = new Ctx(spark, seed, seconds, work, tracer, cpus, expected)

    val out: Outcome = workload match {
      case "archive" => Archive.run(ctx)
      case "analytics" => Analytics.run(ctx, data)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }

    val t = tracer.finish()
    if (trace) {
      Files.write(work.resolve("trace.jsonl"),
        t.toJsonLines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    val layer = if (trace) Layers.metrics(t.timedOnly, out) else Map.empty[String, (Double, String)]
    val metrics = if (trace) layer else out.e2e
    val info = out.info ++ Map(
      "nproc" -> cpus.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory() >> 20).toString,
      "loadavg_start" -> f"$loadStart%.2f",
      "loadavg_end" -> f"${os.getSystemLoadAverage}%.2f",
      "checks_failed" -> out.checksFailed.mkString("; "))
    val m = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s"""${HnGen.jsonString(k)}:{"value":${num(v)},"unit":${HnGen.jsonString(u)}}"""
    }.mkString("{", ",", "}")
    val i = info.toSeq.sortBy(_._1)
      .map { case (k, v) => HnGen.jsonString(k) + ":" + HnGen.jsonString(v) }
      .mkString("{", ",", "}")
    println(s"""GRAFTBENCH_RESULT {"correct":${out.checksFailed.isEmpty},"attempted":${out.attempted},"failed":${out.failed},"metrics":$m,"info":$i}""")
    spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Sample statistics shared by the workloads. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    // linear interpolation between closest ranks
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The tail a run reports: p90, interpolated. A run holds a few to a few
    * tens of ops, too few for a percentile with ten samples beyond it above
    * p50, and a percentile chosen by sample count would jump between runs. */
  def tail(xs: Seq[Double]): Double = quantile(xs, 0.9)

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** Peak resident set (VmHWM) of this process in MB; NaN off Linux. */
  def peakRssMb(): Double = try {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  } catch { case _: Throwable => Double.NaN }

  def dirBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    } finally s.close()
  }
}
