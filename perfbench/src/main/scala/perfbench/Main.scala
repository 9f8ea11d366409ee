package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one closed loop driven
  * by a single client thread.
  *
  * {{{
  *   Main --workload <slice_etl|ingest_drain> --seed <n>
  *        --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Prints one line per metric, then one JSON object as the last line of
  * standard output. Exits 1 when any output check failed.
  */
object Main {
  final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
      trace: Boolean, work: java.nio.file.Path, sessionS: Double)

  /** A metric as printed: name, value, unit. */
  final case class M(name: String, value: Double, unit: String)

  final class Outcome {
    var attempted = 0L
    var failed = 0L
    val failures = ArrayBuffer[String]()
    val e2e = ArrayBuffer[M]()
    val layers = ArrayBuffer[M]()
    val notes = ArrayBuffer[String]()
    /** Record one output check; a failed one is printed and counted. */
    def check(ok: Boolean, what: => String): Boolean = {
      if (!ok) failures += what
      ok
    }
  }

  trait Workload {
    /** Set up, run the closed loop, check the outputs and fill `out`. */
    def run(ctx: Ctx, out: Outcome): Unit
  }

  val workloads: Map[String, () => Workload] = Map(
    "slice_etl" -> (() => new SliceEtl),
    "ingest_drain" -> (() => new IngestDrain))

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = workloads.getOrElse(a.getOrElse("workload", ""), {
      System.err.println(s"unknown workload; expected one of ${workloads.keys.mkString(", ")}")
      sys.exit(2)
    })()
    val work = java.nio.file.Paths.get(a("work")).toAbsolutePath
    java.nio.file.Files.createDirectories(work)
    val cpus = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(work.resolve("checkpoints").toString)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = Ctx(spark, a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
      work, sessionS)
    val out = new Outcome
    try wl.run(ctx, out)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        out.failures += s"workload aborted: $e"
        out.failed = math.max(out.failed, 1L)
        out.attempted = math.max(out.attempted, 1L)
    }
    out.notes.foreach(n => println(s"[perfbench] $n"))
    out.failures.foreach(f => println(s"[perfbench] CHECK FAILED: $f"))
    val shown =
      if (ctx.trace) Metrics.perLayer.map { case (n, u) =>
        out.layers.find(_.name == n).getOrElse(M(n, 0.0, u)) }
      else Metrics.endToEnd.flatMap { case (n, _) =>
        val m = out.e2e.find(_.name == n)
        if (m.isEmpty) out.failures += s"end-to-end metric $n was not measured"
        m }
    shown.foreach(m => println(f"[perfbench] ${m.name}%-44s ${fmt(m.value)}%14s ${m.unit}"))
    val correct = out.failures.isEmpty && out.failed == 0
    val metrics = shown.map(m => s""""${m.name}": {"value": ${fmt(m.value)}, "unit": "${m.unit}"}""")
    println(s"""{"correct": $correct, "attempted": ${math.max(out.attempted, 1L)}, """ +
      s""""failed": ${out.failed}, "metrics": {${metrics.mkString(", ")}}}""")
    System.out.flush()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  // ----------------------------------------------------------- statistics
  /** Linear-interpolated percentile (numpy's default). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val pos = p / 100.0 * (s.length - 1)
      val lo = pos.toInt; val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, secondsSince(t0))
  }

  /** Spark block storage (memory plus disk) held now, in MB. */
  def blockMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** Run `op` in a closed loop for the ctx's seconds; the operation
    * running when the time is up finishes. With tracing on, the first half
    * runs untraced and the second half traced, so the run can report its
    * own tracing overhead. Returns the untraced and the traced samples of
    * `op`'s return value (None is a failed operation) and the number of
    * operations issued. */
  def closedLoop[T](ctx: Ctx, op: (Int, Boolean) => Option[T]): (Seq[T], Seq[T], Int) = {
    val plain = ArrayBuffer[T](); val traced = ArrayBuffer[T]()
    var i = 0
    def phase(seconds: Double, into: ArrayBuffer[T], tracing: Boolean): Unit = {
      val end = System.nanoTime() + (seconds * 1e9).toLong
      while (System.nanoTime() < end) { op(i, tracing).foreach(into += _); i += 1 }
    }
    if (!ctx.trace) phase(ctx.seconds, plain, tracing = false)
    else {
      phase(ctx.seconds / 2, plain, tracing = false)
      Tracer.attach(ctx.spark)
      phase(ctx.seconds / 2, traced, tracing = true)
      Tracer.detach(ctx.spark)
    }
    (plain.toSeq, traced.toSeq, i)
  }
}
