package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in tracing: spans around the benchmark's calls into each layer,
  * plus the Spark-side observers the benchmark attaches itself (job/stage
  * listener, query-execution listener, log-event counter). Nothing here
  * reaches into the program; everything is observed through public hooks.
  *
  * Spans live in memory and are analysed when the run ends. Executor-side
  * spans (per-slice kernel calls) are recorded straight into the same
  * buffer, which is sound because the benchmark runs Spark in local mode:
  * tasks execute in this JVM.
  */
object Tracer {
  /** A wait span (`waits`) marks the client blocking on work that runs on
    * another thread, such as a stream's commit; it claims no time itself,
    * the jobs that run while it is open do. */
  final case class Span(id: Long, parent: Long, unit: String, name: String,
      startNs: Long, endNs: Long, onDriver: Boolean, waits: Boolean = false) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  @volatile var enabled = false
  private val nextId = new AtomicLong(1)
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }
  // span clocks are nanoTime; listener events carry epoch milliseconds
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def toNano(epochMs: Long): Long = epochMs * 1000000L - epochNs0 + nano0

  /** Time `body` as a span named `name`. `unit` names the slice, batch or
    * request it belongs to; nested spans inherit it. */
  def span[T](name: String, unit: String = null, waits: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val outer = stack.get()
      val u = Option(unit).getOrElse(outer.headOption.map(_._2).getOrElse(""))
      val id = nextId.getAndIncrement()
      stack.set((id, u) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        buf.add(Span(id, outer.headOption.map(_._1).getOrElse(0L), u, name, t0,
          System.nanoTime(), onDriver = true, waits))
        stack.set(outer)
      }
    }

  /** The innermost open span on this thread (0 when none) and its unit. */
  def current: (Long, String) = stack.get().headOption.getOrElse((0L, ""))

  def newId(): Long = nextId.getAndIncrement()

  /** Record a span measured in an executor task; `enabled` is the
    * driver's flag captured into the task. */
  def record(enabled: Boolean, name: String, parent: Long, unit: String,
      startNs: Long, endNs: Long, id: Long = newId()): Unit =
    if (enabled) buf.add(Span(id, parent, unit, name, startNs, endNs, onDriver = false))

  def spans: Seq[Span] = buf.asScala.toSeq

  // ------------------------------------------------------------- analysis
  /** Total length of the union of `ivs`, clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var end = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  def descendants(all: Seq[Span], root: Span): Seq[Span] = {
    val kids = all.groupBy(_.parent)
    def go(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(go)
    go(root)
  }

  /** Share of `root`'s wall time that the trace attributes: the self time
    * of every layer span under it, plus, where only `root` or a wait span
    * is open, the time no Spark job runs (driver time) and the time a
    * job of a known program module runs. The rest, jobs that run outside
    * every layer span and belong to no known module, is unattributed. */
  def accountedShare(root: Span, tree: Seq[Span]): Double = {
    val (lo, hi) = (root.startNs, root.endNs)
    val claimed = tree.filter(s => s.id != root.id && !s.waits).map(s => (s.startNs, s.endNs))
    val (known, unknown) = Jobs.all.filter(j => j.endNs > lo && j.startNs < hi)
      .partition(j => moduleOf(j).isDefined)
    def iv(js: Seq[Jobs.Job]) = js.map(j => (j.startNs, j.endNs))
    val attributed = claimed ++ iv(known)
    val cuts = (Seq(lo, hi) ++ (attributed ++ iv(unknown)).flatMap { case (a, b) => Seq(a, b) })
      .filter(t => t >= lo && t <= hi).distinct.sorted
    def open(ivs: Seq[(Long, Long)], t: Long) = ivs.exists { case (a, b) => a <= t && t < b }
    val unattributed = cuts.zip(cuts.drop(1)).collect {
      case (a, b) if open(iv(unknown), a) && !open(attributed, a) => b - a
    }.sum
    1.0 - unattributed.toDouble / math.max(hi - lo, 1L)
  }

  /** Time inside `root` during which no Spark job was running. */
  def driverNs(root: Span): Long =
    (root.endNs - root.startNs) -
      covered(Jobs.all.map(j => (j.startNs, j.endNs)), root.startNs, root.endNs)

  /** Jobs submitted while `s` was open. */
  def jobsIn(s: Span): Seq[Jobs.Job] =
    Jobs.all.filter(j => j.startNs >= s.startNs && j.startNs <= s.endNs)

  // ------------------------------------------------------------- Spark side
  /** Job, stage, task, shuffle and spill counts, keyed by the call site
    * Spark records for each job (`<action> at <File>.scala:<line>`). */
  object Jobs extends SparkListener {
    final class Job(val id: Int, val startNs: Long, val site: String) {
      @volatile var endNs: Long = startNs
      val stages = new AtomicInteger(); val tasks = new AtomicInteger()
      val shuffleBytes = new AtomicLong(); val spillBytes = new AtomicLong()
      val inputBytes = new AtomicLong()
      def file: String = site.split(" at ").lastOption.getOrElse("").takeWhile(_ != ':')
    }
    private val jobs = TrieMap.empty[Int, Job]
    private val stageJob = TrieMap.empty[Int, Job]
    def all: Seq[Job] = jobs.values.toSeq

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val j = new Job(e.jobId, toNano(e.time), site)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.endNs = toNano(e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageJob.get(e.stageInfo.stageId).foreach { j =>
        j.stages.incrementAndGet(); j.tasks.addAndGet(e.stageInfo.numTasks)
        Option(e.stageInfo.taskMetrics).foreach { m =>
          j.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          j.spillBytes.addAndGet(m.diskBytesSpilled)
          j.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        }
      }
  }

  /** Executed plans of every successful action, with per-operator row
    * counts read from the plan's SQL metrics. */
  object Queries extends QueryExecutionListener {
    /** One executed action: its duration, and per plan node its name,
      * output rows and the rows its children produced (-1 when the node
      * keeps no row metric). */
    final case class Node(name: String, rowsOut: Long, rowsIn: Long)
    final case class Query(durationNs: Long, nodes: Seq[Node])
    private val qs = new ConcurrentLinkedQueue[Query]()
    /** Queries delivered since the last call; drain the bus first. */
    def take(): Seq[Query] = Iterator.continually(qs.poll()).takeWhile(_ != null).toSeq
    private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case o => o +: (o.children ++ o.subqueries).flatMap(walk)
    }
    /** Output rows of `p`, looking through stage wrappers and exchanges
      * to the nearest operator that counts them. */
    private def rows(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => rows(a.executedPlan)
      case s: QueryStageExec => rows(s.plan)
      case r: ReusedExchangeExec => rows(r.child)
      case o => o.metrics.get("numOutputRows").map(_.value)
        .getOrElse(if (o.children.isEmpty) -1L else o.children.map(rows).sum)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val nodes = walk(qe.executedPlan).map { n =>
        Node(n.nodeName, n.metrics.get("numOutputRows").map(_.value).getOrElse(-1L),
          if (n.children.isEmpty) -1L else n.children.map(rows).sum)
      }
      qs.add(Query(durationNs, nodes))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Counts log events whose message contains `needle`, from an appender
    * added to the root logger. */
  final class LogCounter(needle: String) {
    val count = new AtomicLong()
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    private val appender = new AbstractAppender("perfbench-" + needle.hashCode,
        null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage != null && e.getMessage.getFormattedMessage.contains(needle))
          count.incrementAndGet()
    }
    private val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    def attach(): Unit = {
      appender.start()
      ctx.getConfiguration.getRootLogger.addAppender(appender, Level.ALL, null)
      ctx.updateLoggers()
    }
    def detach(): Unit = {
      ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
      ctx.updateLoggers(); appender.stop()
    }
  }

  val reregistrations = new LogCounter("replaced a previously registered function")

  /** Samples, every few milliseconds, which program source file the
    * client thread and the streaming threads are executing (the innermost
    * `graft.*` frame). A streaming job's recorded call site is the query's
    * `start` call, so stream jobs are attributed by these samples. */
  object Sampler {
    private val samples = new ConcurrentLinkedQueue[(Long, String)]()
    @volatile private var thread: Thread = null
    def start(client: Thread): Unit = {
      thread = new Thread(() => {
        var targets = Seq(client); var refreshed = 0L
        try while (true) {
          val now = System.nanoTime()
          if (now - refreshed > 200000000L) {
            refreshed = now
            targets = client +: liveThreads().filter(_.getName.startsWith("stream execution thread"))
          }
          targets.foreach(t => t.getStackTrace.find(_.getClassName.startsWith("graft."))
            .foreach(f => samples.add((now, f.getFileName))))
          Thread.sleep(4)
        } catch { case _: InterruptedException => () }
      }, "perfbench-sampler")
      thread.setDaemon(true); thread.start()
    }
    /** Every live thread, without taking their stacks. */
    private def liveThreads(): Seq[Thread] = {
      var g = Thread.currentThread.getThreadGroup
      while (g.getParent != null) g = g.getParent
      val all = new Array[Thread](g.activeCount() * 2 + 16)
      all.take(g.enumerate(all, true)).toSeq
    }
    def stop(): Unit = if (thread != null) { thread.interrupt(); thread.join(); thread = null }
    /** The file most often sampled while `j` ran. */
    def fileDuring(j: Jobs.Job): Option[String] = {
      val in = samples.asScala.filter { case (t, _) => t >= j.startNs - 5000000L && t <= j.endNs }
      if (in.isEmpty) None else Some(in.groupBy(_._2).maxBy(_._2.size)._1)
    }
  }

  /** Program module of a job: from the stack samples taken while it ran,
    * otherwise from its recorded call site. */
  def moduleOf(j: Jobs.Job): Option[String] =
    Sampler.fileDuring(j).orElse(Some(j.file)).flatMap(Metrics.moduleOf)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(Jobs)
    spark.listenerManager.register(Queries)
    reregistrations.attach()
    Sampler.start(Thread.currentThread())
    enabled = true
  }

  def detach(spark: SparkSession): Unit = {
    enabled = false
    Sampler.stop()
    drain(spark)
    spark.sparkContext.removeSparkListener(Jobs)
    spark.listenerManager.unregister(Queries)
    reregistrations.detach()
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)
}

/** Per-layer metrics every workload's traced run reports the same way. */
object Trace {
  import Main.{M, Outcome, mean, median}

  /** Lowest share of a unit's wall time the trace must attribute, below
    * which the traced run fails. Traced runs at this commit attribute all
    * but a few microseconds of every unit (perfbench/baseline.json). */
  val AccountedFloor = 0.9

  /** `roots` are the unit spans (one per operation or batch) of the traced
    * phase and `requests` any further unit spans (the reads that follow a
    * batch); `plainS`/`tracedS` are the operation latencies of the
    * untraced and traced halves of the run. */
  def common(roots: Seq[Tracer.Span], plainS: Seq[Double], tracedS: Seq[Double],
      out: Outcome, requests: Seq[Tracer.Span] = Nil): Unit = {
    val driverSpans = Tracer.spans.filter(_.onDriver)
    val accounted = (roots ++ requests).map(r =>
      r.unit -> Tracer.accountedShare(r, Tracer.descendants(driverSpans, r)))
    out.check(accounted.forall(_._2 >= AccountedFloor),
      "trace leaves more than " + f"${1 - AccountedFloor}%.2f of a unit's wall time " +
        "unattributed: " + accounted.filter(_._2 < AccountedFloor).take(5).mkString(", "))
    out.notes += f"lowest accounted share of a unit: ${accounted.map(_._2).minOption.getOrElse(0.0)}%.4f"
    val n = math.max(roots.length, 1).toDouble
    out.layers ++= Seq(
      M("plans.driver_ms", mean(roots.map(Tracer.driverNs(_) / 1e6)), "ms"),
      M("plans.function_reregistrations", Tracer.reregistrations.count.get / n, "count"),
      M("caches.registered_frames", graft.GraftCaches.registeredCount().toDouble, "count"),
      M("caches.artifacts", graft.GraftCaches.artifactCount().toDouble, "count"),
      M("trace.overhead_share", median(tracedS) / median(plainS) - 1.0, "ratio"),
      M("trace.accounted_share", mean(accounted.map(_._2)), "ratio"))
  }
}
