package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Bench-side tracing: one span per call into a layer, recorded from
  * the benchmark's own files around graft's public functions, plus the
  * Spark jobs and streaming progress those calls cause.
  *
  * A span's id rides the Spark local property [[Prop]] while it is
  * open, so every job it launches (including AQE's jobs on other
  * threads, which copy the submitting thread's properties) carries the
  * span that caused it. Spans stay in memory and are written out when
  * the traced phase ends. Off (the untraced phase), `span` only runs
  * its body.
  */
object Trace {
  final case class Span(id: Long, name: String, parent: Long, op: Long, startNs: Long, endNs: Long) {
    def secs: Double = (endNs - startNs) / 1e9
  }

  final class Job(val id: Int, val startNs: Long, val span: Long, val callSite: Seq[String]) {
    @volatile var endNs = 0L
    var tasks = 0
    var failedTasks = 0
    var recordsRead = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var schedDelayMs = 0L
    def secs: Double = (endNs - startNs) / 1e9
  }

  /** What the traced phase recorded, reduced to per-layer metrics. */
  final case class Result(metrics: Map[String, Double], coverage: Double)

  val Prop = "perfbench.span"

  @volatile private var enabled = false
  @volatile private var sc: SparkContext = _
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  private val open = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)
  private val jobs = new ConcurrentHashMap[Int, Job]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]
  // wall-clock (listener event) → nanoTime (span) conversion
  private val nsOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def wallToNs(ms: Long): Long = ms * 1000000L - nsOffset
  private var gc0 = 0L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get
      val (parent, op) = stack.headOption.getOrElse((0L, id))
      open.set((id, op) :: stack)
      val prev = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, parent, op, t0, System.nanoTime()))
        sc.setLocalProperty(Prop, prev)
        open.set(stack)
      }
    }

  /** Sum of the spans named `name`, in seconds. */
  def secondsIn(name: String): Double =
    spans.asScala.iterator.filter(_.name == name).map(_.secs).sum

  private def jobsOf(name: String): Iterable[Job] = {
    val ids = spans.asScala.iterator.filter(_.name == name).map(_.id).toSet
    jobs.values.asScala.filter(j => ids(j.span))
  }

  /** Spark jobs launched inside spans named `name`. */
  def jobsIn(name: String): Int = jobsOf(name).size

  /** Task-level records read by the jobs of spans named `name`. */
  def recordsReadIn(name: String): Long = jobsOf(name).iterator.map(_.recordsRead).sum

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toLong).getOrElse(0L)
      val site = if (e.stageInfos.isEmpty) Nil
        else e.stageInfos.maxBy(_.stageId).details.split("\n").toSeq
      jobs.put(e.jobId, new Job(e.jobId, wallToNs(e.time), span, site))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endNs = wallToNs(e.time))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.synchronized {
          j.tasks += 1
          if (e.reason != Success) j.failedTasks += 1
          val m = e.taskMetrics
          if (m != null) {
            j.recordsRead += m.inputMetrics.recordsRead
            j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            val i = e.taskInfo
            j.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
          }
        }
      }
  }

  private object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def gcMillis: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

  def start(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(JobListener)
    spark.streams.addListener(StreamListener)
    gc0 = gcMillis
    enabled = true
  }

  /** Graft source file (module) of each frame of a job's call site. A
    * frame of `org.apache.spark.sql.graftx` names `graftx.<file>`.
    */
  private val Frame = """^\s*(?:at\s+)?([\w$.]+)\.[\w$<>]+\(([\w$]+)\.scala:\d+\)""".r.unanchored
  def modules(site: Seq[String]): Seq[String] = site.flatMap {
    case Frame(cls, file) if cls.startsWith("org.apache.spark.sql.graftx.") => Some(s"graftx.$file")
    case Frame(cls, file) if cls.startsWith("graft.") => Some(file)
    case _ => None
  }
  private def benchFrame(site: Seq[String]): Boolean = site.exists(_.contains("perfbench."))

  /** Stop tracing, wait for the listener bus to deliver every job's
    * end, write the spans and jobs to `path`, and reduce them.
    */
  def stop(workload: String, path: String): Result = {
    enabled = false
    val deadline = System.nanoTime() + 10000000000L
    while (jobs.values.asScala.exists(_.endNs == 0L) && System.nanoTime() < deadline)
      Thread.sleep(20)
    Thread.sleep(200)
    sc.removeSparkListener(JobListener)
    SparkSession.active.streams.removeListener(StreamListener)
    val gcS = (gcMillis - gc0) / 1e3
    val ss = spans.asScala.toVector.sortBy(_.startNs)
    val js = jobs.values.asScala.toVector.filter(_.endNs > 0L).sortBy(_.id)
    write(path, ss, js)
    val children = ss.groupBy(_.parent)
    def covered(s: Span): Long = union(children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)),
      s.startNs, s.endNs)
    val roots = ss.filter(_.parent == 0L)

    // per-layer table: span name → calls, total, self, jobs, job seconds
    val jobsBySpan = js.groupBy(_.span)
    println(f"[$workload] per-layer spans (self = duration minus the time child spans cover)")
    println(f"  ${"span"}%-28s ${"calls"}%6s ${"total_s"}%9s ${"self_s"}%9s ${"jobs"}%6s ${"job_s"}%9s ${"tasks"}%7s")
    ss.groupBy(_.name).toSeq.sortBy(-_._2.map(_.secs).sum).foreach { case (name, xs) =>
      val own = xs.flatMap(s => jobsBySpan.getOrElse(s.id, Nil))
      println(f"  $name%-28s ${xs.size}%6d ${xs.map(_.secs).sum}%9.3f " +
        f"${xs.map(s => (s.endNs - s.startNs - covered(s)) / 1e9).sum}%9.3f ${own.size}%6d " +
        f"${own.map(_.secs).sum}%9.3f ${own.map(_.tasks).sum}%7d")
    }
    // jobs by the innermost graft file of their call site
    println(s"[$workload] jobs by the innermost graft file of their call site")
    js.groupBy(j => modules(j.callSite).headOption.getOrElse(
        if (benchFrame(j.callSite)) "(bench)" else "(unattributed)"))
      .toSeq.sortBy(-_._2.size).foreach { case (m, xs) =>
        println(f"  $m%-28s ${xs.size}%6d jobs ${xs.map(_.secs).sum}%9.3f s")
      }

    val rootNs = roots.map(s => s.endNs - s.startNs).sum.toDouble
    val coverage = if (rootNs == 0) 0.0 else roots.map(covered).sum / rootNs
    // driver time inside operations that no Spark job covers
    val jobIv = js.map(j => (j.startNs, j.endNs))
    val gapS = roots.map(r => (r.endNs - r.startNs) - union(jobIv, r.startNs, r.endNs)).sum / 1e9
    val unattributed = js.count(j => modules(j.callSite).isEmpty && !benchFrame(j.callSite))
    def graftx(file: String): Seq[Job] = js.filter(j => modules(j.callSite).contains(s"graftx.$file"))
    val m = Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.tasks" -> js.map(_.tasks).sum.toDouble,
      "spark.job_s" -> js.map(_.secs).sum,
      "spark.driver_gap_s" -> gapS,
      "spark.sched_delay_s" -> js.map(_.schedDelayMs).sum / 1e3,
      "spark.shuffle_bytes" -> js.map(_.shuffleBytes).sum.toDouble,
      "spark.spill_bytes" -> js.map(_.spillBytes).sum.toDouble,
      "spark.gc_s" -> gcS,
      "spark.failed_tasks" -> js.map(_.failedTasks).sum.toDouble,
      "spark.unattributed_jobs" -> unattributed.toDouble,
      "graftx.dml.jobs" -> graftx("dml").size.toDouble,
      "graftx.dml.job_s" -> graftx("dml").map(_.secs).sum,
      "graftx.materialize.jobs" -> graftx("materialize").size.toDouble,
      "graftx.slotwrite.job_s" -> graftx("slotwrite").map(_.secs).sum)
    println(f"[$workload] operations: ${rootNs / 1e9}%.3f s, of which Spark jobs cover " +
      f"${rootNs / 1e9 - gapS}%.3f s and driver time outside any job (spark.driver_gap_s) is $gapS%.3f s; " +
      f"layer spans cover ${coverage * 100}%.1f%%")
    Result(m, coverage)
  }

  /** Nanoseconds of [lo, hi] covered by the union of `iv`. */
  private def union(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._1 < x._2)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    covered
  }

  private def write(path: String, ss: Seq[Span], js: Seq[Job]): Unit = {
    val sb = new StringBuilder("{\"spans\": [\n")
    sb ++= ss.map(s => s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "op": ${s.op}, """ +
      s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""").mkString(",\n")
    sb ++= "],\n\"jobs\": [\n"
    sb ++= js.map(j => s"""{"id": ${j.id}, "span": ${j.span}, "start_ns": ${j.startNs}, "end_ns": ${j.endNs}, """ +
      s""""tasks": ${j.tasks}, "module": "${modules(j.callSite).headOption.getOrElse("")}"}""").mkString(",\n")
    sb ++= "]}\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(path), sb.toString.getBytes("UTF-8"))
  }
}
