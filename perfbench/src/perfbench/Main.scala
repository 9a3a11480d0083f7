package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark JVM (run.py builds it). */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      smoke: Boolean, cores: Int, work: String, out: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("smoke") == "1", m("cores").toInt, m("work"), m.getOrElse("out", ""))
  }
}

/** What one measured phase did: latency samples per operation kind,
  * items carried through, attempts, failures, and the time spent inside
  * operations ("busy"). An operation that throws, or whose output fails
  * its check, counts as failed and contributes no latency sample; its
  * exception is printed, never swallowed.
  */
final class Recorder {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  var items = 0L
  var busyS = 0.0

  def sample(kind: String, secs: Double): Unit = synchronized {
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += secs
  }

  def failure(what: String, e: Throwable): Unit = synchronized {
    failed += 1
    System.err.println(s"perfbench: FAILED $what: $e")
    e.printStackTrace()
  }

  /** Time `body` (inside a root trace span named `kind`), then check
    * its output outside the timed region.
    */
  def op[T](kind: String, nItems: Long)(body: => T)(check: T => Unit): Unit = {
    synchronized { attempted += 1 }
    val t0 = System.nanoTime()
    val r = try Right(Trace.span(kind)(body)) catch { case NonFatal(e) => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    synchronized { busyS += dt }
    r match {
      case Left(e) => failure(kind, e)
      case Right(v) =>
        try {
          check(v)
          sample(kind, dt)
          synchronized { items += nItems }
        } catch { case NonFatal(e) => failure(s"$kind (check)", e) }
    }
  }

  /** A correctness check that is not itself a timed operation. */
  def check(what: String)(body: => Unit): Unit = {
    synchronized { attempted += 1 }
    try body catch { case NonFatal(e) => failure(what, e) }
  }

}

object Stats {
  /** Linear-interpolated percentile, p in [0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val x = p * (s.length - 1)
      val i = x.toInt
      if (i + 1 >= s.length) s.last else s(i) + (x - i) * (s(i + 1) - s(i))
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** The highest of p90/p99 with at least ten samples beyond it. */
  def tail(n: Int): Option[Double] =
    if (n >= 1000) Some(0.99) else if (n >= 100) Some(0.9) else None

  /** "name p50 x s, p90 y s (n=N)" for a latency sample. */
  def describe(name: String, xs: Seq[Double]): String =
    if (xs.isEmpty) s"$name: no samples"
    else {
      val t = tail(xs.length).map(p => f", p${(p * 100).round}%d ${pct(xs, p)}%.4f s")
        .getOrElse(s", max ${"%.4f".format(xs.max)} s (sample too small for a p90)")
      f"$name.p50 ${median(xs)}%.4f s$t (n=${xs.length}%d)"
    }
}

/** The Spark session of a run. `restart` replaces it with one at
  * another core count (the 1-core scaling probe of the traced run).
  */
final class Session(var cores: Int) {
  var spark: SparkSession = graft.Graft.session(cores)

  def restart(n: Int): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    cores = n
    spark = graft.Graft.session(n)
  }
}

/** One workload of the benchmark. */
trait Workload {
  /** Generate inputs into a fresh directory and build the base tables;
    * called `reps` times (set-up time is their median), the last one's
    * state is what the measured phase uses.
    */
  def setUp(rep: Int): Unit

  /** One untimed operation after set-up (JIT, Spark code generation). */
  def warmUp(): Unit

  /** Run the workload's loop for `seconds` (untraced phase). */
  def measure(rec: Recorder, seconds: Double): Unit

  /** Run the fixed amount of work of the traced phase. Work that is not
    * the workload's own operation goes on `side`, which stays out of the
    * tracing-overhead comparison (fcs-etl: the corpus-curate passes).
    */
  def measureTraced(rec: Recorder, side: Recorder): Unit

  /** Checks on the final state, after a phase. */
  def verifyFinal(rec: Recorder): Unit = ()

  /** The workload's own named metrics (printed, not in the result). */
  def report(rec: Recorder): Seq[String]

  /** Per-layer metrics of the traced phase that only the workload can
    * count (the Spark-wide ones come from [[Trace]]).
    */
  def layers(rec: Recorder, side: Recorder): Map[String, Double]

  /** Prepare the traced phase, before tracing starts: bring the state
    * back to what the untraced phase started from, or set up the side
    * work.
    */
  def prepareTrace(): Unit = ()

  /** The operation to time on a 1-core session for the 1-core vs
    * nproc-core time ratio, with its median seconds at nproc cores
    * (from the untraced phase); None where the ratio does not apply.
    */
  def scaling(plain: Recorder): Option[(() => Unit, Double)] = None

  /** What one "item" is, for items_per_s. */
  def itemName: String

  /** The operation kind whose median latency is op_s.p50. */
  def opKind: String
}

object Main {
  def main(args: Array[String]): Unit = {
    val code = try { run(Opts.parse(args)); 0 }
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def run(o: Opts): Unit = {
    Files.createDirectories(Paths.get(o.work))
    System.setProperty("spark.sql.catalog.graft.warehouse", s"${o.work}/warehouse")
    System.setProperty("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
    System.setProperty("spark.local.dir", s"${o.work}/spark-local")
    // job attribution reads the whole call stack of each job
    System.setProperty("spark.callstack.depth", "1000")
    val sess = new Session(o.cores)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    def workload(name: String): Workload = name match {
      case "fcs-etl" => new FcsEtl(o, sess)
      case "table-dml" => new TableDml(o, sess)
    }
    val wl = workload(o.workload)
    // set-up time: session start + median of repeated data set-ups + the
    // warm-up; a traced run does not report it, so it sets up once
    val reps = if (o.smoke || o.trace) 1 else 3
    val setups = (1 to reps).map { r => val t0 = System.nanoTime(); wl.setUp(r); secs(t0) }
    val tw = System.nanoTime()
    wl.warmUp()
    val warmS = secs(tw)
    val setupS = sessionS + Stats.median(setups) + warmS
    val (heapMb, heapReads) = Metrics.liveHeapMb
    println(f"[${o.workload}] seed ${o.seed} cores ${o.cores}: session $sessionS%.3f s, " +
      s"data set-ups ${setups.map(x => "%.3f".format(x)).mkString(", ")} s, " +
      f"warm-up $warmS%.3f s, setup_s $setupS%.3f s")
    println(s"[${o.workload}] heap after full collections: " +
      s"${heapReads.map(x => "%.3f".format(x)).mkString(", ")} MB")

    val plain = new Recorder
    val t0 = System.nanoTime()
    wl.measure(plain, o.seconds)
    val wall = secs(t0)
    wl.verifyFinal(plain)
    val e2e = endToEnd(wl, plain, setupS, heapMb)
    println(f"[${o.workload}] untraced: ${plain.attempted}%d ops attempted, ${plain.failed}%d failed, " +
      f"${plain.items}%d ${wl.itemName} in ${plain.busyS}%.3f s busy / $wall%.3f s wall")
    (wl.report(plain) ++ Seq(
      s"failed_frac ${plain.failed.toDouble / math.max(plain.attempted, 1)} ratio",
      f"peak_rss_mb ${Metrics.peakRssMb}%.1f MB (a diagnostic: it varies by a fifth or more between runs)"))
      .foreach(l => println(s"[${o.workload}]   $l"))
    e2e.foreach { case (k, v) => println(f"[${o.workload}]   $k ${v}%.6f ${Metrics.unit(k)}") }

    val (attempted, failed, metrics) =
      if (!o.trace) (plain.attempted, plain.failed, e2e)
      else {
        wl.prepareTrace()
        val traced = new Recorder
        val side = new Recorder
        Trace.start(sess.spark)
        val t1 = System.nanoTime()
        wl.measureTraced(traced, side)
        val twall = secs(t1)
        val tr = Trace.stop(o.workload, s"${Paths.get(o.out).getParent}/trace-${o.workload}-${o.seed}.json")
        wl.verifyFinal(traced)
        val e2eT = endToEnd(wl, traced, setupS, heapMb)
        val overhead = e2eT("items_per_s") / e2e("items_per_s")
        println(f"[${o.workload}] traced: ${traced.attempted}%d ops, ${traced.failed}%d failed, " +
          f"${traced.busyS}%.3f s busy / $twall%.3f s wall (side work: ${side.attempted}%d ops, " +
          f"${side.failed}%d failed, ${side.busyS}%.3f s busy)")
        println(f"[${o.workload}] tracing overhead: items_per_s ${e2eT("items_per_s")}%.3f traced vs " +
          f"${e2e("items_per_s")}%.3f untraced (x$overhead%.3f); op_s.p50 " +
          f"${e2eT("op_s.p50")}%.4f vs ${e2e("op_s.p50")}%.4f s")
        val scale = wl.scaling(plain).flatMap { case (op, tN) => cores1Ratio(o, sess, op, tN, side) }
        val m = tr.metrics ++ wl.layers(traced, side) ++ scale.map("scaling.cores1_ratio" -> _) ++ Map(
          "trace.coverage" -> tr.coverage,
          "trace.overhead" -> (1.0 - overhead))
        Metrics.printLayerTable(o.workload, m)
        (plain.attempted + traced.attempted + side.attempted, plain.failed + traced.failed + side.failed,
          Metrics.perLayer.map(k => k -> m.getOrElse(k, 0.0)).toMap)
      }
    val json = Metrics.resultJson(failed == 0, attempted, failed, metrics)
    Files.write(Paths.get(o.out), json.getBytes("UTF-8"))
    sess.spark.stop()
  }

  /** `op` on a 1-core session, after the workload's warm-up of two
    * operations, as the median of three timed ones, divided by `tN`, its
    * median at nproc cores. A failing operation counts on `rec` and gives
    * no ratio.
    */
  def cores1Ratio(o: Opts, sess: Session, op: () => Unit, tN: Double, rec: Recorder): Option[Double] = {
    sess.restart(1)
    val (warm, timed) = if (o.smoke) (0, 1) else (2, 3)
    var ts = Seq.empty[Double]
    rec.check("1-core operations") {
      (1 to warm).foreach(_ => op())
      ts = (1 to timed).map { _ => val t0 = System.nanoTime(); op(); secs(t0) }
    }
    if (ts.isEmpty) None
    else {
      val t1 = Stats.median(ts)
      println(f"[${o.workload}] scaling: median ${t1}%.3f s of $timed%d operations at 1 core " +
        f"(${ts.map(x => "%.3f".format(x)).mkString(", ")}) vs ${tN}%.3f s at ${o.cores}%d cores, " +
        f"ratio ${t1 / tN}%.2f")
      Some(t1 / tN)
    }
  }

  /** The end-to-end metrics, the same for every workload. */
  def endToEnd(wl: Workload, rec: Recorder, setupS: Double, heapMb: Double): Map[String, Double] = Map(
    "setup_s" -> setupS,
    "items_per_s" -> rec.items / math.max(rec.busyS, 1e-9),
    "op_s.p50" -> Stats.median(rec.samples.getOrElse(wl.opKind, Nil).toSeq),
    "heap_live_mb" -> heapMb)
}
