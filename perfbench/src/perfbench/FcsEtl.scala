package perfbench

import java.io.{DataOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.operators.FlowCyto
import graft.sources.{FcsSource, TidyIO}

/** fcs-etl: the paper's own pipeline over a generated FCS 3.1
  * experiment. Each pass: FcsSource.read → FlowCyto.compensate →
  * arcsinh (fluorescence) / logicle (scatter) → rect and polygon gates
  * → gateStats / channelStats / histogram → join to the design table →
  * pivot → parquet emit through TidyIO. Decode, codegen projections and
  * aggregation shuffles set its time; it never touches the table store.
  *
  * Reference: the generator keeps every event's compensated, transformed
  * gate coordinates (computed in plain Scala from the float32 values it
  * wrote) and redraws any event within 1e-3 of a gate edge, so the
  * exact gate counts do not depend on floating-point detail.
  */
final class FcsEtl(o: Opts, sess: Session) extends Workload {
  private val samples = 16
  private val eventsPer = if (o.smoke) 500 else 10000
  private val fl = (1 to 10).map(i => s"FL$i-A")
  private val channels = Seq("FSC-A", "SSC-A") ++ fl
  private val cofactor = 150.0
  // gates on arcsinh-scaled, compensated channels
  private val rect = (2.0, 5.5, 1.5, 5.0) // FL1 x FL2: [xlo, xhi) x [ylo, yhi)
  private val polyX = Array(1.0, 6.0, 6.5, 2.0)
  private val polyY = Array(1.0, 0.5, 5.5, 6.0)
  private val strains = Seq("wt", "dlacI", "pBAD", "pTet")
  private val timepoints = Seq(6, 18)
  val itemName = "events"
  val opKind = "fcs-etl.pass"

  private var dir: String = _
  private var spill: Array[Array[Double]] = _
  /** Per sample name: (events, rect-gated, rect∧poly-gated). */
  private var ref: Map[String, (Long, Long, Long)] = _
  private var design: Map[String, (String, String, Int, Int)] = _
  private var inputBytes = 0L
  private var passes = 0
  private var emitBytes = 0L

  // ---- generator --------------------------------------------------------

  private def spillover(rnd: java.util.Random): Array[Array[Double]] =
    Array.tabulate(fl.size, fl.size) { (i, j) =>
      if (i == j) 1.0
      else if (math.abs(i - j) == 1) 0.02 + 0.12 * rnd.nextDouble()
      else if (math.abs(i - j) == 2) 0.01 * rnd.nextDouble()
      else 0.0
    }

  private def invert(m: Array[Array[Double]]): Array[Array[Double]] = {
    val n = m.length
    val a = m.map(_.clone())
    val inv = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    for (c <- 0 until n) {
      val piv = (c until n).maxBy(r => math.abs(a(r)(c)))
      val t = a(c); a(c) = a(piv); a(piv) = t
      val ti = inv(c); inv(c) = inv(piv); inv(piv) = ti
      val d = a(c)(c)
      for (j <- 0 until n) { a(c)(j) /= d; inv(c)(j) /= d }
      for (r <- 0 until n if r != c) {
        val f = a(r)(c)
        for (j <- 0 until n) { a(r)(j) -= f * a(c)(j); inv(r)(j) -= f * inv(c)(j) }
      }
    }
    inv
  }

  private def round4(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  private def inPoly(x: Double, y: Double): Boolean = {
    var inside = false
    var j = polyX.length - 1
    for (i <- polyX.indices) {
      if ((polyY(i) > y) != (polyY(j) > y) &&
          x < (polyX(j) - polyX(i)) * (y - polyY(i)) / (polyY(j) - polyY(i)) + polyX(i))
        inside = !inside
      j = i
    }
    inside
  }

  private def edgeDist(x: Double, y: Double): Double =
    polyX.indices.map { i =>
      val j = (i + 1) % polyX.length
      val (ax, ay, bx, by) = (polyX(i), polyY(i), polyX(j), polyY(j))
      val t = math.max(0.0, math.min(1.0,
        ((x - ax) * (bx - ax) + (y - ay) * (by - ay)) / ((bx - ax) * (bx - ax) + (by - ay) * (by - ay))))
      math.hypot(x - (ax + t * (bx - ax)), y - (ay + t * (by - ay)))
    }.min

  private def writeFcs(path: String, rows: Array[Array[Float]], spillKw: String): Unit = {
    val kw = Seq("$MODE" -> "L", "$DATATYPE" -> "F", "$BYTEORD" -> "1,2,3,4",
      "$PAR" -> channels.size.toString, "$TOT" -> rows.length.toString,
      "$SPILLOVER" -> spillKw) ++
      channels.zipWithIndex.flatMap { case (n, i) =>
        Seq(s"$$P${i + 1}N" -> n, s"$$P${i + 1}B" -> "32", s"$$P${i + 1}R" -> "262144")
      }
    val text = ("/" + kw.map { case (k, v) => s"$k/$v/" }.mkString).getBytes(StandardCharsets.US_ASCII)
    val (ts, te) = (58, 58 + text.length - 1)
    val (ds, de) = (te + 1, te + rows.length * channels.size * 4)
    val header = "FCS3.1    " + Seq(ts, te, ds, de, 0, 0).map(v => f"$v%8d").mkString
    val buf = ByteBuffer.allocate(rows.length * channels.size * 4).order(ByteOrder.LITTLE_ENDIAN)
    rows.foreach(_.foreach(buf.putFloat))
    val out = new DataOutputStream(new FileOutputStream(path))
    try { out.write(header.getBytes(StandardCharsets.US_ASCII)); out.write(text); out.write(buf.array()) }
    finally out.close()
  }

  /** Writes `samples` FCS files (mixed Gaussian populations, $SPILLOVER)
    * and the design CSV under `dir`.
    */
  private def generate(): Unit = {
    val rnd = new java.util.Random(o.seed)
    // the $SPILLOVER keyword carries 6 decimals: keep exactly what graft will read
    spill = spillover(rnd).map(_.map(v => String.format(java.util.Locale.ROOT, "%.6f", Double.box(v)).toDouble))
    val spillKw = (Seq(fl.size.toString) ++ fl ++ spill.flatten.map(_.toString)).mkString(",")
    val invR = invert(spill)
    Files.createDirectories(Paths.get(s"$dir/fcs"))
    val pops = Array.fill(4)(Array.fill(fl.size)(math.exp(4.5 + 4.5 * rnd.nextDouble())))
    val refB = Map.newBuilder[String, (Long, Long, Long)]
    val designB = Map.newBuilder[String, (String, String, Int, Int)]
    val n = fl.size
    val truth = new Array[Double](n)
    val g = new Array[Double](4)
    for (s <- 0 until samples) {
      val name = f"sample_$s%03d"
      val w = pops.map(_ => 0.2 + rnd.nextDouble())
      var (nRect, nBoth) = (0L, 0L)
      val rows = Array.fill(eventsPer) {
        var row: Array[Float] = null
        while (row == null) {
          var u = rnd.nextDouble() * w.sum
          val p = w.indices.find { i => u -= w(i); u <= 0 }.getOrElse(w.length - 1)
          for (i <- 0 until n) truth(i) = math.max(0.0, pops(p)(i) * math.exp(0.35 * rnd.nextGaussian())) - 40.0
          val obs = Array.tabulate(n) { j => var v = 0.0; for (i <- 0 until n) v += truth(i) * spill(i)(j); v.toFloat }
          // reference: graft compensates the float32 values it reads, rounds
          // to 4 decimals, then scales with asinh(x / cofactor)
          for (j <- 0 until 4) {
            var c = 0.0
            for (i <- 0 until n) c += obs(i).toDouble * invR(i)(j)
            val v = round4(c) / cofactor
            g(j) = math.log(v + math.sqrt(v * v + 1.0))
          }
          val clear = Seq(g(0) - rect._1, g(0) - rect._2, g(1) - rect._3, g(1) - rect._4)
            .forall(d => math.abs(d) > 1e-3) && edgeDist(g(2), g(3)) > 1e-3
          if (clear) {
            val inRect = g(0) >= rect._1 && g(0) < rect._2 && g(1) >= rect._3 && g(1) < rect._4
            if (inRect) nRect += 1
            if (inRect && inPoly(g(2), g(3))) nBoth += 1
            row = Array(math.max(10.0, 50000 + 20000 * rnd.nextGaussian()).toFloat,
              math.max(10.0, 20000 + 8000 * rnd.nextGaussian()).toFloat) ++ obs
          }
        }
        row
      }
      writeFcs(s"$dir/fcs/$name.fcs", rows, spillKw)
      refB += name -> (eventsPer.toLong, nRect, nBoth)
      designB += name -> (strains(s % strains.size), if ((s / strains.size) % 2 == 0) "none" else "iptg",
        timepoints((s / (2 * strains.size)) % timepoints.size), s / (2 * strains.size * timepoints.size))
    }
    ref = refB.result()
    design = designB.result()
    val csv = "sample,strain,inducer,timepoint,replicate\n" + design.toSeq.sortBy(_._1).map {
      case (n, (st, ind, tp, rep)) => s"$n,$st,$ind,$tp,$rep"
    }.mkString("\n") + "\n"
    Files.createDirectories(Paths.get(s"$dir/design"))
    Files.write(Paths.get(s"$dir/design/design.csv"), csv.getBytes(StandardCharsets.UTF_8))
    inputBytes = Files.list(Paths.get(s"$dir/fcs")).iterator().asScala.map(Files.size).sum
  }

  // ---- pipeline ---------------------------------------------------------

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private case class Out(g1: Array[(String, Long, Long)], g2: Array[(String, Long, Long)],
                         cs: Array[(String, Long)], pivot: Array[(String, String, Double, Double)])

  /** One pass. Traced, it first forces the read, compensate and
    * transform prefixes, so each module's time is the difference of
    * successive prefix times.
    */
  private def pass(traced: Boolean): Out = {
    val spark = sess.spark
    val ev = FcsSource.read(spark, s"$dir/fcs")
    val comp = FlowCyto.compensate(ev, fl.map(col), spill, fl)
    val tr = comp.withColumns(fl.map(c => c -> FlowCyto.arcsinhChannel(col(c), cofactor)).toMap)
      .withColumn("FSC-A", GraftFunctions.logicle(col("FSC-A"), lit(262144.0), lit(4.5), lit(0.5)))
      .withColumn("SSC-A", GraftFunctions.logicle(col("SSC-A"), lit(262144.0), lit(4.5), lit(0.5)))
      .withColumn("sample", regexp_extract(col("file"), "([^/]+)\\.fcs$", 1))
    if (traced) {
      Trace.span("FcsSource.read")(noop(ev))
      Trace.span("FlowCyto.compensate")(noop(comp))
      Trace.span("FlowCyto.transform")(noop(tr))
    }
    val rectG = FlowCyto.rectGate(col("FL1-A"), col("FL2-A"), rect._1, rect._2, rect._3, rect._4)
    val polyG = FlowCyto.polyGate(col("FL3-A"), col("FL4-A"), polyX, polyY)
    def gates(g: Column): Array[(String, Long, Long)] =
      Trace.span("FlowCyto.gate") {
        FlowCyto.gateStats(tr, g, Seq("sample")).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      }
    val g1 = gates(rectG)
    val g2 = gates(rectG && polyG)
    val cs = Trace.span("FlowCyto.stats") {
      FlowCyto.channelStats(tr, col("FL5-A"), Seq("sample")).collect()
        .map(r => (r.getString(0), r.getLong(1)))
    }
    val des = TidyIO.readCsv(spark, s"$dir/design",
      Some("sample STRING, strain STRING, inducer STRING, timepoint INT, replicate INT"))
    Trace.span("TidyIO.emit") {
      val hist = FlowCyto.histogram(tr, col("FL1-A"), 0.0, 0.25, Seq("sample"))
      TidyIO.writeClustered(hist.join(des, "sample"), s"$dir/emit", Seq("strain"), Seq("sample", "bin"))
    }
    val pivot = Trace.span("design.pivot") {
      FlowCyto.gateStats(tr, rectG, Seq("sample")).join(des, "sample")
        .groupBy("strain", "inducer").pivot("timepoint", timepoints)
        .agg(avg("frac_gated_ppm")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    }
    Out(g1, g2, cs, pivot)
  }

  private def check(out: Out): Unit = {
    val g1 = out.g1.map(r => r._1 -> (r._2, r._3)).toMap
    val g2 = out.g2.map(r => r._1 -> (r._2, r._3)).toMap
    require(g1.size == samples && g2.size == samples, s"gate stats cover ${g1.size}/${g2.size} of $samples samples")
    ref.foreach { case (s, (n, nRect, nBoth)) =>
      require(g1(s) == (n, nRect), s"rect gate $s: got ${g1(s)}, expected ${(n, nRect)}")
      require(g2(s) == (n, nBoth), s"rect+poly gate $s: got ${g2(s)}, expected ${(n, nBoth)}")
    }
    require(out.cs.length == samples && out.cs.forall(_._2 == eventsPer), "channelStats counts")
    val want = ref.toSeq.groupBy { case (s, _) => (design(s)._1, design(s)._2) }.map { case (k, xs) =>
      def ppm(tp: Int): Double = {
        val v = xs.filter(x => design(x._1)._3 == tp).map { case (_, (n, r, _)) => ((r * 1000000L) / n).toDouble }
        v.sum / v.size
      }
      k -> (ppm(timepoints(0)), ppm(timepoints(1)))
    }
    require(out.pivot.length == want.size, s"pivot rows ${out.pivot.length} vs ${want.size}")
    out.pivot.foreach { case (st, ind, a, b) =>
      val (wa, wb) = want((st, ind))
      require(math.abs(a - wa) < 1e-6 && math.abs(b - wb) < 1e-6, s"pivot $st/$ind: ($a, $b) vs ($wa, $wb)")
    }
  }

  private def checkEmit(): Unit = {
    val n = sess.spark.read.parquet(s"$dir/emit").agg(sum("n")).head().getLong(0)
    require(n == samples.toLong * eventsPer, s"emitted histogram holds $n events")
  }

  private def runPass(rec: Recorder, traced: Boolean): Unit =
    rec.op("fcs-etl.pass", samples.toLong * eventsPer)(pass(traced)) { out =>
      check(out)
      checkEmit()
      passes += 1
      emitBytes += StoreStats.parquetBytes(s"$dir/emit")
    }

  def setUp(rep: Int): Unit = {
    if (dir != null) TidyIO.deleteRecursively(Paths.get(dir))
    dir = s"${o.work}/fcs-rep$rep"
    generate()
  }

  /** Two passes: the first after start-up is cold, the second still
    * runs ~30% slow while the JIT settles.
    */
  def warmUp(): Unit = (1 to (if (o.smoke) 1 else 2)).foreach(_ => check(pass(traced = false)))

  def measure(rec: Recorder, seconds: Double): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    do runPass(rec, traced = false) while (System.nanoTime() < end)
  }

  /** The LLM-data half of the paper: one checked pass of it rides on this
    * traced phase, after one untraced warm-up pass.
    */
  private val corpus = new CorpusCurate(o, sess)

  override def prepareTrace(): Unit = { corpus.setUp(); corpus.warmUp() }

  def measureTraced(rec: Recorder, side: Recorder): Unit = {
    passes = 0
    emitBytes = 0L
    (1 to (if (o.smoke) 1 else 2)).foreach(_ => runPass(rec, traced = true))
    corpus.run(side)
    corpus.report(side).foreach(l => println(s"[corpus-curate]   $l"))
  }

  def report(rec: Recorder): Seq[String] = Seq(
    f"events_per_s ${rec.items / rec.busyS}%.1f events/s " +
      s"($samples samples x $eventsPer events x ${channels.size} float32 channels, ${inputBytes} bytes)",
    Stats.describe("pass_s", rec.samples.getOrElse("fcs-etl.pass", Nil).toSeq),
    s"pass_s in order ${rec.samples.getOrElse("fcs-etl.pass", Nil).map(x => "%.3f".format(x)).mkString(", ")}")

  def layers(rec: Recorder, side: Recorder): Map[String, Double] = {
    // successive prefixes forced to a no-op sink: each module's time is what it adds
    val tRead = Trace.secondsIn("FcsSource.read")
    val tComp = Trace.secondsIn("FlowCyto.compensate")
    val tTr = Trace.secondsIn("FlowCyto.transform")
    Map(
      "FcsSource.read_s" -> tRead,
      "FcsSource.bytes" -> (inputBytes * passes).toDouble,
      "FcsSource.events" -> (samples.toLong * eventsPer * passes).toDouble,
      "FlowCyto.compensate_s" -> math.max(0.0, tComp - tRead),
      "FlowCyto.transform_s" -> math.max(0.0, tTr - tComp),
      // the output actions prune columns, so they re-run only part of the
      // transform prefix: their times are the actions' own, prefix included
      "FlowCyto.gate_s" -> Trace.secondsIn("FlowCyto.gate"),
      "FlowCyto.stats_s" -> Trace.secondsIn("FlowCyto.stats"),
      "TidyIO.emit_s" -> Trace.secondsIn("TidyIO.emit"),
      "TidyIO.bytes_written" -> (emitBytes + corpus.shardBytes).toDouble) ++ corpus.layers(side)
  }

  override def scaling(plain: Recorder): Option[(() => Unit, Double)] =
    Some((() => check(pass(traced = false)), Stats.median(plain.samples.getOrElse(opKind, Nil).toSeq)))
}
