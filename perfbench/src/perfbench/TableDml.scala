package perfbench

import java.nio.file.Paths

import scala.collection.immutable.TreeMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{GraftCatalog, TableLog, TidyIO}

/** table-dml: one client runs a seeded statement mix against a keyed
  * table built at set-up through the `graft` SQL catalog. A cycle is:
  * INSERT of a small batch, a sparse MERGE INTO with U/D/I rows (the
  * deletion-vector path), UPDATE, DELETE, four point lookups, a ~1%
  * key-range scan, a VERSION AS OF read, a change-feed read over the
  * last two versions, and a streaming CDC apply: an AvailableNow query
  * over the table's change feed (GraftLogCdfProvider) whose foreachBatch
  * merges the cycle's changes into a mirror table with TableLog.mergeMor
  * stamped with the batch id (exactly-once), the st30/st31 pattern as a
  * scheduled job. Every cycle ends with a compaction. Per-
  * statement fixed cost (analysis, manifest resolve, job launch, commit
  * claim) sets its time, and the version chain grows through the run.
  *
  * Reference: a bench-side model of the table (key → cents), kept per
  * version. Every read is checked against it: lookups and scans row by
  * row, AS OF reads against that version's model, change-feed reads by
  * replaying the feed onto the model of the version before the window,
  * the mirror by its row count and sum. The final table and mirror are
  * compared row by row.
  */
final class TableDml(o: Opts, sess: Session) extends Workload {
  private val baseRows = if (o.smoke) 2000 else 100000
  private val numFiles = 16
  private val span = 2L * baseRows / numFiles
  val itemName = "statements"
  val opKind = "cycle"

  private var rnd: java.util.Random = _
  private var table: String = _
  private var root: String = _
  private var dir: String = _
  private var model: TreeMap[Long, Long] = TreeMap.empty
  private val versions = mutable.Map.empty[Long, TreeMap[Long, Long]]
  private var nextKey = 0L
  // traced-phase counters
  private var headResolveS = 0.0
  private var filesScanned = 0L
  private var filesTotal = 0L
  private var rowsReturned = 0L
  private var rowsWritten = 0L
  private var firstVersion = 0L
  private var mergeMorS = 0.0

  private def sql(q: String): DataFrame = sess.spark.sql(q)
  private def mirror = s"$dir/mirror"
  private var feedFrom = 0L

  def setUp(rep: Int): Unit = {
    if (dir != null) TidyIO.deleteRecursively(Paths.get(dir))
    dir = s"${o.work}/dml-rep$rep"
    rnd = new java.util.Random(o.seed * 31L + 5L)
    val base = (0 until baseRows).map(i => (2L * i, 100L + rnd.nextInt(100000).toLong))
    val spark = sess.spark
    import spark.implicits._
    base.toDF("k", "cents").repartition(4).write.parquet(s"$dir/base")
    val ns = s"bench_r$rep"
    table = s"graft.$ns.t"
    sql(s"DROP TABLE IF EXISTS $table")
    sql(s"CREATE TABLE $table (k BIGINT, cents BIGINT) TBLPROPERTIES " +
      s"('primaryKey'='k', 'layout'='k div $span', 'numFiles'='$numFiles')")
    sql(s"INSERT INTO $table SELECT k, cents FROM parquet.`$dir/base`")
    root = spark.sessionState.catalogManager.catalog("graft").asInstanceOf[GraftCatalog]
      .tableLocation(Identifier.of(Array(ns), "t"))
    model = TreeMap(base: _*)
    versions.clear()
    val v = TableLog.currentVersion(root)
    versions(v) = model
    TableLog.commit(base.toDF("k", "cents"), mirror, expr(s"k div $span"), numFiles, "overwrite")
    feedFrom = v + 1
    nextKey = 2L * baseRows + 1
  }

  override def prepareTrace(): Unit = { setUp(0); warmUp() }

  /** Two cycles: the first after start-up is cold, the second still runs
    * ~25% slow while the JIT settles.
    */
  def warmUp(): Unit = {
    val warm = new Recorder
    (1 to (if (o.smoke) 1 else 2)).foreach(_ => runCycle(warm, traced = false))
    require(warm.failed == 0, "warm-up cycles failed")
  }

  // ---- statements ---------------------------------------------------------

  /** Record the head version the write produced, with the model. */
  private def committed(traced: Boolean): Unit = {
    val t0 = System.nanoTime()
    val v = TableLog.currentVersion(root)
    if (traced) {
      TableLog.readManifest(root, v)
      headResolveS += (System.nanoTime() - t0) / 1e9
    }
    versions(v) = model
  }

  private def existing(n: Int): Seq[Long] = {
    val ks = model.keysIterator
    val lo = rnd.nextInt(math.max(1, model.size - 4 * n))
    ks.drop(lo).take(4 * n).toSeq.grouped(4).map(_.head).toSeq
  }

  private def values(rows: Seq[(Long, Long)]): String =
    rows.map { case (k, c) => s"(${k}L, ${c}L)" }.mkString(", ")

  private def insert(rec: Recorder, traced: Boolean): Unit = {
    val rows = (0 until 50).map { _ => nextKey += 2; (nextKey, rnd.nextInt(100000).toLong) }
    rec.op("write", 1)(Trace.span("GraftCatalog.insert")(sql(s"INSERT INTO $table VALUES ${values(rows)}"))) { _ =>
      model ++= rows
      rowsWritten += rows.size
      committed(traced)
    }
  }

  private def merge(rec: Recorder, traced: Boolean): Unit = {
    val keys = existing(160)
    val (del, upd) = keys.splitAt(40)
    val ins = (0 until 40).map { _ => nextKey += 2; nextKey }
    val src = del.map(k => (k, 0L, "D")) ++ upd.map(k => (k, rnd.nextInt(100000).toLong, "U")) ++
      ins.map(k => (k, rnd.nextInt(100000).toLong, "I"))
    val spark = sess.spark
    import spark.implicits._
    src.toDF("k", "cents", "op").createOrReplaceTempView("dml_src")
    rec.op("merge", 1)(Trace.span("graftx.dml") {
      sql(s"""MERGE INTO $table t USING dml_src s ON t.k = s.k
             |WHEN MATCHED AND s.op = 'D' THEN DELETE
             |WHEN MATCHED AND s.op = 'U' THEN UPDATE SET cents = s.cents
             |WHEN NOT MATCHED AND s.op = 'I' THEN INSERT (k, cents) VALUES (s.k, s.cents)""".stripMargin)
    }) { _ =>
      model = model -- del ++ src.collect { case (k, c, op) if op != "D" => k -> c }
      rowsWritten += upd.size + ins.size
      committed(traced)
    }
  }

  private def update(rec: Recorder, traced: Boolean): Unit = {
    val lo = existing(1).head
    val hit = model.range(lo, lo + 24).keys.toSeq
    rec.op("write", 1)(Trace.span("graftx.dml")(
      sql(s"UPDATE $table SET cents = cents + 7 WHERE k BETWEEN $lo AND ${lo + 23}"))) { _ =>
      model ++= hit.map(k => k -> (model(k) + 7))
      rowsWritten += hit.size
      committed(traced)
    }
  }

  private def delete(rec: Recorder, traced: Boolean): Unit = {
    val keys = existing(5)
    rec.op("write", 1)(Trace.span("graftx.dml")(
      sql(s"DELETE FROM $table WHERE k IN (${keys.mkString(", ")})"))) { _ =>
      model --= keys
      committed(traced)
    }
  }

  /** Plan (to the executed plan), then collect: the two halves of a read. */
  private def read(query: => DataFrame): Array[Row] = {
    val df = Trace.span("GraftLogProvider.plan") { val d = query; d.queryExecution.executedPlan; d }
    Trace.span("GraftLogProvider.scan")(df.collect())
  }

  private def rows(rs: Array[Row]): Seq[(Long, Long)] = rs.map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private def pointRead(rec: Recorder, traced: Boolean, k: Long): Unit = {
    rec.op("point_read", 1)(read(sql(s"SELECT k, cents FROM $table WHERE k = $k"))) { rs =>
      require(rows(rs) == model.get(k).map(k -> _).toSeq, s"point read k=$k: ${rows(rs)} vs ${model.get(k)}")
      rowsReturned += rs.length
    }
    if (traced) {
      val (sel, total) = TableLog.planFilesPoint(root, "k", k)
      filesScanned += sel.size; filesTotal += total
    }
  }

  private def rangeRead(rec: Recorder, traced: Boolean): Unit = {
    val lo = existing(1).head
    val hi = lo + 2L * baseRows / 100
    rec.op("range_read", 1)(read(sql(s"SELECT k, cents FROM $table WHERE k BETWEEN $lo AND $hi"))) { rs =>
      require(rows(rs) == model.range(lo, hi + 1).toSeq, s"range read [$lo, $hi]: ${rs.length} rows")
      rowsReturned += rs.length
    }
    if (traced) {
      val (sel, total) = TableLog.planFiles(root, "k", lo, hi)
      filesScanned += sel.size; filesTotal += total
    }
  }

  private def asOfRead(rec: Recorder): Unit = {
    val head = versions.keys.max
    val v = math.max(versions.keys.min, head - 1 - rnd.nextInt(4))
    rec.op("history_read", 1)(read(sql(s"SELECT count(*), coalesce(sum(cents), 0) FROM $table VERSION AS OF $v"))) { rs =>
      val m = versions(v)
      require(rs.head.getLong(0) == m.size && rs.head.getLong(1) == m.valuesIterator.sum,
        s"AS OF $v: (${rs.head.getLong(0)}, ${rs.head.getLong(1)}) vs (${m.size}, ${m.valuesIterator.sum})")
    }
  }

  private def changeFeedRead(rec: Recorder): Unit = {
    val head = versions.keys.max
    val from = head - 1
    rec.op("history_read", 1)(read(
      sess.spark.read.format("graftlog").option("path", root).option("changeFeed", "true")
        .option("startingVersion", from.toString).option("endingVersion", head.toString).load()
        .select("k", "cents", "_change_type", "_commit_version"))) { rs =>
      var state = versions(from - 1)
      rs.groupBy(_.getLong(3)).toSeq.sortBy(_._1).foreach { case (_, xs) =>
        val (dels, ins) = xs.partition(_.getString(2) == "delete")
        dels.foreach { r =>
          require(state.get(r.getLong(0)).contains(r.getLong(1)), s"feed deletes absent row $r")
          state -= r.getLong(0)
        }
        ins.foreach(r => state += r.getLong(0) -> r.getLong(1))
      }
      require(state == versions(head), s"change feed ($from, $head] does not replay to the head")
    }
  }

  /** One micro-batch of the table's change feed onto the mirror: deletes
    * retire keys, inserts upsert them; an update's insert outranks its
    * delete in the same version, and later versions outrank earlier.
    */
  private def applyFeed(batch: DataFrame, id: Long): Unit =
    if (id > TableLog.lastTxn(mirror, "mirror")) {
      val isDel = col("_change_type") === "delete"
      val changes = batch.select(col("k"),
        (col("_commit_version") * 2 + when(isDel, 0L).otherwise(1L)).as("ver"),
        when(isDel, "D").otherwise("U").as("op"), col("cents").as("new_cents"))
      val t0 = System.nanoTime()
      TableLog.mergeMor(batch.sparkSession, mirror, changes, "k", expr(s"k div $span"), numFiles = 1,
        valCol = "cents", newValCol = "new_cents", txnTag = Some(s"mirror:$id"))
      mergeMorS += (System.nanoTime() - t0) / 1e9
    }

  private def streamApply(rec: Recorder): Unit =
    rec.op("stream_apply", 1)(Trace.span("GraftLogCdf.stream") {
      val q = sess.spark.readStream.format("graft.sources.GraftLogCdfProvider")
        .option("path", root).option("startingVersion", feedFrom.toString).load()
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$dir/mirror-checkpoint")
        .foreachBatch((b: DataFrame, id: Long) => applyFeed(b, id))
        .start()
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }) { _ =>
      val r = TableLog.read(sess.spark, mirror).agg(count(lit(1)), coalesce(sum("cents"), lit(0L))).head()
      require(r.getLong(0) == model.size && r.getLong(1) == model.valuesIterator.sum,
        s"mirror (${r.getLong(0)}, ${r.getLong(1)}) vs model (${model.size}, ${model.valuesIterator.sum})")
    }

  private def compact(rec: Recorder, traced: Boolean): Unit =
    rec.op("compact", 1)(Trace.span("TableLog.compact")(
      sql(s"CALL graft.system.compact(path => '$root', order_col => 'k', " +
        s"target_rows => ${baseRows / 4}, small_rows => ${baseRows / 32})").collect())) { _ =>
      committed(traced)
    }

  /** One cycle of the mix; its latency is the sum of its statements'. */
  private def runCycle(rec: Recorder, traced: Boolean): Unit = {
    val (busy0, failed0) = (rec.busyS, rec.failed)
    val stmts: Seq[() => Unit] = Seq(
      () => insert(rec, traced), () => merge(rec, traced), () => update(rec, traced),
      () => delete(rec, traced)) ++
      (existing(3) :+ (nextKey + 1)).map(k => () => pointRead(rec, traced, k)) ++
      Seq(() => rangeRead(rec, traced), () => asOfRead(rec), () => changeFeedRead(rec),
        () => streamApply(rec)) ++
      Seq(() => compact(rec, traced))
    stmts.foreach(_())
    if (rec.failed == failed0) rec.sample("cycle", rec.busyS - busy0)
  }

  /** Whole cycles until `seconds` have passed, so every run measures the same mix. */
  def measure(rec: Recorder, seconds: Double): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    do runCycle(rec, traced = false) while (System.nanoTime() < end)
  }

  def measureTraced(rec: Recorder, side: Recorder): Unit = {
    headResolveS = 0.0; filesScanned = 0L; filesTotal = 0L; rowsReturned = 0L; rowsWritten = 0L
    mergeMorS = 0.0
    firstVersion = TableLog.currentVersion(root)
    runCycle(rec, traced = true)
  }

  override def verifyFinal(rec: Recorder): Unit = rec.check("final table and mirror") {
    val got = rows(sql(s"SELECT k, cents FROM $table").collect())
    require(got == model.toSeq, s"final table: ${got.size} rows vs ${model.size} in the model")
    val mir = rows(TableLog.read(sess.spark, mirror).select("k", "cents").collect())
    require(mir == model.toSeq, s"final mirror: ${mir.size} rows vs ${model.size} in the model")
  }

  /** Bytes under the table root ÷ bytes of its live rows written once as plain parquet. */
  private def spaceAmp(): (Double, Long) = {
    val b = StoreStats.plainBytes(sess.spark, model.toSeq, s"$dir/plain")
    (StoreStats.dirBytes(root).toDouble / b, b)
  }

  def report(rec: Recorder): Seq[String] = {
    val s = rec.samples
    def d(name: String, kinds: String*) = Stats.describe(name, kinds.flatMap(k => s.getOrElse(k, Nil)))
    Seq(
      f"stmts_per_s ${rec.items / rec.busyS}%.3f stmt/s ($baseRows base rows, ${versions.keys.max} versions at end)",
      d("merge_s", "merge"), d("write_s", "write"), d("point_read_s", "point_read"),
      d("range_read_s", "range_read"), d("history_read_s", "history_read"),
      d("stream_apply_s", "stream_apply"), d("compact_s", "compact"),
      d("cycle_s", "cycle"), f"space_amp ${spaceAmp()._1}%.3f bytes/byte")
  }

  def layers(rec: Recorder, side: Recorder): Map[String, Double] = {
    val (_, plainBytes) = spaceAmp()
    StoreStats.layers(root, firstVersion, rowsWritten.toDouble * plainBytes / math.max(1, model.size)) ++ Map(
      "GraftLogProvider.plan_s" -> Trace.secondsIn("GraftLogProvider.plan"),
      "GraftLogProvider.files_scanned" -> filesScanned.toDouble,
      "GraftLogProvider.files_total" -> filesTotal.toDouble,
      "GraftLogProvider.rows_scanned_per_row_returned" ->
        Trace.recordsReadIn("GraftLogProvider.scan").toDouble / math.max(1L, rowsReturned),
      "TableLog.head_resolve_s" -> headResolveS,
      "TableLog.merge_mor_s" -> mergeMorS) ++ streamLayers
  }

  /** Micro-batch phases from the StreamingQueryListener's progress events. */
  private def streamLayers: Map[String, Double] = {
    val ps = Trace.progress.asScala.toSeq.map(_.progress)
    def dur(keys: String*): Seq[Double] =
      ps.map(p => keys.flatMap(k => Option(p.durationMs.get(k)).map(_.doubleValue)).sum)
    val withRows = ps.filter(_.numInputRows > 0)
    Map(
      "stream.triggers" -> ps.size.toDouble,
      "stream.trigger_ms.p50" -> (if (ps.isEmpty) 0.0 else Stats.median(dur("triggerExecution"))),
      "stream.latest_offset_ms" -> dur("latestOffset", "getOffset").sum,
      "stream.get_batch_ms" -> dur("getBatch").sum,
      "stream.add_batch_ms" -> dur("addBatch").sum,
      "stream.wal_commit_ms" -> dur("walCommit").sum,
      "stream.planning_ms" -> dur("queryPlanning").sum,
      "stream.rows_per_trigger" ->
        (if (withRows.isEmpty) 0.0 else withRows.map(_.numInputRows).sum.toDouble / withRows.size))
  }
}
