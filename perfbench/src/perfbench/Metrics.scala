package perfbench

/** The metric names and units of the result object. They must match
  * BENCHMARK.json (test_bench.py checks it): `--trace 0` reports every
  * end-to-end metric, `--trace 1` every per-layer metric, on every
  * workload. A layer a workload does not touch reports 0 ("should not
  * move").
  */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "items_per_s" -> "1/s",
    "op_s.p50" -> "s",
    "heap_live_mb" -> "MB")

  val layers: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.job_s" -> "s",
    "spark.driver_gap_s" -> "s", "spark.sched_delay_s" -> "s",
    "spark.shuffle_bytes" -> "bytes", "spark.spill_bytes" -> "bytes", "spark.gc_s" -> "s",
    "spark.failed_tasks" -> "count", "spark.unattributed_jobs" -> "count",
    "FcsSource.read_s" -> "s", "FcsSource.bytes" -> "bytes", "FcsSource.events" -> "count",
    "FlowCyto.transform_s" -> "s", "FlowCyto.compensate_s" -> "s",
    "FlowCyto.gate_s" -> "s", "FlowCyto.stats_s" -> "s",
    "TidyIO.emit_s" -> "s", "TidyIO.bytes_written" -> "bytes",
    "GraftLogProvider.plan_s" -> "s", "GraftLogProvider.files_scanned" -> "count",
    "GraftLogProvider.files_total" -> "count",
    "GraftLogProvider.rows_scanned_per_row_returned" -> "ratio",
    "TableLog.head_resolve_s" -> "s", "TableLog.chain_len" -> "count",
    "TableLog.files_live" -> "count", "TableLog.files_added" -> "count",
    "TableLog.files_removed" -> "count", "TableLog.dv_rows" -> "count",
    "TableLog.bytes_written" -> "bytes", "TableLog.write_amp" -> "ratio",
    "TableLog.merge_mor_s" -> "s",
    "graftx.dml.jobs" -> "count", "graftx.dml.job_s" -> "s",
    "graftx.materialize.jobs" -> "count", "graftx.slotwrite.job_s" -> "s",
    "stream.triggers" -> "count", "stream.trigger_ms.p50" -> "ms",
    "stream.latest_offset_ms" -> "ms", "stream.get_batch_ms" -> "ms",
    "stream.add_batch_ms" -> "ms", "stream.wal_commit_ms" -> "ms",
    "stream.planning_ms" -> "ms", "stream.rows_per_trigger" -> "count",
    "Dedup.exact_s" -> "s", "Dedup.minhash_s" -> "s", "Dedup.candidate_pairs" -> "count",
    "Dedup.pair_precision" -> "ratio", "ConnectedComponents.s" -> "s",
    "ConnectedComponents.jobs" -> "count", "TextStats.quality_s" -> "s",
    "CorpusOps.decontam_s" -> "s", "corpus.docs_per_s" -> "1/s",
    "trace.coverage" -> "ratio", "trace.overhead" -> "ratio",
    "scaling.cores1_ratio" -> "ratio")

  /** Counts that repeat exactly between traced runs of one seed
    * (fixed work, one client); marked `=` in the layer table.
    */
  val exact: Set[String] = Set("spark.jobs", "spark.tasks", "spark.failed_tasks", "FcsSource.bytes", "FcsSource.events",
      "GraftLogProvider.files_scanned", "GraftLogProvider.files_total",
      "TableLog.chain_len", "TableLog.files_live", "TableLog.files_added", "TableLog.files_removed",
      "TableLog.dv_rows", "graftx.dml.jobs", "graftx.materialize.jobs",
      "Dedup.candidate_pairs", "Dedup.pair_precision", "ConnectedComponents.jobs")

  val perLayer: Seq[String] = layers.map(_._1)
  private val units = (endToEnd ++ layers).toMap
  def unit(name: String): String = units(name)

  /** Heap still reachable after full collections, in MB, and every
    * reading taken. Taken after set-up and warm-up, before the loop:
    * Spark's status store grows with every job, so a reading after a
    * time-bounded loop varies with its length. A collection frees the
    * driver objects of finished queries (broadcasts, shuffles, RDDs)
    * only after Spark's context cleaner has dropped their blocks, which
    * it does after the previous collection, so the floor takes several
    * collections to reach: readings fell 290 → 170 → 68 MB on fcs-etl,
    * and a loaded host needs more rounds. It collects until five
    * readings in a row agree within 0.05 MB (a second of no change),
    * for at most 60 s.
    */
  def liveHeapMb: (Double, Seq[Double]) = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    val rs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val end = System.nanoTime() + 60000000000L
    def settled = rs.size >= 5 && { val l = rs.takeRight(5); l.max - l.min < 0.05 }
    while (!settled && System.nanoTime() < end) {
      System.gc()
      Thread.sleep(250)
      rs += mem.getHeapMemoryUsage.getUsed / 1048576.0
    }
    (rs.takeRight(5).min, rs.toSeq)
  }

  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
    finally src.close()
  }

  def printLayerTable(workload: String, m: Map[String, Double]): Unit = {
    val ex = exact
    println(s"[$workload] per-layer metrics (= marks a count that repeats exactly for a seed)")
    layers.foreach { case (k, u) =>
      val v = m.getOrElse(k, 0.0)
      val s = if (v == math.rint(v) && math.abs(v) < 1e15) f"${v.toLong}%d" else f"$v%.4f"
      println(f"  ${if (ex(k)) "=" else " "} $k%-46s $s%16s $u")
    }
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def resultJson(correct: Boolean, attempted: Long, failed: Long, m: Map[String, Double]): String = {
    val ms = m.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k": {"value": ${num(v)}, "unit": "${unit(k)}"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
