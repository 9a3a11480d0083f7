package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.sources.TableLog

/** Physical state of a graftlog table, read through TableLog's public
  * functions after a phase (never inside a timed operation).
  */
object StoreStats {
  def dirBytes(p: String): Long =
    Files.walk(Paths.get(p)).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Bytes of the parquet files under `p`. */
  def parquetBytes(p: String): Long =
    Files.walk(Paths.get(p)).iterator().asScala.filter(_.toString.endsWith(".parquet")).map(Files.size).sum

  /** Bytes of `live` (key, value) rows written once as plain parquet. */
  def plainBytes(spark: SparkSession, live: Seq[(Long, Long)], path: String): Long = {
    import spark.implicits._
    live.toDF("k", "cents").coalesce(1).write.mode("overwrite").parquet(path)
    dirBytes(path)
  }

  /** Per-layer TableLog metrics for the versions after `fromVersion`.
    * `userBytes` is what the rows the phase wrote would take as plain
    * parquet (the write-amplification denominator).
    */
  def layers(root: String, fromVersion: Long, userBytes: Double): Map[String, Double] = {
    val head = TableLog.currentVersion(root)
    val m = TableLog.readManifest(root, head)
    // delta manifests since the last full one: what a head resolve replays
    var chain = 0
    var c = m
    while (c.kind == "delta" && c.parent >= 0) { chain += 1; c = TableLog.readManifest(root, c.parent) }
    val deltas = (fromVersion + 1 to head).map(v => TableLog.versionDelta(root, v))
    val added = deltas.flatMap(_._1)
    val bytesWritten = added.map(f => Paths.get(if (f.path.startsWith("/")) f.path else s"$root/${f.path}"))
      .filter(Files.exists(_)).map(Files.size).sum
    Map(
      "TableLog.chain_len" -> chain.toDouble,
      "TableLog.files_live" -> m.files.size.toDouble,
      "TableLog.files_added" -> added.size.toDouble,
      "TableLog.files_removed" -> deltas.map(_._2.size).sum.toDouble,
      "TableLog.dv_rows" -> m.files.map(f => f.rows - f.liveRows).sum.toDouble,
      "TableLog.bytes_written" -> bytesWritten.toDouble,
      "TableLog.write_amp" -> bytesWritten / math.max(userBytes, 1.0))
  }
}
