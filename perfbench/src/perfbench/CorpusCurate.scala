package perfbench

import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{ConnectedComponents, CorpusOps, Dedup, TextStats}
import graft.sources.TidyIO

/** corpus-curate, the LLM-data half of the paper, run inside fcs-etl's
  * traced phase (it is not a workload of its own; see README). Each
  * pass: Dedup.exactDedup → Dedup.minhashLshPairs →
  * ConnectedComponents.minLabel → TextStats quality and Gopher columns
  * → CorpusOps.contamination → TidyIO.writeShards. Every stage's output
  * is cached and forced inside the stage's span, so each span times
  * its own operator and the next stage reads the cached rows.
  *
  * Input: a Zipf-vocabulary corpus with injected exact duplicates
  * (case and whitespace variants), near-duplicates (one word replaced
  * in a doc of 100+ words), low-quality docs (too short, or '#' on every fifth word)
  * and eval-set contamination (a 20-word span of an eval doc), at
  * recorded rates.
  *
  * Reference, computed in plain Scala: exact groups by graft's
  * normalisation (printable-ASCII fold, trim, lower case); components
  * from the injected near-duplicate clusters; the Gopher verdict from
  * the injected low-quality flag; contamination by matching every
  * surviving doc's word 13-grams against the eval set's.
  */
final class CorpusCurate(o: Opts, sess: Session) {
  private val originals = if (o.smoke) 300 else 2000
  private val threshold = 0.7
  private val gramN = 13
  private val shards = 8
  private val evalBase = 1000000000L

  private var dir: String = _
  private var texts: Map[Long, String] = _
  /** Injected near-duplicate clusters: original id → variant ids. */
  private var clusters: Map[Long, Seq[Long]] = _
  private var lowQuality: Set[Long] = _
  private var evalGrams: Set[String] = _
  private var rates: String = _
  private var candidates = 0L
  private var pairsFound = 0L
  /** Bytes of the shards the traced passes wrote. */
  var shardBytes = 0L

  // ---- generator --------------------------------------------------------

  private def norm(t: String): String = t.replaceAll("[^!-~]+", " ").trim.toLowerCase(Locale.ROOT)
  private def toks(t: String): Array[String] = norm(t).split(" ")
  private def grams(ws: Array[String], n: Int): Set[String] =
    if (ws.length < n) Set(ws.mkString(" ")) else ws.sliding(n).map(_.mkString(" ")).toSet
  private def jaccard(a: String, b: String): Double = {
    val (x, y) = (grams(toks(a), 3), grams(toks(b), 3))
    val i = (x & y).size
    i.toDouble / (x.size + y.size - i)
  }

  /** Writes the corpus and the eval set as parquet under `dir`. */
  private def generate(): Unit = {
    val rnd = new java.util.Random(o.seed * 17L + 3L)
    val stop = TextStats.gopherStopwords
    val vocab = stop.toArray ++ Iterator.continually(
      Iterator.fill(3 + rnd.nextInt(7))(('a' + rnd.nextInt(26)).toChar).mkString)
      .filterNot(stop.contains).distinct.take(4000)
    val cum = vocab.indices.map(r => 1.0 / (r + 1)).scanLeft(0.0)(_ + _).tail.toArray
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cum, rnd.nextDouble() * cum.last)
      vocab(math.min(if (i >= 0) i else -i - 1, vocab.length - 1))
    }
    def words(n: Int): Array[String] = Array.fill(n)(word())
    def text(ws: Seq[String]): String =
      ws.grouped(15).map(l => l.head.capitalize +: l.tail).map(_.mkString(" ")).mkString("\n")
    // a doc the Gopher rules keep: mean word length well inside [3, 10], two stopwords
    def clean(n: Int): Array[String] = {
      var ws = words(n)
      while (ws.map(_.length).sum.toDouble / n < 3.5 || ws.map(_.length).sum.toDouble / n > 9 ||
             ws.distinct.count(stop.contains) < 2) ws = words(n)
      ws
    }
    val evalDocs = (0 until 40).map(_ => words(80))
    evalGrams = evalDocs.flatMap(ws => grams(ws.toArray, gramN)).toSet
    val out = mutable.LinkedHashMap.empty[Long, String]
    val cl = mutable.LinkedHashMap.empty[Long, Seq[Long]]
    val low = mutable.Set.empty[Long]
    var (nExact, nNear, nLow, nContam) = (0, 0, 0, 0)
    var next = 0L
    def add(t: String): Long = { next += 1 + rnd.nextInt(3); out(next) = t; next }
    for (_ <- 0 until originals) {
      val u = rnd.nextDouble()
      if (u < 0.05) { low += add(text(words(20 + rnd.nextInt(20)))); nLow += 1 }
      else if (u < 0.08) { // '#' on every fifth word: fails the Gopher symbol rule (at most 1 in 10)
        low += add(text(clean(60 + rnd.nextInt(120)).zipWithIndex.map { case (w, i) => if (i % 5 == 0) "#" + w else w }))
        nLow += 1
      } else {
        var ws = clean(60 + rnd.nextInt(120))
        if (rnd.nextDouble() < 0.03) {
          val span = evalDocs(rnd.nextInt(evalDocs.size)).slice(30, 50)
          val at = rnd.nextInt(ws.length)
          ws = ws.take(at) ++ span ++ ws.drop(at)
          nContam += 1
        }
        val id = add(text(ws))
        if (rnd.nextDouble() < 0.04) {
          (0 to rnd.nextInt(2)).foreach { _ =>
            add(if (rnd.nextBoolean()) text(ws).toUpperCase(Locale.ROOT) else text(ws).replace(" ", "  \t"))
            nExact += 1
          }
        }
        if (ws.length >= 100 && rnd.nextDouble() < 0.04) {
          cl(id) = (0 to rnd.nextInt(2)).map { _ =>
            val v = ws.clone()
            val i = rnd.nextInt(v.length)
            while (v(i) == ws(i)) v(i) = word()
            nNear += 1
            add(text(v))
          }
        }
      }
    }
    texts = out.toMap
    clusters = cl.toMap
    lowQuality = low.toSet
    rates = s"${out.size} docs from $originals originals: $nExact exact copies, $nNear near-duplicates, " +
      s"$nLow low-quality, $nContam contaminated originals, 40 eval docs"
    val spark = sess.spark
    import spark.implicits._
    out.toSeq.toDF("id", "text").repartition(4).write.parquet(s"$dir/docs")
    evalDocs.zipWithIndex.map { case (ws, i) => (evalBase + i, text(ws)) }.toDF("id", "text")
      .coalesce(1).write.parquet(s"$dir/eval")
  }

  // ---- pipeline ---------------------------------------------------------

  private case class Out(exactGroups: Map[Long, Long], kept: Long, pairs: Array[(Long, Long, Double)],
                         comps: Map[Long, Long], quality: Map[Long, Int], contaminated: Set[Long],
                         shards: Array[(Long, Long)])

  private def forced(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }

  private def pass(): Out = {
    val spark = sess.spark
    try {
      val docs = spark.read.parquet(s"$dir/docs")
      val (groups, kept) = Trace.span("Dedup.exact") {
        val h = forced(Dedup.exactDedup(docs, "id", "text"))
        val kept = forced(docs.join(h.select(col("keep_id").as("id")), Seq("id"), "left_semi"))
        (h.filter(col("n_copies") > 1).select("keep_id", "n_copies").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap, kept)
      }
      val pairs = Trace.span("Dedup.minhash")(forced(Dedup.minhashLshPairs(kept, "id", "text", threshold)))
      val comps = Trace.span("ConnectedComponents.minLabel")(
        forced(ConnectedComponents.minLabel(pairs.select("id_a", "id_b"))))
      val reps = kept.join(comps.filter(col("cluster") =!= col("id")).select("id"), Seq("id"), "left_anti")
      val good = Trace.span("TextStats.quality") {
        val cols = TextStats.gopherColumns(col("text")).filter(_._1 == "keep") ++
          TextStats.qualityColumns(Dedup.normText(col("text")), Dedup.tokens(col("text")))
            .filter(_._1 == "n_tokens")
        forced(reps.select(Seq(col("id"), col("text")) ++ cols.map { case (n, c) => c.as(n) }: _*)
          .filter(col("keep") === 1))
      }
      val contaminated = Trace.span("CorpusOps.decontam") {
        val ev = spark.read.parquet(s"$dir/eval")
        forced(CorpusOps.contamination(
          good.select(col("id"), col("text"), lit(false).as("is_eval"))
            .unionByName(ev.select(col("id"), col("text"), lit(true).as("is_eval"))),
          "id", "text", col("is_eval"), gramN))
      }
      val manifest = Trace.span("TidyIO.emit") {
        TidyIO.writeShards(good.join(contaminated.select(col("doc_id").as("id")), Seq("id"), "left_anti"),
          "id", "text", shards, s"$dir/shards").collect()
      }
      Out(groups, kept.count(),
        pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))),
        comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
        good.select("id", "n_tokens").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap,
        contaminated.collect().map(_.getLong(0)).toSet,
        manifest.map(r => (r.getLong(1), r.getLong(2))))
    } finally spark.catalog.clearCache()
  }

  private def check(out: Out): Unit = {
    // exact duplicates: groups of equal normalised text, kept at their least id
    val byNorm = texts.groupBy { case (_, t) => norm(t) }.values.map(_.keys.toSeq)
    val wantGroups = byNorm.filter(_.size > 1).map(g => g.min -> g.size.toLong).toMap
    require(out.exactGroups == wantGroups, s"exact groups: ${out.exactGroups.size} vs ${wantGroups.size}")
    val kept = byNorm.map(_.min).toSet
    require(out.kept == kept.size, s"exact dedup keeps ${out.kept} docs, expected ${kept.size}")
    // near duplicates: every pair lies in one injected cluster with its exact Jaccard
    val clusterOf = clusters.flatMap { case (c, vs) => (c +: vs).map(_ -> c) }
    out.pairs.foreach { case (a, b, j) =>
      require(clusterOf.get(a).exists(clusterOf.get(b).contains), s"pair ($a, $b) is not an injected near-duplicate")
      val want = jaccard(texts(a), texts(b))
      require(want >= threshold && math.abs(want - j) < 6e-4, s"pair ($a, $b): jaccard $j vs $want")
    }
    pairsFound = out.pairs.length
    // components: each injected cluster (after exact dedup) is one component labelled by its least id
    val keptOrig = byNorm.map(g => g.min -> g).flatMap { case (m, g) => g.map(_ -> m) }.toMap
    val wantComps = clusters.toSeq.flatMap { case (c, vs) =>
      val members = (c +: vs).map(keptOrig).distinct
      if (members.size < 2) Nil else members.map(_ -> members.min)
    }.toMap
    require(out.comps == wantComps, s"components: ${out.comps.size} nodes vs ${wantComps.size}, " +
      s"${(out.comps.toSet diff wantComps.toSet).take(5)} unexpected")
    val reps = kept -- wantComps.filter { case (id, c) => id != c }.keys
    // Gopher verdict: exactly the injected low-quality docs go
    val good = reps.filterNot(lowQuality)
    require(out.quality.keySet == good, s"quality filter keeps ${out.quality.size} docs, expected ${good.size}")
    out.quality.foreach { case (id, n) => require(n == toks(texts(id)).length, s"doc $id: n_tokens $n") }
    // contamination: surviving docs sharing a word 13-gram with the eval set
    val contam = good.filter(id => grams(toks(texts(id)), gramN).exists(evalGrams))
    require(out.contaminated == contam, s"contaminated ${out.contaminated.size} docs, expected ${contam.size}")
    val fin = good -- contam
    require(out.shards.map(_._1).sum == fin.size, s"shards hold ${out.shards.map(_._1).sum} docs, expected ${fin.size}")
    require(out.shards.map(_._2).sum == fin.toSeq.map(texts(_).length.toLong).sum, "shard payload bytes")
  }

  def docs: Long = texts.size.toLong

  /** Generate the inputs (untimed, before tracing starts). */
  def setUp(): Unit = {
    dir = s"${o.work}/corpus"
    if (Files.exists(Paths.get(dir))) TidyIO.deleteRecursively(Paths.get(dir))
    generate()
    println(s"[corpus-curate] $rates")
  }

  /** One pass (the traced run has no time for the workloads' two), then
    * the candidate-pair count of the LSH stage: the pairs
    * minhashLshPairs returns at threshold 0 (its candidates, verified or
    * not). Untimed, before tracing starts.
    */
  def warmUp(): Unit = {
    check(pass())
    val docsDf = sess.spark.read.parquet(s"$dir/docs")
    val kept = docsDf.join(Dedup.exactDedup(docsDf, "id", "text").select(col("keep_id").as("id")), Seq("id"), "left_semi")
    candidates = try Dedup.minhashLshPairs(kept, "id", "text", 0.0).count()
      finally sess.spark.catalog.clearCache()
  }

  /** One checked pass on `rec`, of `docs` items. */
  def run(rec: Recorder): Unit =
    rec.op("corpus.pass", docs)(pass()) { out =>
      check(out)
      shardBytes += StoreStats.parquetBytes(s"$dir/shards")
    }

  def report(rec: Recorder): Seq[String] = Seq(
    f"docs_per_s ${rec.items / rec.busyS}%.1f docs/s ($rates)",
    Stats.describe("corpus_pass_s", rec.samples.getOrElse("corpus.pass", Nil).toSeq))

  def layers(rec: Recorder): Map[String, Double] = Map(
    "Dedup.exact_s" -> Trace.secondsIn("Dedup.exact"),
    "Dedup.minhash_s" -> Trace.secondsIn("Dedup.minhash"),
    "Dedup.candidate_pairs" -> candidates.toDouble,
    "Dedup.pair_precision" -> pairsFound.toDouble / math.max(candidates, 1L),
    "ConnectedComponents.s" -> Trace.secondsIn("ConnectedComponents.minLabel"),
    "ConnectedComponents.jobs" -> Trace.jobsIn("ConnectedComponents.minLabel").toDouble,
    "TextStats.quality_s" -> Trace.secondsIn("TextStats.quality"),
    "CorpusOps.decontam_s" -> Trace.secondsIn("CorpusOps.decontam"),
    "corpus.docs_per_s" -> rec.items / math.max(rec.busyS, 1e-9))
}
