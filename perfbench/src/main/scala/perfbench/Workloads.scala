package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.{Dedup, Sinks, TextStats}
import graft.pipelines.{CurationPipeline, F1Pipelines}

/** Quality gate → exact dedup → MinHash-LSH near dedup → split, published
  * as a versioned snapshot; one operation is one pass over the corpus.
  */
final class CurateDocs(spark: SparkSession, work: String) extends Workload {
  private val path = s"$work/curated"
  private var docs: DataFrame = _
  private var dir: String = _
  private var n = 0L
  private val passes = mutable.ArrayBuffer.empty[(Long, Map[String, Any])]
  private val layerCounts = mutable.Map.empty[String, Double]
  private val MinQuality = 400000L

  def derive(d: String): Unit = {
    dir = d
    docs = graft.model.Tables.documents(spark, d).select(col("doc_id"), col("text"))
    n = docs.count()
  }

  // pass times keep falling for several passes while the JIT compiles
  // the generated code; timed passes on that slope swing with CPU load
  val warmupPasses = 3
  val nominalPassSeconds = 2.5

  /** Warm-up passes publish to their own path. */
  def pass(r: Runner, warmup: Boolean): Unit =
    r.op("curate") {
      val out = if (warmup) s"$path-warmup" else path
      val (v, m) = r.spans("pipelines.curateAndPublish") {
        CurationPipeline.curateAndPublish(docs, "doc_id", "text", out, minQualityE6 = MinQuality)
      }
      if (!warmup) passes += ((v, m))
      def l(k: String) = m(k).asInstanceOf[Long]
      l("n_train") + l("n_val") + l("n_test") == l("docs_kept")
    }

  /** Each stage of the curation chain materialized on its own (persisted,
    * through the noop sink), with the dedup funnel's counts.
    */
  override def layers(r: Runner): Unit = r.op("layers") {
    val sp = r.spans
    def stage(name: String)(df: => DataFrame): (DataFrame, Long) = sp(name) {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      (p, Materialize.noop(p))
    }
    val (quality, _) = stage("textstats.quality") {
      TextStats.qualityScore(docs, "doc_id", "text").filter(col("quality_e6") >= MinQuality)
    }
    val gated = docs.join(quality, Seq("doc_id"), "left_semi")
    val (exact, _) = stage("dedup.exact")(Dedup.exactDedup(gated, "doc_id", "text"))
    val afterExact = gated.join(exact.select("doc_id"), Seq("doc_id"), "left_semi")
    // shingling and signatures form one layer: MinHash is computed from
    // the hashed shingle arrays
    val (withSh, sigs) = sp("dedup.minhash_sig") {
      val sh = stage("dedup.shingles") {
        Dedup.registerShingleHashFn(afterExact)
          .withColumn("toks", split(col("text"), " "))
          .withColumn("sh", Dedup.shingleHashes("toks", 3))
          .filter(size(col("sh")) > 0)
          .select(col("doc_id"), col("sh"))
      }._1
      (sh, stage("dedup.signatures")(Dedup.minhashSignatures(sh, "doc_id", 32))._1)
    }
    val (cands, nc) = stage("dedup.lsh_candidates")(Dedup.lshCandidates(sigs, "doc_id", 32, 2))
    val (pairs, nv) = stage("dedup.verify")(Dedup.verifyJaccard(cands, withSh, "doc_id", 0.5))
    val survivors = afterExact.join(pairs.select(col("key_b").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    val (splits, kept) = stage("textstats.split")(TextStats.sampleSplit(survivors, "doc_id"))
    sp("sinks.versioned")(Sinks.writeVersioned(
      survivors.join(splits, Seq("doc_id")), s"$path-layers"))
    layerCounts ++= Map("dedup.candidates" -> nc.toDouble, "dedup.verified" -> nv.toDouble,
      "dedup.verify_yield" -> (if (nc == 0) 0.0 else nv.toDouble / nc),
      "curate.kept_share" -> kept.toDouble / n)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    true
  }

  override def counters: Map[String, Double] = layerCounts.toMap

  /** Invariants of the published corpus, restated without the program:
    * survivors are input docs, no two share a text, each passes the
    * quality gate, the splits add up, and every pass published the same
    * rows. Against the generator's record of which docs are copies: no
    * near copy survives beside its source's text (near dedup ran), and
    * every clean doc survives (nothing else was deleted). A clean doc is
    * an original that passes the gate, whose text occurs once and has no
    * near copy.
    */
  def check(): Set[String] = {
    val hashes = passes.map { case (v, _) =>
      Materialize.fingerprint(Sinks.readVersioned(spark, path, Some(v)))
    }.distinct
    val last = Sinks.readVersioned(spark, path).select("doc_id", "text", "split").collect()
    val input = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val truth = spark.read.parquet(s"$dir/documents_truth.parquet")
      .select("doc_id", "kind", "src_id").collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
    val keptIds = last.map(_.getLong(0)).toSet
    val keptTexts = last.map(_.getString(1)).toSet
    val nearSources = truth.collect { case (_, "near", src) => input(src) }.toSet
    val copies = input.values.groupBy(identity).filter(_._2.size > 1).keySet
    val clean = truth.collect { case (id, "orig", _) if
      !copies(input(id)) && !nearSources(input(id)) &&
        CurateDocs.qualityE6(input(id)) >= MinQuality => id }
    val checks = Seq(
      "same rows every pass" -> (hashes.size == 1),
      "survivors are input docs" ->
        last.forall(r => input.get(r.getLong(0)).contains(r.getString(1))),
      "distinct texts" -> (keptTexts.size == last.length),
      "quality gate" -> last.forall(r => CurateDocs.qualityE6(r.getString(1)) >= MinQuality),
      "splits" -> last.forall(r => Set("train", "val", "test")(r.getString(2))),
      "docs_kept" -> passes.forall { case (_, m) =>
        m("docs_kept").asInstanceOf[Long] == last.length },
      "near copy beside its source" -> truth.forall { case (id, kind, src) =>
        kind != "near" || !(keptIds(id) && keptTexts(input(src))) },
      "clean docs kept" -> clean.forall(keptIds))
    val failed = checks.collect { case (name, false) => name }
    if (failed.isEmpty) Set.empty
    else {
      System.err.println(s"[perfbench] curation check failed: ${failed.mkString(", ")}")
      Set("curate")
    }
  }

  def storeBytes: Long =
    Sinks.latestVersion(spark, path).map(v => Main.dirBytes(s"$path/v=$v")).getOrElse(0L)
}

object CurateDocs {
  /** The quality score of `TextStats.qualityScore`, restated in Scala. */
  def qualityE6(text: String): Long = {
    val toks = text.split(" ", -1)
    val n = toks.length.toDouble
    val lenScore = math.min(1.0, n / 100.0)
    val ttr = toks.distinct.length.toDouble / n
    val longShare = toks.count(_.length >= 5).toDouble / n
    math.floor((lenScore * 0.5 + ttr * 0.3 + longShare * 0.2) * 1e6).toLong
  }
}

/** The seven F1 DAGs over a season, each run ending in its reference
  * write: keyed upsert for the five session DAGs, overwrite for the two
  * standings DAGs. One operation is one DAG run with its write.
  */
final class F1Etl(spark: SparkSession, work: String) extends Workload {
  private val year = 2025
  private val store = s"$work/f1store"
  private var laps, results, quali, drivers, events: DataFrame = _
  private var rounds = 0
  private var payloads = Map.empty[(String, Int), String]

  def derive(d: String): Unit = {
    def read(t: String) = spark.read.parquet(s"$d/$t.parquet")
    laps = read("laps"); results = read("results"); quali = read("quali")
    drivers = read("drivers"); events = read("events_f1")
    rounds = events.count().toInt
    payloads = (for (kind <- Seq("driver_standings", "constructor_standings"); r <- 1 to rounds)
      yield (kind, r) -> Files.readString(Paths.get(s"$d/${kind}_r$r.json"))).toMap
  }

  val warmupPasses = 1
  val nominalPassSeconds = 12.0

  /** A pass is the season: each round's DAGs in turn, then the schedule.
    * The warm-up runs the first round only, into an emptied store.
    */
  def pass(r: Runner, warmup: Boolean): Unit = {
    if (warmup) Main.deleteTree(store)
    val sp = r.spans
    def upsert(dag: String, keys: Seq[String])(df: => DataFrame): Unit =
      r.op(dag) {
        val out = sp(s"pipelines.$dag")(df)
        sp("sinks.upsert")(Sinks.upsertByKey(spark, s"$store/$dag", out, keys))
        true
      }
    def overwrite(dag: String)(df: => DataFrame): Unit =
      r.op(dag) {
        val out = sp(s"pipelines.$dag")(df)
        sp("sinks.overwrite")(Sinks.overwriteRefresh(out, s"$store/$dag"))
        true
      }
    val sessionKeys = Seq("year", "round", "sessionName")
    for (rnd <- if (warmup) 1 to 1 else 1 to rounds) {
      val name = s"Grand Prix $rnd"
      def lapsOf(s: String) = laps.filter(col("Round") === rnd && col("Session") === s)
      upsert("raceResults", Seq("key"))(F1Pipelines.raceResults(
        results.filter(col("Round") === rnd), year, rnd, name, "conventional"))
      upsert("qualifyingResults", Seq("key"))(F1Pipelines.qualifyingResults(
        quali.filter(col("Round") === rnd), year, rnd, name))
      for (s <- Seq("Practice 1", "Practice 2", "Practice 3"))
        upsert("practiceLaps", sessionKeys)(F1Pipelines.practiceLaps(
          lapsOf(s), drivers, year, rnd, s, "conventional"))
      for (s <- Seq("Qualifying", "Race"))
        upsert("topSpeeds", sessionKeys)(F1Pipelines.topSpeeds(
          lapsOf(s), year, rnd, s, "conventional"))
      overwrite("driverStandings")(F1Pipelines.driverStandings(
        spark, payloads(("driver_standings", rnd))))
      overwrite("constructorStandings")(F1Pipelines.constructorStandings(
        spark, payloads(("constructor_standings", rnd))))
    }
    upsert("schedule", Seq("key"))(F1Pipelines.schedule(events, year))
  }

  def check(): Set[String] = {
    val expected = F1Restate.expected(laps.collect(), results.collect(), quali.collect(),
      drivers.collect(), events.collect(), payloads, rounds, year)
    expected.toSeq.flatMap { case (dag, want) =>
      val got = F1Restate.rows(spark, s"$store/$dag")
      if (got == want) None
      else {
        System.err.println(s"[perfbench] $dag differs from its restatement:\n" +
          s"  got  ${got.diff(want).take(2)}\n  want ${want.diff(got).take(2)}")
        Some(dag)
      }
    }.toSet
  }

  def storeBytes: Long = Main.dirBytes(store)
}

/** Keys of the `SparkEntry.queries` surface, each landed with
  * `Sinks.overwriteRefresh` so `run.py` can check it against the key's
  * DuckDB oracle (`SparkEntry.oracleSql`). One operation is one key; a
  * pass runs every key once, in an order shuffled by the seed.
  */
final class Queries(spark: SparkSession, work: String, seed: Long, keys: Seq[String],
                    val warmupPasses: Int, val nominalPassSeconds: Double) extends Workload {
  import Queries._
  private val rng = new scala.util.Random(seed)
  private var dir: String = _
  private var passNo = 0
  /** (op id, key, result path) of every timed operation. */
  private val landed = mutable.ArrayBuffer.empty[(Int, String, String)]

  def derive(d: String): Unit = dir = d

  def pass(r: Runner, warmup: Boolean): Unit = {
    passNo += 1
    val sp = r.spans
    for (key <- rng.shuffle(keys)) {
      val path = s"$work/results/$key/p$passNo"
      val id = r.ops.size
      val ok = r.op(key) {
        if (key == StreamKey) {
          // the replay (micro-batches, store landings, takedown) runs
          // eagerly inside the call; the serve runs with the write
          val df = sp("annindex.ingest")(graft.SparkEntry.queries(key)(spark, dir))
          sp("similarity.serve")(Sinks.overwriteRefresh(df, path))
        } else
          sp("queries.sql")(Sinks.overwriteRefresh(graft.SparkEntry.queries(key)(spark, dir), path))
        true
      }
      if (ok && !warmup) landed += ((id, key, path))
    }
  }

  /** The output check runs outside the JVM, against DuckDB. */
  def check(): Set[String] = Set.empty

  override def outputs: Seq[Map[String, Any]] = landed.toSeq.map { case (id, key, path) =>
    Map("op" -> id, "key" -> key, "path" -> path, "sql" -> graft.SparkEntry.oracleSql(key))
  }

  /** The stream's stores (band index, vectors, geometry, postings,
    * tombstones): the program's scratch directories for this input.
    */
  private def streamStores: Seq[String] =
    if (!keys.contains(StreamKey)) Nil
    else Seq("idx", "vec", "geo", "post", "tomb").map(s =>
      graft.model.Scratch.dir(s"ann_ingest_del_$s", dir))

  /** Landed results, the stream's stores and its checkpoints. */
  def storeBytes: Long = Main.dirBytes(s"$work/results") + streamStores.map(Main.dirBytes).sum +
    (if (keys.contains(StreamKey))
      Main.dirBytes(graft.model.Scratch.dir("ann_ingest_del_ckpt", dir)) else 0L)

  override def counters: Map[String, Double] =
    if (streamStores.isEmpty) Map.empty
    else Map("gatestores.store_bytes" -> streamStores.map(Main.dirBytes).sum.toDouble)
}

object Queries {
  val StreamKey = "q_stream_ann_query"
  /** Scan and aggregate (1), join with top-k (3), the derived partsupp's
    * composite-key join (9), IN-subquery over a large aggregate (18),
    * EXISTS / NOT EXISTS (21).
    */
  val Tpch: Seq[String] = Seq(1, 3, 9, 18, 21).map(q => s"q_sql_tpch_q$q")
}
