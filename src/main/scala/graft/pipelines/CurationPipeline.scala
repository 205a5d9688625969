package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Par, TextStats}

/** End-to-end LLM training-data curation: quality gate → entropy gate →
  * repetition gate → exact dedup → near-dedup → deterministic split
  * assignment. One lineage graph; every stage is a pure transform, so the
  * whole pipeline is reproducible and restartable — the composition
  * target the individual operators exist for.
  *
  * Row-local stages are columns, never joins back to the corpus: the
  * quality and entropy gates are filters on [[TextStats.qualityE6]] and
  * [[TextStats.entropyE6]], and the split is a projection of
  * [[TextStats.splitOf]]. (A join of the corpus with a projection of
  * itself re-plans and re-runs the whole upstream subtree on each side.)
  * Only the stages that are not row-local join: the repetition gate
  * (explode + groupBy), exact dedup (a semi join with the lowest key per
  * text digest) and the near-dup losers.
  */
object CurationPipeline {

  /** Near-dup keep strategies:
    *
    *  - [[Pairwise]]: drop the higher-keyed doc of each pair — keeps every
    *    LOCAL minimum, so two docs that are each near a dropped third but
    *    not near each other both survive. Cheapest (no iteration).
    *  - [[Cluster]]: connected-components over the pair graph, keep one
    *    canonical doc per component (the standard corpus-dedup semantic;
    *    transitively-linked chains collapse to one survivor).
    */
  sealed trait NearDupStrategy
  case object Pairwise extends NearDupStrategy
  case object Cluster extends NearDupStrategy

  /** @param minQualityE6 quality-score gate in millionths
    * @param maxRepetition optional Gopher-style repetition gate as
    *        (maxDupTokenFracE6, maxTopBigramFracE6); docs with fewer than
    *        two tokens have no bigram metrics and are dropped by the gate
    * @param minEntropyE6 optional unigram-entropy floor (nats, millionths)
    * @return surviving docs with `split` assignment. Nothing is cached:
    *         the near-dup branches share the fan-out exchange when there
    *         is one and recompute the corpus otherwise
    *         ([[curateAndPublish]] caches it for the length of its write)
    */
  def curate(docs: DataFrame, key: String, text: String,
             minQualityE6: Long = 400000L,
             nearDupThreshold: Double = 0.5,
             strategy: NearDupStrategy = Pairwise,
             maxRepetition: Option[(Long, Long)] = None,
             minEntropyE6: Option[Long] = None): DataFrame =
    curated(docs, key, text, minQualityE6, nearDupThreshold, strategy,
      maxRepetition, minEntropyE6, cache = false)._1

  /** [[curate]]'s output, and the deduplicated corpus with its shingles
    * that it reads four times (three near-dup branches and the
    * survivors). With `cache` that corpus is persisted, and the caller
    * releases it once the output is written.
    */
  private def curated(docs: DataFrame, key: String, text: String,
                      minQualityE6: Long, nearDupThreshold: Double,
                      strategy: NearDupStrategy,
                      maxRepetition: Option[(Long, Long)],
                      minEntropyE6: Option[Long],
                      cache: Boolean): (DataFrame, DataFrame) = {
    val rowGated = docs.filter(TextStats.qualityE6(col(text)) >= minQualityE6 &&
      minEntropyE6.fold(lit(true))(TextStats.entropyE6(col(text)) >= _))
    val gated = maxRepetition match {
      case Some((maxDup, maxBigram)) =>
        val keep = TextStats
          .repetitionMetrics(rowGated, key, text, maxDup, maxBigram)
          .filter(col("keep")).select(col(key))
        rowGated.join(keep, Seq(key), "left_semi")
      case None => rowGated
    }

    val afterExact = gated.join(Dedup.exactDedup(gated, key, text).select(col(key)),
      Seq(key), "left_semi")

    val shingles = Par.fanOut(afterExact)
      .withColumn("toks", split(col(text), " "))
      .select(col(key), col(text), Dedup.shingleHashes("toks").as("sh"))
    val shingled = if (cache)
      shingles.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else shingles
    val nearPairs = Dedup.minhashLshPairsOf(shingled.filter(size(col("sh")) > 0),
      key, threshold = nearDupThreshold)
    val losers = strategy match {
      case Pairwise =>
        nearPairs.select(col("doc_b").as(key)).distinct()
      case Cluster =>
        Dedup.connectedComponentsStar(nearPairs, "doc_a", "doc_b")
          .filter(col("node") =!= col("component"))
          .select(col("node").as(key))
    }
    (shingled.join(losers, Seq(key), "left_anti")
      .select(col(key), col(text), TextStats.splitOf(col(key)).as("split")),
      shingled)
  }

  /** Full curation run published as a versioned snapshot: the curated
    * corpus lands under `v=N/` with an atomic pointer flip, and health
    * metrics (docs kept, characters kept, split sizes) ride the SAME
    * write job via `Dataset.observe` — no second scan. Returns the
    * committed version and the observed metrics; consumers pin training
    * runs to a version while later curation runs publish new ones.
    */
  def curateAndPublish(docs: DataFrame, key: String, text: String,
                       path: String,
                       minQualityE6: Long = 400000L,
                       nearDupThreshold: Double = 0.5,
                       strategy: NearDupStrategy = Pairwise,
                       maxRepetition: Option[(Long, Long)] = None,
                       minEntropyE6: Option[Long] = None): (Long, Map[String, Any]) = {
    val obs = org.apache.spark.sql.Observation()
    val (out, shingled) = curated(docs, key, text, minQualityE6,
      nearDupThreshold, strategy, maxRepetition, minEntropyE6, cache = true)
    val observed = out.observe(obs,
        count(lit(1)).as("docs_kept"),
        sum(length(col(text))).as("chars_kept"),
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
    try {
      val version = graft.ops.Sinks.writeVersioned(observed, path)
      (version, obs.get)
    } finally shingled.unpersist()
  }
}
