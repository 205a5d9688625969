package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, TextStats}
import graft.pipelines.CurationPipeline
import graft.pipelines.CurationPipeline.{Cluster, NearDupStrategy, Pairwise}

/** Integration: the full curation pipeline (quality gate → exact dedup →
  * near-dedup → split) over the real documents table, end to end, twice —
  * asserting determinism and the per-stage invariants.
  */
class CurationPipelineSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark._
  import spark.implicits._

  /** The join formulation of [[CurationPipeline.curate]]: every gate and
    * the split are semi/inner joins of the corpus with a projection of
    * itself. The pipeline must return the same rows.
    */
  private def curateByJoins(docs: DataFrame, strategy: NearDupStrategy,
                            maxRepetition: Option[(Long, Long)],
                            minEntropyE6: Option[Long]): DataFrame = {
    val (key, text) = ("doc_id", "text")
    val quality = TextStats.qualityScore(docs, key, text)
      .filter(col("quality_e6") >= 400000L)
    val qualityGated = docs.join(quality, Seq(key), "left_semi")
    val repGated = maxRepetition.fold(qualityGated) { case (maxDup, maxBigram) =>
      qualityGated.join(TextStats
        .repetitionMetrics(qualityGated, key, text, maxDup, maxBigram)
        .filter(col("keep")).select(col(key)), Seq(key), "left_semi")
    }
    val gated = minEntropyE6.fold(repGated) { minE =>
      repGated.join(TextStats.tokenEntropy(repGated, key, text)
        .filter(col("entropy_e6") >= minE).select(col(key)), Seq(key), "left_semi")
    }
    val afterExact = gated.join(Dedup.exactDedup(gated, key, text).select(col(key)),
      Seq(key), "left_semi")
    val nearPairs = Dedup.minhashLshPairs(afterExact, key, text, threshold = 0.5)
    val losers = strategy match {
      case Pairwise => nearPairs.select(col("doc_b").as(key)).distinct()
      case Cluster =>
        Dedup.connectedComponentsStar(nearPairs, "doc_a", "doc_b")
          .filter(col("node") =!= col("component")).select(col("node").as(key))
    }
    val survivors = afterExact.join(losers, Seq(key), "left_anti")
    survivors.join(TextStats.sampleSplit(survivors, key), Seq(key))
      .select(col(key), col(text), col("split"))
  }

  private def rows(df: DataFrame): Seq[(Long, String, String)] =
    df.as[(Long, String, String)].collect().toSeq.sorted

  private val gateCases = Seq(
    "no extra gates" -> (None, None),
    "repetition and entropy gates" -> (Some((600000L, 400000L)), Some(1500000L)))

  for (strategy <- Seq(Pairwise, Cluster); (gates, (rep, ent)) <- gateCases)
    test(s"curate returns the join formulation's rows: $strategy, $gates") {
      val docs = graft.model.Tables.documents(spark, sf)
      val got = rows(CurationPipeline.curate(docs, "doc_id", "text",
        strategy = strategy, maxRepetition = rep, minEntropyE6 = ent))
      assert(got.nonEmpty)
      assert(got == rows(curateByJoins(docs, strategy, rep, ent)))
    }

  test("curateAndPublish metrics count the join formulation's rows") {
    val docs = graft.model.Tables.documents(spark, sf)
    val path = "target/tmp/curated_metrics"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val (_, m) = CurationPipeline.curateAndPublish(docs, "doc_id", "text", path)
    val want = rows(curateByJoins(docs, Pairwise, None, None))
    def n(split: String) = want.count(_._3 == split).toLong
    assert(m == Map("docs_kept" -> want.size.toLong,
      "chars_kept" -> want.map(_._2.length.toLong).sum,
      "n_train" -> n("train"), "n_val" -> n("val"), "n_test" -> n("test")))
  }

  test("curateAndPublish leaves no cached table behind") {
    // a plan no other test runs, so a table cached by an earlier call
    // cannot stand in for the one this call would leave
    val docs = graft.model.Tables.documents(spark, sf).filter($"doc_id" =!= -31L)
    val path = "target/tmp/curated_release"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    CurationPipeline.curateAndPublish(docs, "doc_id", "text", path)
    // ids only: the context cleaner may drop older RDDs meanwhile
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(before))
  }

  test("curate plans no self-join of the corpus") {
    // The quality gate and the split are a filter and a projection, so
    // the corpus is scanned for exact dedup's digest aggregate, for the
    // near-dup branches (which share one fan-out exchange) and for the
    // anti join with the near-dup losers. The other exchanges belong to
    // the digest aggregate's semi join, the LSH band self-join and the
    // verify joins. The join formulation, which also joins the corpus
    // back to its quality scores and to its split column, planned 22
    // exchanges and 7 scans here.
    val out = CurationPipeline.curate(graft.model.Tables.documents(spark, sf),
      "doc_id", "text")
    out.collect()
    // the executed plan, and the plan of each table it reads from cache
    def nodes(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) { case n => n }
    val top = nodes(out.queryExecution.executedPlan)
    val plan = top ++ top.collect { case m: InMemoryTableScanExec => m.relation.cachedPlan }
      .distinct.flatMap(nodes)
    val exchanges = plan.count(_.isInstanceOf[Exchange])
    val scans = plan.count(_.isInstanceOf[FileSourceScanExec])
    assert(exchanges <= 10, s"$exchanges exchanges")
    assert(scans <= 3, s"$scans scans")
  }

  test("keep → budget-mix → pack composes end to end with conserved tokens") {
    // The round's curation ops as one pipeline: rule-filter the corpus,
    // token-budget-mix the keepers, pack the mix into 512-token bins.
    // Invariants: the mix draws only from kept docs, and packing
    // conserves the mix's token mass exactly (no doc lost or split).
    val docs = graft.model.Tables.documents(spark, sf)
    val kept = SparkEntry.queries("q_doc_filter")(spark, sf)
      .filter($"keep" === 1L).select($"doc_id")
    val keptDocs = docs.join(kept, "doc_id")
    val mix = graft.ops.TextStats.tokenBudgetSample(
      keptDocs, "doc_id", "source", "text", totalBudget = 3000L)
    val mixIds = mix.select($"doc_id").as[Long].collect().toSet
    val keptIds = kept.as[Long].collect().toSet
    assert(mixIds.subsetOf(keptIds), "mix drew from dropped docs")
    assert(mixIds.nonEmpty)
    val packed = graft.ops.Ranks.globalRunningSum(
      mix.select($"doc_id", $"n_toks"), Seq($"doc_id".asc), $"n_toks", "cum")
      .select($"doc_id", $"n_toks",
        floor(($"cum" - $"n_toks") / 512.0).cast("long").as("pack_id"))
    val mixTokens = mix.agg(sum($"n_toks")).as[Long].head()
    val packedTokens = packed.agg(sum($"n_toks")).as[Long].head()
    assert(packedTokens == mixTokens, "packing lost or duplicated tokens")
    // bins are dense 0..max and every bin except possibly the last holds
    // ≥ 512 tokens once its successor exists (no premature bin break)
    val bins = packed.groupBy($"pack_id").agg(sum($"n_toks").as("t"))
      .orderBy($"pack_id").as[(Long, Long)].collect()
    assert(bins.map(_._1).toSeq == bins.indices.map(_.toLong))
  }

  test("curation pipeline is deterministic and monotone") {
    val docs = graft.model.Tables.documents(spark, sf)
    val total = docs.count()

    val out1 = CurationPipeline.curate(docs, "doc_id", "text")
      .orderBy($"doc_id")
      .as[(Long, String, String)].collect().toSeq
    val out2 = CurationPipeline.curate(docs, "doc_id", "text")
      .orderBy($"doc_id")
      .as[(Long, String, String)].collect().toSeq

    assert(out1 == out2, "pipeline must be run-to-run deterministic")
    assert(out1.nonEmpty && out1.size <= total)
    // splits well-formed and only from the fixed set
    assert(out1.map(_._3).toSet.subsetOf(Set("train", "val", "test")))
    // surviving set has no exact duplicate texts
    assert(out1.map(_._2).distinct.size == out1.size)

    // write partitioned by split and read back losslessly
    val path = "target/tmp/curated"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    CurationPipeline.curate(docs, "doc_id", "text")
      .write.partitionBy("split").mode("overwrite").parquet(path)
    val back = spark.read.parquet(path)
      .select($"doc_id", $"text", $"split")
      .orderBy($"doc_id").as[(Long, String, String)].collect().toSeq
    assert(back == out1)
  }

  test("repetition and entropy gates tighten the surviving set and hold on it") {
    val docs = graft.model.Tables.documents(spark, sf)
    val open = CurationPipeline.curate(docs, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    val gated = CurationPipeline.curate(docs, "doc_id", "text",
        maxRepetition = Some((600000L, 400000L)),
        minEntropyE6 = Some(1500000L))
      .select($"doc_id").as[Long].collect().toSet
    assert(gated.subsetOf(open), "gates can only drop docs")
    assert(gated.nonEmpty)
    // every survivor satisfies both gate predicates
    val surviving = docs.join(gated.toSeq.toDF("doc_id"), Seq("doc_id"), "left_semi")
    val rep = graft.ops.TextStats
      .repetitionMetrics(surviving, "doc_id", "text", 600000L, 400000L)
      .filter(!$"keep").count()
    val lowEnt = graft.ops.TextStats.tokenEntropy(surviving, "doc_id", "text")
      .filter($"entropy_e6" < 1500000L).count()
    assert(rep == 0 && lowEnt == 0)
  }

  test("curateAndPublish lands versioned snapshots with riding metrics") {
    val docs = graft.model.Tables.documents(spark, sf)
    val path = "target/tmp/curated_versions"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))

    val (v0, m0) = CurationPipeline.curateAndPublish(docs, "doc_id", "text", path)
    assert(v0 == 0L)
    val snap0 = graft.ops.Sinks.readVersioned(spark, path)
    assert(m0("docs_kept") == snap0.count())
    assert(m0("n_train").asInstanceOf[Long] + m0("n_val").asInstanceOf[Long] +
      m0("n_test").asInstanceOf[Long] == m0("docs_kept"))

    // a stricter re-run publishes v1; v0 stays pinnable and unchanged
    val (v1, m1) = CurationPipeline.curateAndPublish(docs, "doc_id", "text",
      path, minEntropyE6 = Some(1500000L))
    assert(v1 == 1L)
    assert(m1("docs_kept").asInstanceOf[Long] <= m0("docs_kept").asInstanceOf[Long])
    assert(graft.ops.Sinks.readVersioned(spark, path, Some(0L)).count() ==
      m0("docs_kept"))
    assert(graft.ops.Sinks.readVersioned(spark, path).count() == m1("docs_kept"))
  }

  test("cluster strategy keeps a subset of pairwise survivors, one per component") {
    val docs = graft.model.Tables.documents(spark, sf)
    val pairwise = CurationPipeline.curate(docs, "doc_id", "text",
        strategy = CurationPipeline.Pairwise)
      .select($"doc_id").as[Long].collect().toSet
    val cluster = CurationPipeline.curate(docs, "doc_id", "text",
        strategy = CurationPipeline.Cluster)
      .select($"doc_id").as[Long].collect().toSet
    // component minima ⊆ local minima: clustering can only drop more
    assert(cluster.subsetOf(pairwise))
    assert(cluster.nonEmpty)
  }
}
