package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Headline queries: one or more representatives per operator family
    * (scan/filter, joins incl. broadcast+salted, aggregation families,
    * windows, top-k, set ops, SQL surface, streaming shapes, dedup,
    * similarity, text analysis, extension surface). The full registry
    * (COVERAGE.md carries the current count) is exercised by Verify;
    * Bench times the representative set (frozen since r2 so BENCH_r{N}
    * totals stay comparable across rounds).
    */
  val headline: Seq[String] = Seq(
    "q_filter_eq", "q_project", "q_groupby_agg", "q_count_distinct",
    "q_rollup", "q_broadcast_join", "q_join_inner", "q_join_asof",
    "q_join_salted", "q_window_rank", "q_window_running", "q_topk",
    "q_union", "q_collect_struct", "q_json_funcs", "q_upsert_merge",
    "q_sql_tpch_q3", "q_stream_tumbling", "q_stream_session",
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_embedding",
    "q_cosine_topk", "q_text_stats", "q_tfidf", "q_udaf_topk",
    "q_expr_laptime")

  /** Every non-headline registry key, sorted, reported under `extended`
    * — informational visibility for the newer surface without touching the frozen
    * headline set or its cross-round comparable total. The shared
    * durable tables (graph co-purchase edges, dedup cluster map) are
    * materialized and timed FIRST as their own `_derive_*` entries, so
    * every graph/cluster key reports steady-state read-through cost
    * instead of whichever runs first absorbing the derivation. Each
    * key is timed once; any key reading ≥0.5 s is re-run twice more and
    * reports the median of 3 (`extended_runs` carries the raw timings)
    * — so a slow reading is always adjudicated against warm re-runs and
    * sweep contamination (GC/heap churn from earlier keys) cannot
    * masquerade as a regression, while sub-0.5 s keys stay single-shot
    * to keep the sweep bounded.
    */
  val extended: Seq[String] =
    (SparkEntry.queries.keySet -- headline).toSeq.sorted

  /** Flat `"field":{"k":1.2,...}` map extracted from a committed bench
    * artifact — the cross-round comparison input for
    * [[regressionFlags]]. Regex-scoped to the named field so the
    * overlapping key sets of `queries_normalized` and
    * `extended_normalized` don't bleed into each other.
    *
    * FAILS LOUD on a truncated or non-flat field (r16, VERDICT r15 #6
    * / ADVICE r15): the regex parse is only sound for the flat
    * fixed-decimal maps this same code writes; if the captured body
    * still contains content the number pattern can't account for, the
    * artifact shape has drifted and silently returning a partial map
    * would disable the regression guard without anyone noticing. The
    * number pattern accepts an exponent so a formatter change to
    * scientific notation parses rather than aborts.
    */
  private[graft] def parseNumberMap(json: String,
                                    field: String): Map[String, Double] =
    ("\"" + field + "\":\\{([^}]*)\\}").r.findFirstMatchIn(json).map { m =>
      val body = m.group(1)
      val num = "-?[0-9]+(?:\\.[0-9]+)?(?:[eE][+-]?[0-9]+)?"
      val entry = ("\"([A-Za-z0-9_]+)\":(" + num + ")").r
      val parsed = entry.findAllMatchIn(body).toSeq
      // every character of the body must be consumed by entries and
      // separating commas — anything else (a nested brace cut the field
      // short, a non-numeric value) is a shape drift
      val residue = entry.replaceAllIn(body, "").replace(",", "").trim
      if (residue.nonEmpty)
        throw new IllegalStateException(
          s"bench artifact field '$field' is not a flat number map " +
            s"(unparsed residue: '${residue.take(40)}') — regression " +
            "guard inputs would be silently partial")
      parsed.map(x => x.group(1) -> x.group(2).toDouble).toMap
    }.getOrElse(Map.empty)

  /** Keys whose current LOAD-NORMALIZED reading exceeds `factor`× the
    * prior round's, for priors ≥ `minPriorSec` (sub-0.3 s keys flip on
    * scheduler noise, not regressions). Returns (key, cur, prior)
    * sorted worst-first. These are FLAGS, not failures (VERDICT r14
    * #8): they ride the artifact's `regression_flags` field and the
    * `errors` list under a `regressed:` prefix so a regression
    * surfaces in the artifact itself, while failed queries keep their
    * bare-name entries.
    */
  private[graft] def regressionFlags(cur: Map[String, Double],
      prior: Map[String, Double], factor: Double = 2.0,
      minPriorSec: Double = 0.3): Seq[(String, Double, Double)] =
    cur.toSeq.collect { case (k, c) if c > 0 &&
        prior.get(k).exists(p => p >= minPriorSec && c > factor * p) =>
      (k, c, prior(k))
    }.sortBy { case (_, c, p) => -(c / p) }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Sessions are created through ONE path so the extended tier can run
    // in fresh-session blocks (below) with identical config and warmup:
    // the JVM/codegen/parquet-reader warm plus the session-catalog view
    // registration are one-time session costs, not any query's runtime.
    def newSession(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      try {
        s.range(1 << 20).selectExpr("sum(id)").collect()
        graft.model.Tables.lineitem(s, sfDir).limit(1000)
          .groupBy("l_returnflag").count().collect()
        graft.queries.SqlSurface.registerViews(s, sfDir)
      } catch { case _: Throwable => () }
      s
    }
    var spark = newSession()
    // A failing query must surface as a failure, not as a near-zero timing
    // that deflates the headline total: failed queries report -1 and are
    // excluded from `value`, and their names are listed under `errors`.
    //
    // Each query runs 3× and reports the MEDIAN — single-shot timings on
    // a shared host absorb JIT/GC/contention spikes (a one-off +26%
    // artifact total in round 4 re-ran clean), and the median of three
    // rejects any single outlier run. All three raw timings are emitted
    // under `runs` so per-key variance is visible in the artifact.
    // Drop persisted/checkpointed blocks between keys: a single-JVM
    // sweep over 170+ keys otherwise accumulates every key's
    // localCheckpoint/persist blocks until the 8 GiB heap's storage
    // region fills, and keys late in the list pay eviction + GC churn
    // instead of their own cost (measured: q_rfm 10.4 s late in a full
    // sweep vs 1.7 s warm in a fresh session — same code, same data).
    def dropBlocks(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      spark.catalog.clearCache()
    }
    // 5 reps (r12, was 3): the r12 sweeps showed per-key cost decaying
    // monotonically across runs under host load (run 1 systematically
    // 2-4× run 3), so a median of 3 lands on the still-decaying second
    // sample; the median of 5 lands on the third — deeper into steady
    // state and robust to two outliers instead of one. All raw runs
    // still ship in `runs`, so any cross-round comparison can recompute
    // either estimator.
    val reps = 5
    val results = headline.filter(SparkEntry.queries.contains).map { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
          catch { case _: Throwable => false }
        dropBlocks()
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      }
      val median =
        if (times.exists(_ < 0)) -1.0 else times.sorted.apply(reps / 2)
      (name, median, times)
    }
    // 0.1 ms resolution keeps the ONE output line ~60% smaller than
    // full-precision doubles: the driver's capture truncated the tail
    // of the r5/r6 artifacts, and a ~2.5 KB line fits comfortably under
    // any plausible buffer where ~6 KB did not.
    def f(d: Double): String =
      if (d < 0) "-1" else BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val runs = results.map { case (k, _, ts) =>
      s"\"" + k + "\":" + ts.map(f).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, v, _) if v >= 0 => v }.sum
    // `value` sums warm medians (execution-bound engine cost); r1–r4
    // totals were single-shot and so included each query's one-time
    // planning/codegen — `first_run_total` preserves that definition for
    // cross-round comparison.
    val firstTotal = results.collect { case (_, v, ts) if v >= 0 => ts.head }.sum
    // Load calibration (r13, VERDICT r12 item 6): the host has shown ~2×
    // multi-hour speed swings with steal=0, so raw totals partly measure
    // weather. The trivial key's same-sweep median divided by its
    // quiet-host floor (q_filter_eq warm median, 0.08–0.10 s across the
    // r10/r12 quiet re-measures → 0.09) estimates THIS sweep's host-load
    // multiplier; `value_normalized` = value ÷ ratio rides next to the
    // raw total so round-over-round deltas separate engine changes from
    // host state. Ratio clamps at 1 (never report better-than-raw).
    // r14 (ADVICE r13): the multiplier is the MEDIAN of six cheap,
    // stable, long-untouched keys' ratios against their quiet floors —
    // a transient on any single key (r13's q_filter_eq read 2.84× while
    // its peers read ~1.7×) can no longer skew the whole sweep's
    // normalization. Floors are the minimum warm medians observed
    // across the r10–r13 driver sweeps cross-checked against
    // load-scaled quiet local re-measures (q_filter_eq's 0.09 is the
    // established r10/r12 quiet reading; the others are their best
    // driver-sweep medians, which today's ~1.9×-window TimeKey readings
    // scale back to within ~10%).
    val CalibFloors: Seq[(String, Double)] = Seq(
      "q_filter_eq" -> 0.09, "q_project" -> 0.10, "q_union" -> 0.165,
      "q_window_running" -> 0.073, "q_topk" -> 0.08,
      "q_expr_laptime" -> 0.07)
    val calibObs = CalibFloors.flatMap { case (k, fl) =>
      results.find(_._1 == k).map(_._2).filter(_ > 0).map(s => (k, fl, s))
    }
    val calibRatio: Option[Double] =
      if (calibObs.isEmpty) None
      else Some(math.max(1.0, {
        val rs = calibObs.map { case (_, fl, s) => s / fl }.sorted
        rs(rs.size / 2) // upper median; clamped ≥ 1 (never better-than-raw)
      }))
    val calibJson = calibRatio match {
      case Some(r) =>
        val per = calibObs.map { case (k, fl, s) =>
          s""""$k":{"floor":$fl,"sec":${f(s)},"ratio":${f(s / fl)}}"""
        }.mkString("{", ",", "}")
        s""","calib_keys":$per,"calib_ratio":${f(r)},""" +
          s""""value_normalized":${f(total / r)}"""
      case None => ""
    }
    // Per-key normalized medians (r14, VERDICT r13 #5): cross-round
    // per-key diffs become a mechanical field comparison instead of
    // each reader re-dividing by the sweep's ratio.
    val normRatio = calibRatio.getOrElse(1.0)
    def fNorm(v: Double): String = if (v < 0) "-1" else f(v / normRatio)
    val qsNorm = results.map { case (k, v, _) => s"\"" + k + "\":" + fNorm(v) }
      .mkString("{", ",", "}")
    def timeOnce(name: String): Double = {
      val t0 = System.nanoTime()
      val ok = try { SparkEntry.queries(name)(spark, sfDir).count(); true }
        catch { case _: Throwable => false }
      dropBlocks()
      if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
    }
    // ---- per-segment load calibration (r15, VERDICT r14 #3) ----
    // The six-key calibration above estimates the HEADLINE phase's
    // host load; the derive + extended phases can drift through a
    // different load window (r14: reps ramping 1.3→3.4 s within one
    // key manufactured ~156 false >1.5× normalized "regressions"
    // against a raw cross-key median of 1.14). A cheap probe
    // (q_filter_eq, the longest-standing calib key) re-runs at every
    // fresh-session boundary and every ~30 timings in between, and
    // every SAMPLE is normalized by its own segment's ratio — a key
    // whose first pass and re-runs straddle a load shift no longer
    // mixes currencies. `calib_segments` records every probe.
    val SegProbeFloor = 0.09 // q_filter_eq's quiet-host warm median
    val segProbes =
      scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
    var segRatio = calibRatio.getOrElse(1.0)
    var sinceProbe = 0
    def probeSeg(tag: String): Unit = {
      val ts = (1 to 3).map(_ => timeOnce("q_filter_eq")).filter(_ > 0)
      if (ts.nonEmpty) {
        val med = ts.sorted.apply(ts.size / 2)
        segRatio = math.max(1.0, med / SegProbeFloor)
        segProbes += ((tag, med, segRatio))
      }
      sinceProbe = 0
    }
    // time `name` under the current segment's ratio, re-probing every
    // `every` timings; returns (raw seconds, segment ratio at capture)
    def timeSeg(name: String, every: Int): (Double, Double) = {
      if (sinceProbe >= every) probeSeg(s"auto@$name")
      sinceProbe += 1
      (timeOnce(name), segRatio)
    }
    // Shared durable-table derivations, timed as their own entries so
    // the graph/cluster keys below report steady-state cost. Each is
    // one-shot by design, so its segment ratio is the only load signal
    // it gets (VERDICT r14 #4: _derive_partsupp's 9.94 s at sf0.1 vs
    // 7.86 s at ~SF1 was unattributable without one).
    probeSeg("derive:start")
    val deriveRatio = segRatio
    val deriveResults: Seq[(String, Double)] = Seq[(String, () => Long)](
      "_derive_copurchase" ->
        (() => graft.queries.GraphOps.materializeEdges(spark, sfDir)),
      "_derive_oriented_edges" ->
        (() => graft.queries.GraphOps.materializeOriented(spark, sfDir)),
      "_derive_dedup_clusters" ->
        (() => graft.queries.LlmOps.materializeClusters(spark, sfDir)),
      "_derive_match_pairs" ->
        (() => graft.queries.LlmOps.materializeMatchPairs(spark, sfDir)),
      "_derive_ann_index" ->
        (() => graft.queries.LlmOps.materializeAnnIndex(spark, sfDir)),
      "_derive_partsupp" ->
        (() => graft.queries.SqlSurface.materializePartsupp(spark, sfDir))
    ).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = try { fn(); true } catch { case _: Throwable => false }
      dropBlocks()
      (name, if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }
    // The extended tier runs in FRESH-SESSION BLOCKS: the r9 artifact
    // proved that even median-of-3 cannot rescue a contaminated sweep —
    // q_multimodal_phash_near medianed 8.67 s in-sweep after 370 keys
    // of heap churn vs 1.33 s in a fresh session (6× overstated), with
    // the RE-RUNS being the contaminated samples. Restarting the
    // SparkContext every ~90 keys bounds how much churn any key can
    // inherit (the durable `_derive_*` snapshots are on disk, so a new
    // session re-reads them instead of re-deriving), and a System.gc()
    // pause before each re-run sample keeps the median's inputs from
    // paying the preceding sample's garbage.
    val extBlocks = 4
    val blockSize = (extended.size + extBlocks - 1) / extBlocks
    val extFirst = extended.grouped(blockSize).toSeq.flatMap { block =>
      spark.stop()
      spark = newSession()
      probeSeg(s"block@${block.head}")
      block.map { name => val (t, r) = timeSeg(name, 30); (name, t, r) }
    }
    // Re-run EVERY extended key whose single-shot reading exceeds 0.5 s
    // and report the median of 3 (raw timings ride in `extended_runs`).
    // Keys under 0.5 s single-shot stay single-shot — they are too cheap
    // for sweep contamination to flip a regression verdict, and
    // re-running all ~370 would triple the sweep for no signal. The
    // re-run pass gets its own fresh session: re-running a key right
    // after its first timing (the r8 policy) is exactly what produced
    // the contaminated medians above.
    spark.stop()
    spark = newSession()
    def gcPause(): Unit = { System.gc(); Thread.sleep(100) }
    probeSeg("rerun:start")
    // re-run samples carry their OWN segment ratios: the raw median
    // stays the cross-round comparable number, the normalized median
    // is the median of per-sample load-normalized readings — the
    // honest per-key value when a key's samples straddle load windows
    val extResults = extFirst.map { case (name, t1, r1) =>
      if (t1 >= 0.5) {
        val reruns = (1 to 2).map { _ => gcPause(); timeSeg(name, 10) }
        val samples = (t1, r1) +: reruns
        val raw = samples.map(_._1)
        if (raw.exists(_ < 0)) (name, -1.0, raw, -1.0)
        else (name, raw.sorted.apply(1), raw,
          samples.map { case (t, r) => t / r }.sorted.apply(1))
      } else (name, t1, Seq(t1), if (t1 < 0) -1.0 else t1 / r1)
    }
    val ext = (deriveResults ++ extResults.map { case (k, t, _, _) => (k, t) })
      .map { case (k, t) => s"\"" + k + "\":" + f(t) }
      .mkString("{", ",", "}")
    val extNormPairs =
      deriveResults.map { case (k, t) =>
        (k, if (t < 0) -1.0 else t / deriveRatio) } ++
      extResults.map { case (k, _, _, n) => (k, n) }
    val extNorm = extNormPairs
      .map { case (k, n) => s"\"" + k + "\":" + f(n) }
      .mkString("{", ",", "}")
    val calibSegJson = segProbes.map { case (tag, sec, r) =>
      s"""{"tag":"$tag","sec":${f(sec)},"ratio":${f(r)}}"""
    }.mkString("[", ",", "]")
    val extRuns = extResults.collect { case (k, _, ts, _) if ts.size > 1 =>
      s"\"" + k + "\":" + ts.map(f).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // Regression self-check (r15, VERDICT r14 #8): compare this run's
    // load-normalized per-key medians against the previously COMMITTED
    // artifact's — any key reading >2× its prior normalized median is
    // flagged into the artifact itself. Parsed BEFORE this run
    // overwrites the file.
    val priorJson = {
      val p = new java.io.File("bench_full_latest.json")
      if (p.exists()) java.nio.file.Files.readString(p.toPath) else ""
    }
    // METHODOLOGY GATE (r16, VERDICT r15 #4): normalized medians are
    // only cross-round comparable when BOTH rounds normalized
    // per-segment — a prior produced under phase-blind calibration
    // (pre-r15, no `calib_segments` field) mixes currencies and seeds
    // false flags (r15's q_mad_outliers 2.40× flag was exactly this:
    // raw 1.22×, prior normalized by a whole-sweep ratio its samples
    // never saw). Against such a prior the guard records WHY it stayed
    // silent instead of flagging noise.
    val priorPerSegment = priorJson.contains("\"calib_segments\":")
    val priorNorm = parseNumberMap(priorJson, "queries_normalized") ++
      parseNumberMap(priorJson, "extended_normalized")
    val curNorm: Map[String, Double] =
      results.map { case (k, v, _) =>
        k -> (if (v < 0) -1.0 else v / normRatio) }.toMap ++
      extNormPairs.toMap
    val flags =
      if (priorPerSegment) regressionFlags(curNorm, priorNorm)
      else Seq.empty
    val flagsSkippedJson =
      if (priorPerSegment || priorJson.isEmpty) ""
      else ""","regression_flags_skipped":"prior artifact lacks """ +
        """calib_segments (pre-r15 phase-blind calibration) — """ +
        """normalized priors not comparable""""
    val flagsJson = flags.map { case (k, c, p) =>
      s""""$k":{"cur":${f(c)},"prior":${f(p)},"ratio":${f(c / p)}}"""
    }.mkString("{", ",", "}")
    // extended failures surface through the same `errors` channel as
    // headline failures — a -1 buried in `extended` alone must not read
    // as a clean round. Regression flags live ONLY in the dedicated
    // `regression_flags` field (ADVICE r15: a consumer treating
    // `errors` entries as failed query names must not misclassify
    // load-noise flags as failures — `errors` stays a pure failure
    // list).
    val allErrors = (results.collect { case (k, v, _) if v < 0 => k } ++
      deriveResults.collect { case (k, t) if t < 0 => k } ++
      extResults.collect { case (k, t, _, _) if t < 0 => k })
      .map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    // Derive-cost TREND: the five `_derive_*` snapshots are one-time
    // assets by design, but their combined cost now exceeds the 27-key
    // headline total and is re-paid per fresh data dir — so each run
    // records the previous run's readings (from the committed full-bench
    // file) next to its own, making a derive regression a visible diff
    // in the artifact instead of an untracked constant.
    val prevDerives: Map[String, Double] = {
      val prev = new java.io.File("bench_full_latest.json")
      if (!prev.exists()) Map.empty
      else "\"(_derive_[a-z_]+)\":(-?[0-9.]+)".r
        .findAllMatchIn(java.nio.file.Files.readString(prev.toPath))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
    val deriveJson0 = deriveResults
      .map { case (k, t) => s"\"" + k + "\":" + f(t) }.mkString("{", ",", "}")
    val derivePrevJson = deriveResults.flatMap { case (k, _) =>
      prevDerives.get(k).map(p => s"\"" + k + "\":" + f(p)) }
      .mkString("{", ",", "}")
    // r12 note (VERDICT r11 item 5): r11's uniform ~20-90 ms/key
    // headline drift vs r9 was re-measured on a quiet host with zero
    // plan changes — q_filter_eq warm 0.08-0.10 s vs the 0.199 r11
    // artifact reading, q_mrr 1.17/q_lorenz_curve 0.89/
    // q_confusion_matrix 0.74 all back at-or-below their r10 readings —
    // so the constant was concurrent machine load during the r11 sweep,
    // not any code or registry cost. The note rides the artifact so the
    // attribution is in-band for round-over-round comparison.
    val note = "headline totals are sensitive to concurrent host load " +
      "(r11 carried a uniform ~30ms/key inflation vs r9 from sweep-time " +
      "load; re-measured quiet in r12 at-or-below r10 readings with no " +
      "plan changes; r12 also observed the whole VM slowing ~2x for " +
      "hours with steal=0 and full CPU clocks — shared-host variance " +
      "outside the benchmark's control; the ENTIRE r13 session ran in " +
      "such a slow window: every UNTOUCHED key — q_union, q_rollup, " +
      "q_join_inner — read ~1.7x its r12 median, and an A/B of the r12 " +
      "tree on the same host reproduced the inflation, so the r13/r12 " +
      "delta is dominated by host state; calib_* fields quantify it " +
      "per-sweep). Headline medians are of 5 runs since r12 (was 3; " +
      "raw runs in `runs`). Since r14 calib_ratio is the MEDIAN of six " +
      "stable keys' ratios vs their quiet floors (per-key evidence in " +
      "calib_keys; r13 used q_filter_eq alone, which overstated that " +
      "sweep's load 2.84x vs its peers' ~1.7x), and queries_normalized/" +
      "extended_normalized carry per-key load-normalized medians. " +
      "Since r15 the derive+extended phases carry PER-SEGMENT " +
      "calibration (a q_filter_eq probe at every session boundary and " +
      "every ~30 timings, each sample normalized by its own segment's " +
      "ratio; probes in calib_segments), and regression_flags lists " +
      "keys >2x their prior committed normalized median."
    val fullJson = s"""{"metric":"total","value":${f(total)},"unit":"sec","first_run_total":${f(firstTotal)}$calibJson,"errors":$allErrors,"regression_flags":$flagsJson$flagsSkippedJson,"calib_segments":$calibSegJson,"sf":"$sfDir","note":"$note","queries":$qs,"queries_normalized":$qsNorm,"runs":$runs,"derive":$deriveJson0,"derive_prev":$derivePrevJson,"extended":$ext,"extended_normalized":$extNorm,"extended_runs":$extRuns}"""
    // stdout is a ~2 KB tail, not an archive: the full line below lost
    // its extended medians to truncation every round since r7. The
    // COMPLETE artifact is therefore also written to a repo file,
    // committed each round, so every extended median and raw re-run
    // timing survives verbatim.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_full_latest.json"), fullJson + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] full-artifact write failed: ${e.getMessage}") }
    // critical fields (value, errors, sf) lead the line AND repeat at
    // its very end: the r5/r6 artifacts arrived truncated and the cut
    // direction is unknown, so either way one copy of the headline
    // summary survives a partial capture (duplicate keys are harmless
    // to json.load — last wins with identical values)
    println(s"""{"metric":"total","value":${f(total)},"unit":"sec","first_run_total":${f(firstTotal)}$calibJson,"errors":$allErrors,"sf":"$sfDir","queries":$qs,"runs":$runs,"extended":$ext,"extended_runs":$extRuns,"value":${f(total)},"first_run_total":${f(firstTotal)},"errors":$allErrors}""")
    // The full line above outgrew the driver's ~2 KB stdout tail as the
    // registry widened (r5/r6 artifacts lost `value`; r7's survived only
    // because extended_runs was short). Emit a SECOND, compact line LAST
    // — headline medians only, no runs/extended — sized to survive any
    // plausible tail window intact, so `value` stays machine-parseable
    // regardless of registry growth. Same duplicate-key trick: critical
    // fields lead AND trail the line.
    // Derive timings ride the compact line too: the full line's tail is
    // what the driver truncates, and the r8 artifact lost them entirely.
    println(s"""{"metric":"total","value":${f(total)},"unit":"sec","first_run_total":${f(firstTotal)}$calibJson,"errors":$allErrors,"sf":"$sfDir","derive":$deriveJson0,"queries":$qs,"value":${f(total)}}""")
    spark.stop()
  }
}
