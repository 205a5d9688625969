package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The SQL-visible native functions — the ONE table both registration
  * paths read: [[graft.GraftExtensions]] injects every entry into a
  * session at build time, and [[Udfs.registerAll]] adds the entries a
  * session lacks (a bare `SparkSession`). To add a native function to
  * SQL, add its row here.
  *
  * Operators do not go through this table: they build the same
  * expressions as typed Columns (e.g. `DotProduct(a, b)`), so an
  * operator's arguments can never be rebound by a SQL registration.
  */
object NativeFunctions {

  final case class Entry(name: String, usage: String,
                         builder: Seq[Expression] => Expression) {
    // one instance per entry: re-registering the same (info, builder)
    // pair is not a replacement in Spark's registry
    val info: ExpressionInfo =
      new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "",
        "built-in")
  }

  /** A literal INT argument (shingle width, hash count, band shape). */
  private def int(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()

  val table: Seq[Entry] = Seq(
    Entry("lap_time_millis", "lap_time_millis(ms BIGINT) - millis to MM:SS.mmm",
      a => LapTimeMillis(a.head)),
    Entry("nfc_normalize", "nfc_normalize(s STRING) - Unicode NFC normal form",
      a => NfcNormalize(a.head)),
    Entry("dot_arr", "dot_arr(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) - dot product",
      a => DotProduct(a(0), a(1))),
    Entry("jaccard_sorted",
      "jaccard_sorted(a, b) - jaccard of sorted distinct arrays",
      a => JaccardSorted(a(0), a(1))),
    Entry("graft_shingles",
      "graft_shingles(toks ARRAY<STRING>, n INT) - distinct sorted n-shingles",
      a => Shingles(a(0), int(a(1)))),
    Entry("rolling_hash_min",
      "rolling_hash_min(s STRING, k INT) - min Karp-Rabin k-window hash",
      a => RollingHashMin(a(0), int(a(1)))),
    Entry("shingle_hashes",
      "shingle_hashes(toks ARRAY<STRING>, n INT) - sorted distinct xxhash64 of n-shingles",
      a => ShingleHashes(a(0), int(a(1)))),
    Entry("minhash_signature",
      "minhash_signature(sh ARRAY<BIGINT>, k INT) - k Carter-Wegman min-hashes",
      a => MinHashSignature(a(0), int(a(1)))),
    Entry("srp_bands",
      "srp_bands(v ARRAY<DOUBLE>, bands INT, bits INT) - band-tagged hyperplane LSH codes",
      a => SrpBands(a(0), int(a(1)), int(a(2)))),
    Entry("simhash_signature",
      "simhash_signature(toks ARRAY<STRING>) - 64-bit simhash",
      a => SimhashSignature(a.head)),
    Entry("kll_sketch_agg",
      "kll_sketch_agg(v BIGINT[, k INT]) - mergeable KLL quantile sketch",
      a => KllSketchAgg(a(0), KllSketch.kArg(a))),
    Entry("kll_merge_agg",
      "kll_merge_agg(sk BINARY[, k INT]) - union stored KLL sketches",
      a => KllMergeAgg(a(0), KllSketch.kArg(a))),
    Entry("kll_sketch_quantile",
      "kll_sketch_quantile(sk BINARY, q DOUBLE) - inclusive quantile",
      a => KllSketchQuantile(a(0), a(1))),
    Entry("countmin_agg",
      "countmin_agg(tok STRING) - 4x256 Count-Min counter plane (md5-window hashes)",
      a => CountMinAgg(a.head)),
    Entry("countmin_merge_agg",
      "countmin_merge_agg(cells ARRAY<BIGINT>) - union stored Count-Min planes",
      a => CountMinMergeAgg(a.head)))
}
