package graft
import org.apache.spark.sql.SparkSession

object Bench {

  /** Short aliases for the bench JSON line. The driver machine-parses ONE
    * JSON line from a 2000-char output tail; at 86 queries the full-name
    * line was ~1975 chars — zero headroom. Aliased the line is ~1.2k
    * chars, leaving room for new inventory. The mapping is the single
    * source of truth (BenchSpec asserts it is unique and total over
    * SparkEntry.queries); family prefix: s=skope, t=text, d=dedup,
    * a=ann/embedding, e=events, c=docs/curation, m=multimodal, TPC-H
    * keeps its q-number.
    *
    * HEADROOM (r13 shortened to ≤6 chars; r17 dropped the family
    * underscore — the rename wave the r16 verdict prescribed instead
    * of shaving one char at a time): aliases are now the r13-r16 names
    * minus "_" (`s_me`→`sme`, `c_lb`→`clb`, `a_ipt`→`aipt` — the
    * BENCH_r{1..16}.json keys map 1:1 by deleting the underscore), so
    * cross-round tables stay readable. Worst-case line ~1.56k chars,
    * ≥15 new queries of headroom (BenchLineSpec asserts it). Key to
    * the dense suffixes: ann family `aip*` = ivf+pq, then t=trained,
    * r=residual, o=opq, trailing c=recall, f=refine; skope geotiff
    * `sgti/sgx/su6/si6/slz/stl` = ingest/export/uint16/int16/lzw/
    * tiled; mm `mb*`=binary, `ma*`=audio (mah=ahash), `mj*`=jpeg;
    * curation ccn/cpp/cpk/csm/csp/cch/cdc = contamination/pipeline/
    * pack/sample/split/chunk/decontaminate; tqc/cqa = the r17 trained
    * quality classifier score/apply.
    */
  val alias: Map[String, String] = Map(
    // TPC-H
    "q1_pricing" -> "q1", "q3_shipping" -> "q3", "q4_priority" -> "q4",
    "q5_region_rev" -> "q5", "q6_forecast" -> "q6", "q7_volume" -> "q7",
    "q8_market_share" -> "q8", "q10_returns" -> "q10",
    "q13_custdist" -> "q13", "q14_promo" -> "q14",
    "q15_top_supplier" -> "q15", "q16_parts_suppliers" -> "q16",
    "q17_small_qty" -> "q17", "q18_large_cust" -> "q18",
    "q19_brand_disc" -> "q19", "q22_idle_cust" -> "q22",
    "q2_min_cost_supp" -> "q2", "q9_product_profit" -> "q9",
    "q11_important_stock" -> "q11",
    "q12_ship_class" -> "q12", "q20_excess_supp" -> "q20",
    "q21_wait_supp" -> "q21",
    // skope core
    "skope_metadata" -> "sme", "skope_band_index" -> "sbn",
    "skope_yearly_band_index" -> "syr", "skope_batch_extract" -> "sba",
    "skope_select_point" -> "spnt", "skope_zonal_mean" -> "szmn",
    "skope_zonal_median" -> "szmd", "skope_cube_zonal" -> "scz",
    "skope_cube_spatial" -> "scs",
    "skope_ncells_area" -> "sncl", "skope_ma_centered" -> "smac",
    "skope_ma_trailing" -> "smat", "skope_zscore_moving" -> "szsm",
    "skope_zscore_fixed" -> "szsf", "skope_zscore_selected" -> "szss",
    "skope_multi_series" -> "smsr", "skope_summary_stats" -> "ssts",
    "skope_v1_timeseries" -> "sv1", "skope_quantiles" -> "sqnt",
    "skope_variable_props" -> "svpr", "skope_multi_area" -> "smar",
    "skope_hourly_zonal" -> "shr", "skope_zonal_profile" -> "sprf",
    "skope_monthly_zonal" -> "smon", "skope_quantiles_approx" -> "sqx",
    "skope_zonal_median_approx" -> "szx", "skope_anomalies" -> "san",
    "skope_polygon_mask" -> "spms", "skope_polygon_zonal" -> "spzn",
    "skope_polygon_hole" -> "sphl", "skope_feature_union" -> "sfu",
    "skope_geodesic_area" -> "sge", "skope_gap_fill" -> "sgp",
    "skope_settings" -> "sset", "skope_geotiff_ingest" -> "sgti",
    "skope_geotiff_export" -> "sgx", "skope_geotiff_uint16" -> "su6",
    "skope_geotiff_monthly" -> "sgm", "skope_geotiff_int16" -> "si6",
    "skope_geotiff_lzw" -> "slz",
    "skope_raster_series" -> "srsr",
    "skope_uncertainty_series" -> "sunc",
    // text analysis
    "text_fingerprint" -> "tfp", "text_langid" -> "tlg",
    "text_pii_scrub" -> "tpi", "text_quality" -> "tql",
    "text_repetition" -> "trp", "text_tokens" -> "ttk",
    "text_unigram_logprob" -> "tlp", "text_vocab" -> "tvc",
    "text_bigrams" -> "tbg",
    // dedup family
    "dedup_clusters" -> "dcc", "dedup_embedding" -> "demb",
    "dedup_exact" -> "dex", "dedup_minhash_lsh" -> "dmh",
    "dedup_ngram_jaccard" -> "djac", "dedup_simhash" -> "dsh",
    "dedup_substring" -> "dsb", "docs_dedup_apply" -> "dap",
    // ANN / embeddings
    "ann_ivf" -> "aiv", "ann_lsh" -> "als", "ann_recall" -> "arc",
    "ann_topk" -> "atk", "emb_centroids" -> "ace",
    "emb_quantize" -> "aqn", "emb_pq" -> "apq",
    "ann_ivfpq" -> "aip", "dedup_semantic" -> "dsm",
    "ann_ivfpq_recall" -> "aipc", "ann_ivfpq_refine" -> "aipf",
    "dedup_incremental" -> "dic",
    "emb_pq_trained" -> "apt", "ann_ivfpq_trained" -> "aipt",
    "ann_ivfpq_trained_recall" -> "aitc",
    "ann_ivfpq_residual" -> "aipr",
    "ann_ivfpq_residual_recall" -> "airc",
    // events
    "events_asof_click" -> "eas", "events_attr_window" -> "eat",
    "events_funnel" -> "efn", "events_hourly_rollup" -> "erl",
    "events_retention" -> "ert", "events_sessionize" -> "ess",
    "events_topk_users" -> "etk",
    // docs curation / training prep
    "docs_contamination" -> "ccn", "docs_curation_pipeline" -> "cpp",
    "docs_mix_weights" -> "cmx", "docs_pack_sequences" -> "cpk",
    "docs_sample_hash" -> "csm", "docs_source_cap" -> "ccp",
    "docs_split" -> "csp", "docs_chunk" -> "cch",
    "docs_decontaminate" -> "cdc",
    // multimodal
    "mm_binary_meta" -> "mbm", "mm_features" -> "mbf",
    "mm_frame_sample" -> "mfr", "mm_resize" -> "mrs",
    "mm_audio_meta" -> "mam", "mm_audio_features" -> "maf",
    "mm_audio_resample" -> "mar",
    "mm_jpeg_meta" -> "mjm", "mm_jpeg_features" -> "mjf",
    "mm_ahash" -> "mah", "skope_geotiff_tiled" -> "stl",
    // BPE tokenizer family (round 13)
    "text_tokens_bpe" -> "tbp", "docs_split_bpe" -> "cspb",
    "docs_pack_bpe" -> "cpkb", "docs_mix_bpe" -> "cmxb",
    "text_vocab_bpe" -> "tbv",
    // PCA family (round 13)
    "emb_pca" -> "apca", "emb_pca_project" -> "apcp",
    // span-level dedup apply (round 13)
    "docs_despan" -> "ddsp",
    // BigTIFF ingest (round 13)
    "skope_geotiff_big" -> "sbt",
    // round 14 additions (rank-table BPE, PCA top-k + whitening,
    // GeoTIFF Predictor 3)
    "text_tokens_bpek" -> "tbk", "emb_pca_k" -> "apck",
    "emb_whiten" -> "awh", "skope_geotiff_f32pred" -> "sfp",
    // OPQ family (round 15): o=opq, trailing c=recall
    "emb_pq_opq" -> "apqo", "ann_ivfpq_opq" -> "aipo",
    "ann_ivfpq_opq_recall" -> "aioc",
    // epoch-capped mixture + bigram LM score (round 15)
    "docs_mix_epochs" -> "cmep", "text_bigram_logprob" -> "tbl",
    "docs_lm_buckets" -> "clb", "text_quality_clf" -> "tqc",
    "docs_quality_apply" -> "cqa", "docs_lm_sample" -> "cls",
    "docs_dsir" -> "cds", "docs_dsir_sample" -> "cdk",
    "docs_dsir_hashed" -> "cdh",
    // trained language id (round 19)
    "text_langid_clf" -> "tlc",
    // dHash image near-dup pairs (round 19)
    "mm_dhash" -> "mdh"
  )

  /** The r1 baseline's per-query seconds (sf0.1, BENCH_r01.json) —
    * embedded so the bench line itself carries the gate BASELINE.md
    * defines ("within 2× of r1 ON THE SHARED QUERIES while adding
    * coverage"), instead of requiring the reader to reconstruct the
    * shared subset from two JSON files (r18 verdict item 1: the raw
    * totals ratio crossed 2× on a noisy-box day purely because the
    * inventory is 2.6× r1's, while the shared subtotal was 0.67×).
    * The bench emits `sharedR1` (this run's subtotal over the shared
    * keys that actually ran) and `r1x` (that subtotal over r1's
    * subtotal for the SAME keys — denominators track skips/failures,
    * so the ratio never compares mismatched sets). */
  val r1Baseline: Map[String, Double] = Map(
    "ann_ivf" -> 2.664, "ann_topk" -> 0.939, "dedup_embedding" -> 1.079,
    "dedup_exact" -> 0.256, "dedup_minhash_lsh" -> 1.632,
    "dedup_ngram_jaccard" -> 1.531,
    "dedup_simhash" -> 1.791, "docs_curation_pipeline" -> 1.154,
    "docs_sample_hash" -> 0.274,
    "docs_source_cap" -> 0.286, "emb_centroids" -> 0.455,
    "events_asof_click" -> 0.654,
    "events_hourly_rollup" -> 2.264, "events_sessionize" -> 2.274,
    "events_topk_users" -> 0.622,
    "mm_binary_meta" -> 0.296, "mm_features" -> 0.303,
    "q10_returns" -> 1.388,
    "q14_promo" -> 0.422, "q16_parts_suppliers" -> 1.152,
    "q18_large_cust" -> 1.654,
    "q19_brand_disc" -> 0.43, "q1_pricing" -> 0.418,
    "q22_idle_cust" -> 0.599,
    "q3_shipping" -> 0.676, "q4_priority" -> 0.675,
    "q5_region_rev" -> 0.974,
    "q6_forecast" -> 0.206, "q7_volume" -> 0.781,
    "skope_anomalies" -> 0.655,
    "skope_band_index" -> 0.379, "skope_gap_fill" -> 0.534,
    "skope_hourly_zonal" -> 0.332,
    "skope_ma_centered" -> 0.461, "skope_ma_trailing" -> 0.265,
    "skope_metadata" -> 0.258,
    "skope_multi_area" -> 0.282, "skope_multi_series" -> 0.689,
    "skope_ncells_area" -> 0.212,
    "skope_quantiles" -> 0.24, "skope_select_point" -> 0.323,
    "skope_summary_stats" -> 0.591,
    "skope_v1_timeseries" -> 0.258, "skope_variable_props" -> 0.3,
    "skope_zonal_mean" -> 0.24,
    "skope_zonal_median" -> 0.253, "skope_zonal_median_approx" -> 0.224,
    "skope_zonal_profile" -> 0.208,
    "skope_zscore_fixed" -> 0.405, "skope_zscore_moving" -> 0.324,
    "skope_zscore_selected" -> 0.31,
    "text_fingerprint" -> 0.244, "text_langid" -> 0.17,
    "text_pii_scrub" -> 0.12,
    "text_quality" -> 0.148, "text_tokens" -> 0.133,
    "text_vocab" -> 0.342)

  /** The one session builder of the harnesses (Bench, Verify, Measure,
    * HttpBench, ScaleUp and perfbench), so every number is taken under
    * one config — a copied config block silently drifts. Cores:
    * SPARK_GRAFT_CPUS, else every core the JVM sees. */
  private[graft] def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.maxFields", "200")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `v` at `dp` decimals, trailing zeros stripped. Locale.ROOT pins the
    * decimal separator: the default-locale format emits "1,2" under a
    * comma-decimal locale, corrupting the JSON. */
  private[graft] def fmt(v: Double, dp: Int): String = {
    val raw = String.format(java.util.Locale.ROOT, s"%.${dp}f", Double.box(v))
    // strip trailing zeros ONLY after a decimal point — integer
    // output ("10", "100") has significant zeros
    val s = if (raw.contains('.'))
      raw.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
    else raw
    if (s.isEmpty) "0" else s
  }

  /** Per-query seconds as printed: floored at 0.1 s for a query that
    * RAN — a bare 0 is indistinguishable from a dropped query in the
    * driver's differ (r19: emb_quantize timed 0.04 s, printed "0",
    * and was scored dropped_from_bench). The headline total still
    * sums raw timings; -1 (failed both passes) prints as-is. */
  private[graft] def shownSec(v: Double): Double =
    if (v >= 0) math.max(v, 0.1) else v

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()
    // warm the JVM/codegen/parquet-footer paths once so per-query times
    // reflect steady state, not session startup
    try SparkEntry.queries.get("q1_pricing").foreach(_(spark, sfDir).count())
    catch { case _: Throwable => () }
    // SPARK_GRAFT_SKIP (comma-separated names or aliases): exclude
    // queries from a scale run — used for the sf10 (100×) point where
    // the documented quadratic-by-design exhaustive cosine baseline
    // (dedup_embedding) would pay 10,000× its sf0.1 pair count by
    // definition of the operator (BASELINE.md scale-evidence protocol).
    // Unset for driver rounds: the full inventory runs.
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(',').map(_.trim).toSet).getOrElse(Set.empty[String])
    // The exhaustive O(n²) cosine baseline is OPT-IN at every SF
    // (round-8 verdict item 6): it exists as the correctness anchor
    // for the sub-quadratic paths (ann_lsh / ann_ivf / minhash), and a
    // driver protocol change must not be able to run a quadratic
    // operator at scale by accident. EmbeddingPairsSpec still pins it
    // to brute force at sf0.01; set SPARK_GRAFT_EXHAUSTIVE=1 to bench
    // it deliberately.
    val exhaustiveOptIn = sys.env.contains("SPARK_GRAFT_EXHAUSTIVE")
    val named = SparkEntry.queries.toSeq
      .filter { case (n, _) =>
        !skip.contains(n) && !skip.contains(alias.getOrElse(n, n)) &&
          (exhaustiveOptIn || n != "dedup_embedding") }
      .sortBy(_._1)
    // A failed pass records +Infinity (never its elapsed time), so
    // min-of-two can only select a SUCCESSFUL pass's timing — a query
    // that runs slowly once and fails fast once must not report the
    // fast failure. A query with no successful pass surfaces as the
    // -1 marker in the JSON line (Infinity is not valid JSON) plus a
    // stderr line naming it.
    def timeOnce(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch { case t: Throwable =>
        System.err.println(s"bench FAILED $name: ${t.getClass.getSimpleName}")
        Double.PositiveInfinity }
    }
    // Two FULL passes, min per query: the bench box shows rotating ~10 s
    // stall windows (BASELINE.md) that can print 29 s for a 1.4 s query.
    // Interleaving whole passes puts the two runs of each query minutes
    // apart, so one stall window cannot poison both; min-of-2 is the
    // steady-state estimate. (Second runs also skip one-shot plan/codegen
    // cost, which BASELINE.md identifies as the dominant term at sf0.1 —
    // the min is the engine's speed, which is what the 2× gate grades.)
    val pass1 = named.map { case (n, f) => n -> timeOnce(n, f) }
    // drop session-scoped derived artifacts (shingle tables, signatures,
    // cluster labels) so pass 2 re-pays the family's build cost like
    // every earlier round's bench did — otherwise min-of-2 would report
    // a cache read (~0 s) for the artifact-backed dedup/ANN queries and
    // hide the engine work the 2x gate is grading. JVM/codegen warmth
    // (the noise being targeted) still carries over.
    graft.pipeline.ArtifactCache.clear()
    val pass2 = named.map { case (n, f) => n -> timeOnce(n, f) }
    val results = pass1.zip(pass2).map { case ((n, a), (_, b)) =>
      val m = math.min(a, b)
      n -> (if (m.isInfinite) -1.0 else m) // -1 = failed in BOTH passes
    }
    // SINGLE-pass failures must be visible too (r12 verdict item 1:
    // skope_geotiff_lzw threw in one pass and min-of-2 absorbed it —
    // the stderr line scrolled out of the driver's 2000-char tail).
    // "pf" counts query-passes that threw but still produced a timing
    // via the other pass; a clean round omits the field entirely.
    val passFailures = pass1.zip(pass2).count { case ((_, a), (_, b)) =>
      a.isInfinite ^ b.isInfinite
    }
    // The driver machine-parses this line from a 2000-char output tail,
    // so the whole line must stay under ~1900 chars even as the inventory
    // grows: short aliases (map above), centisecond precision, trailing
    // zeros stripped, sf as a basename. (Round 1 failed parse on the
    // "[info] " logger prefix — hence run/outputStrategy in build.sbt;
    // round 2 on sheer length.)
    val qs = results.map { case (k, v) =>
      val s = shownSec(v)
      s"\"" + alias.getOrElse(k, k) + "\":" + fmt(s, if (s >= 10) 0 else 1)
    }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val nFailed = results.count(_._2 < 0)
    val sfName = new java.io.File(sfDir).getName
    // a both-passes-failed query is EXCLUDED from the headline total
    // (its time is unknown, not zero) — the "failed" field makes that
    // unmissable, so a broken build can never read as a speedup
    val failedField = if (nFailed > 0) s""","failed":$nFailed""" else ""
    val pfField = if (passFailures > 0) s""","pf":$passFailures""" else ""
    // the r1-shared gate, machine-readable from this line alone (r18
    // verdict item 1): subtotal over the shared queries that actually
    // ran this round, and its ratio to r1's subtotal over the SAME
    // keys — both denominators shrink together under skips/failures
    val shared = results.filter { case (n, v) =>
      v >= 0 && r1Baseline.contains(n) }
    val sharedField =
      if (shared.isEmpty) ""
      else {
        val ours = shared.map(_._2).sum
        val r1s = shared.map { case (n, _) => r1Baseline(n) }.sum
        s""","sharedR1":${fmt(ours, 2)},"r1x":${fmt(ours / r1s, 2)}"""
      }
    println(s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","queries":$qs,"sf":"$sfName"$sharedField$failedField$pfField}""")
    System.out.flush()
    spark.stop()
  }
}
