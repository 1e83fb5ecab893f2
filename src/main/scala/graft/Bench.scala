package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: one JSON line with per-query wall times at the
  * SPARK_GRAFT_SF_DIR scale factor.
  *
  * Measurement discipline (a co-tenant machine cannot distinguish a
  * real 2x regression from noise with best-of-2): 5 timed runs per
  * query after a warm-up pass, INTERLEAVED round-robin across queries,
  * report the MEDIAN per query (plus the min for the optimistic
  * floor). Failures never poison the total — a query that throws is
  * excluded and counted in "failed", and every failure's cause is
  * reported under "errors".
  */
object Bench {

  private val Runs = 5

  /** Noise guard: a query whose median/min exceeds this across its
    * timed runs was almost certainly disturbed by co-tenant load (a
    * query does not legitimately vary 3× across runs of identical
    * code — observed up to 12.6× under heavy load, which corrupted
    * one round's recorded bench); it gets two extra timed runs to
    * tighten the median. The emitted JSON carries the residual worst
    * ratio as `noise` so the run's quality is visible.
    */
  private val NoiseRatio = 3.0

  /** Headline queries only (one per operator family, weighted toward
    * the expensive plans). Benching all ~65 registered queries made
    * the emitted JSON line overflow the harness's output tail buffer
    * (BENCH_r03 recorded `parsed: null` with the line truncated) and
    * spent 6 timed executions on sub-200ms lookups that say nothing
    * about scale. The two dozen representative queries below keep the
    * line compact and the signal per second high (the emitted JSON
    * reports the actual count as `n_queries`).
    */
  private val Headline: Seq[String] = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q8_market_share", "q9_product_profit", "q13_customer_distribution",
    "q18_large_volume_orders", "q_window_top_parts_per_supplier",
    "q_salted_join_revenue", "q_cube_status_priority", "q_asof_event_order",
    "q_range_join_native", "q_heavy_hitters",
    "src_bucketed_join", "dedup_minhash_lsh", "dedup_clusters",
    "dedup_clusters_exact", "sim_ivf_topk", "text_tokens",
    "text_tfidf_top_terms", "text_fingerprint", "prof_orders_columns",
    "mm_feature_extract", "mm_resize",
    // round-6 additions: the two heaviest of the new TPC-H topologies,
    // the map-only repetition pass, the behavioral event-log passes,
    // the copy-on-write merge, and the PQ compressed-scan ANN
    "q2_min_cost_supplier", "q21_waiting_suppliers", "text_repetition",
    "q_funnel_conversion", "q_scd2_user_status", "src_merge_upsert",
    "sim_pq_topk",
    // round-7 additions: substring-level dedup (native span-hash scan +
    // one count-distinct shuffle), the decontamination semi join, and
    // the unigram-LM scorer (tokenize + count shuffle + word join)
    "dedup_substring", "text_decontaminate", "text_unigram_logprob",
    // round-8 additions: BPE train (vocab-bounded) + encode scan, the
    // cross-source span self-join, and split packing (window + explode)
    "text_bpe_tokens", "dedup_source_overlap", "pipeline_pack_split",
    // round-8 late additions: SemDeDup (k-means + within-cluster pair
    // join), DSIR weights (two-model word join), bloom-prefiltered
    // fact join, and MMR re-rank over the shortlist cogroup
    "dedup_semantic", "text_dsir_weights", "q_bloom_semi_join",
    "sim_mmr_topk", "text_hash_embed", "pipeline_curriculum",
    "src_stats_table", "dedup_incremental",
    // round-9 additions: the de-skewed global-order neighbor pass
    // (range partition + zipWithIndex + index equi-join), the
    // graph-ANN beam probe (routing-graph build + sliver scan), the
    // incremental IVF absorb (index write + append + pruned serve),
    // and the entity-resolution composite (linkage + CC + election)
    "dedup_sorted_neighborhood", "sim_hnsw_topk",
    "sim_ivf_incremental", "q_entity_resolution",
    // round-9 late additions: footer-stats aggregate pushdown (a
    // metadata-only pass — its cost IS the write+footer sweep), the
    // MV rewrite round trip (build + rewritten scan), write-time CDF
    // merge, and the bloom-index build + pruned point lookup
    "src_v2_agg_pushdown", "q_mv_rewrite", "src_change_feed",
    "src_bloom_index",
    // round-9 final additions: the day-spine gap fill (spine join +
    // packed-max window), the triple-scan unpivot aggregate, the
    // row-level quarantine manifest, and filtered vector search
    "q_gap_fill", "q_unpivot", "q_quarantine", "sim_filtered_topk",
    // round-10 additions: the write-audit-publish flow (stage + audit
    // + publish + rejected-batch vacuum), the multimodal pair-
    // curation funnel (span-hash decon + md5 dedup + quality gates),
    // the cluster-keyed leakage-safe split (C6 CC + hash split), and
    // the point-in-time feature snapshot (as-of + strict-prior windows)
    "src_wap_publish", "pipeline_curate_pairs",
    "pipeline_cluster_split", "q_feature_snapshot", "mm_token_budget",
    "pipeline_weighted_sample",
    // round-11 additions: the Zipf-slope crawl diagnostic (tokenize +
    // count shuffle + tree-reduced top-k + k-row regression), the
    // packing-efficiency report (tokenize + two-level aggregate), and
    // the ingestion-drift profile (tokenize + bucket aggregate +
    // broadcast baseline join)
    "text_zipf_slope", "pipeline_pack_efficiency", "text_ingest_drift",
    // round-11 late addition: the CCNet perplexity-tercile cut (cached
    // unigram grain + bounded two-phase cutoff selection + assignment)
    "text_perplexity_buckets",
    // round-11 final additions: merge-on-read mutation (tombstone
    // epochs + anti-join read + affected-file compaction) and the
    // five-stage curation funnel (C7 chain + survivor-trained
    // perplexity cut)
    "src_mor_delete", "src_mor_upsert", "pipeline_curation_funnel",
    // the A44 equality-delete lane (zero-read erase + forward mask)
    // and the E23 persisted-classifier artifact (train + artifact
    // scoring of the held-out half)
    "src_mor_erase", "text_quality_model",
    // the A45 sequence-numbered equality upsert (two zero-read
    // generations + an erase outranking a resurrection attempt) and
    // the A46 incremental summary under mutation (build + 2 refreshes)
    "src_mor_upsert_eq", "src_mor_incremental_agg",
    // the H14 seeded-shuffle keyed resume, the A48 footer-pruned
    // retention sweep, and the A49 outbound change feed
    "pipeline_shuffle_resume", "src_retention_sweep",
    "src_mor_change_feed", "src_mor_sql_read",
    // round-13 additions: SQL row-level DML (delta delete + update +
    // merge through the v2 write path) and the mask-composed epoch
    // read (publish + AS-OF with recorded sidecars)
    "src_mor_sql_dml", "src_mor_time_travel",
    // round-14 additions: the materialized export of a masked epoch
    // (mask-applied COW pass + foreign plain read), the ALTER
    // DROP/RENAME declared rewrite (CTAS + two rewrites + read-back),
    // and the declared z-order layout (CREATE + shaped INSERT + band
    // read over the clustered table)
    "src_export_material", "src_sql_alter_rewrite", "src_sql_layout",
    // the A65 declared-bucket tables + storage-partitioned join
    // (CREATE ×2 + shaped INSERT ×2 + the zero-exchange join)
    "src_sql_bucket_join",
    // round-15 additions: the stats-driven auto-broadcast join (v2
    // SupportsReportStatistics), the (BIGINT, TIMESTAMP) zorder
    // insert+band read, the two-column bucket grid SPJ, and the
    // SQL-TVF IVF probe (index build + 5 pruned TVF reads)
    "src_sql_join_broadcast", "src_sql_layout_ts",
    "src_sql_bucket_join_multi", "sim_sql_topk",
    // round-16 addition: the streaming table tail (build + publish ×2
    // + two AvailableNow runs resuming one checkpoint)
    "stream_table_tail")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** 3 decimals, locale-stable — keeps the JSON line short. */
  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** A JSON string literal: quotes, backslashes and control characters
    * escaped.
    */
  private[graft] def jstr(v: String): String = {
    val b = new StringBuilder("\"")
    v.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append("\\u%04x".format(c.toInt))
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** "<exception class>: <first message line>", the form a failure is
    * reported in.
    */
  private[graft] def describe(e: Throwable): String =
    e.getClass.getName + ": " +
      Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")

  /** Seconds for one execution (`count()`) of a query over `dir`, or
    * -1 after passing its exception to `onFailure`. Then every operator
    * grain and cached frame is dropped: queries that cache
    * intermediates (dedup/sim families) would otherwise leave them
    * resident, and 24 queries x 6 runs fill the storage pool so late
    * queries pay eviction + GC (BENCH_r05: text_fingerprint median 4.0s
    * vs min 1.0s, 21st of 24 in run order). Dropping the pool after
    * every execution isolates each measurement from its predecessors;
    * releaseGrains also empties the grain registry so its strong refs
    * stay bounded.
    */
  private[graft] def timeOnce(spark: SparkSession, dir: String,
      fn: (SparkSession, String) => DataFrame)(onFailure: Throwable => Unit): Double = {
    val t0 = System.nanoTime()
    val t = try { fn(spark, dir).count(); (System.nanoTime() - t0) / 1e9 }
            catch { case e: Throwable => onFailure(e); -1.0 }
    GraftSession.releaseGrains()
    spark.sharedState.cacheManager.clearCache()
    t
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen warm-up on the tiny sf so first-timed query is not
    // charged for JIT + Spark infra startup.
    SparkEntry.entry(spark).count()

    val bench = Headline.flatMap(n => SparkEntry.queries.get(n).map(n -> _))
    // every failed execution, per query: its count and the first cause
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, (Int, String)]
    def once(name: String, fn: (SparkSession, String) => DataFrame): Double =
      timeOnce(spark, sfDir, fn) { e =>
        val why = describe(e)
        System.err.println(s"[bench] $name failed: $why")
        val (n, first) = failures.getOrElse(name, (0, why))
        failures(name) = (n + 1, first)
      }
    // Warm-up pass: pays codegen/JIT and page cache per query, and
    // discovers failures (a query that throws is excluded up front —
    // no point timing it 5x — and reported with its cause).
    val warm = bench.map { case (name, fn) => name -> once(name, fn) }
    val failed0 = warm.collect { case (n, t) if t < 0 => n }.toSet
    val live = bench.filterNot { case (n, _) => failed0(n) }
    // Timed passes are INTERLEAVED round-robin: run every query once,
    // repeat xRuns. Back-to-back per-query batches let one co-tenant
    // burst corrupt all 5 runs of a single query (BENCH_r06/r07 both
    // recorded 8-12x inflated medians for whichever query the burst
    // landed on); spread across a pass, a burst taxes ONE run of many
    // queries and the per-query median survives.
    val acc = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    for (_ <- 1 to Runs; (name, fn) <- live) {
      val t = once(name, fn)
      if (t >= 0) acc(name) = acc(name) :+ t
    }
    // Residual guard: a query still med/min-noisy after interleaving
    // (burst wide enough to span whole passes) gets two extra passes;
    // extra samples tighten its median without discarding any run.
    val noisy = live.filter { case (n, _) =>
      val rs = acc(n); rs.nonEmpty && median(rs) > rs.min * NoiseRatio }
    if (noisy.nonEmpty) {
      System.err.println("[bench] noisy after interleave, extra passes: " +
        noisy.map(_._1).mkString(","))
      for (_ <- 1 to 2; (name, fn) <- noisy) {
        val t = once(name, fn)
        if (t >= 0) acc(name) = acc(name) :+ t
      }
    }
    // run-level noise GATE (r10 lesson: the driver run recorded noise
    // 2.19 and the round-over-round delta was unattributable): if the
    // residual worst med/min ratio is still past the gate, spend one
    // more full interleaved pass — extra samples tighten every median
    // — then re-measure. The emitted line carries the final noise AND
    // a `noisy` verdict so the artifact self-labels: a `noisy: true`
    // bench must not be read as a regression signal.
    val NoiseGate = 1.5
    def runNoise: Double = {
      val rss = live.map { case (n, _) => acc(n) }.filter(_.nonEmpty)
      if (rss.isEmpty) 0.0 else rss.map(rs => median(rs) / rs.min).max
    }
    if (runNoise > NoiseGate) {
      System.err.println(f"[bench] run noise $runNoise%.2f > $NoiseGate: one more interleaved pass")
      for ((name, fn) <- live) {
        val t = once(name, fn)
        if (t >= 0) acc(name) = acc(name) :+ t
      }
    }
    val timings = bench.map { case (name, _) => name -> acc(name).toSeq }
    val failed = timings.collect { case (n, rs) if rs.isEmpty => n }.sorted
    val ok = timings.filter(_._2.nonEmpty)
    def jmap(f: Seq[Double] => Double): String =
      ok.map { case (k, rs) => "\"" + k + "\":" + fmt(f(rs)) }.mkString("{", ",", "}")
    val total = ok.map { case (_, rs) => median(rs) }.sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // residual run quality AFTER the noise guard + gate: worst med/min
    val noise = if (ok.isEmpty) 0.0
                else ok.map { case (_, rs) => median(rs) / rs.min }.max
    // FROZEN FLOOR deltas (r15 discipline): ladders that grow by
    // construction (src_mor_sql_dml gained MERGE-breadth steps in r14,
    // +37% "regression" that was really new work) hide real
    // regressions in round-over-round compares. BENCH_FLOOR.json pins
    // each query's reference median; the emitted line carries the
    // per-query ratio vs that floor and names the >1.5× offenders, so
    // creep is attributable per query. A deliberate ladder extension
    // must bump the floor entry in the same commit.
    val floorPath = sys.env.getOrElse("SPARK_GRAFT_FLOOR", "BENCH_FLOOR.json")
    // a missing, unreadable or empty floor file would silently turn
    // floor_regressed off: it is flagged in both output lines instead
    val (floor, floorError) = try {
      val body = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(floorPath)),
        java.nio.charset.StandardCharsets.UTF_8)
      // flat {"name": seconds} pairs inside the "queries" object
      val m = """"([A-Za-z0-9_]+)"\s*:\s*([0-9.]+)""".r
      val f = m.findAllMatchIn(body).map(x => x.group(1) -> x.group(2).toDouble).toMap
      (f, if (f.isEmpty) Some(s"$floorPath holds no floor entries") else None)
    } catch { case e: Throwable => (Map.empty[String, Double], Some(describe(e))) }
    floorError.foreach(why => System.err.println(
      s"[bench] NO FLOOR: $why - floor_regressed is not checked"))
    val floorFields = s""""floor_file":${jstr(floorPath)},""" +
      s""""floor_missing":${floorError.nonEmpty},""" +
      floorError.fold("")(why => s""""floor_error":${jstr(why)},""")
    // one entry per query that failed at least once: how many of its
    // executions failed, and the first cause
    val errorsJson = failures.map { case (n, (k, why)) =>
      s"""{"query":${jstr(n)},"failed_runs":$k,"error":${jstr(why.take(200))}}"""
    }.mkString("[", ",", "]")
    val floorRatios = ok.flatMap { case (k, rs) =>
      floor.get(k).filter(_ > 0).map(f => k -> median(rs) / f) }
    val floorJson = floorRatios
      .map { case (k, r) => "\"" + k + "\":" + fmt(r) }.mkString("{", ",", "}")
    val regressed = floorRatios.filter(_._2 > 1.5).map(_._1).sorted
    val regressedJson = regressed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
      s""""queries":${jmap(median)},"queries_min":${jmap(_.min)},""" +
      s""""failed":${failed.size},"failed_queries":$failedJson,""" +
      s""""noise":${fmt(noise)},"noisy":${noise > NoiseGate},""" +
      s""""errors":$errorsJson,""" +
      s""""floor_ratio":$floorJson,"floor_regressed":$regressedJson,""" +
      floorFields +
      s""""sf":${jstr(sfDir)},"runs_per_query":$Runs,"agg":"median",""" +
      s""""headline_only":true,"n_queries":${bench.size}}"""
    println(fullLine)
    // The full line above (per-query seconds + per-query floor ratios,
    // ~89 keys each) is ~5 KB — longer than a consumer that keeps only
    // a bounded stdout TAIL can hold, so its FRONT (metric/value) gets
    // truncated away (BENCH_r15/r16 both recorded `parsed: null` for
    // exactly this reason). Contract repair, r17: (a) the full line is
    // ALSO written verbatim to BENCH_detail.json so per-query numbers
    // survive with no stdout limits, and (b) a SHORT summary line —
    // guaranteed to fit a 2 KB tail whole — is printed LAST. Nothing
    // about the measurement methodology changes; the long line keeps
    // every key it ever had.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "BENCH_detail.json")
    try {
      val w = new java.io.PrintWriter(detailPath, "UTF-8")
      try w.println(fullLine) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $detailPath: $e")
    }
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
      s""""failed":${failed.size},"failed_queries":$failedJson,""" +
      s""""errors":$errorsJson,""" +
      s""""noise":${fmt(noise)},"noisy":${noise > NoiseGate},""" +
      s""""floor_regressed":$regressedJson,""" + floorFields +
      s""""sf":${jstr(sfDir)},""" +
      s""""runs_per_query":$Runs,"agg":"median","headline_only":true,""" +
      s""""n_queries":${bench.size},"detail":${jstr(detailPath)}}""")
    spark.stop()
  }
}
