package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-ratio bench: run the READ-path headline queries at sf0.1
  * and at a DERIVED 10× scale ("sf1"), and report the per-query
  * wall-time ratio — the cheapest empirical check that every plan
  * claimed "fine at 100×" is at least linear at 10×. A ratio ≫ 10 on
  * a 32-core box flags a super-linear plan (quadratic join, driver
  * funnel, skew collapse) before a cluster finds it.
  *
  * The 10× dataset is DERIVED from the driver's sf0.1 tables, not
  * synthesized: each fact/dimension table is replicated 10 times with
  * per-replica key shifts (stride = max key + 1, replica 0 keeps the
  * original keys so query constants still resolve), which preserves
  * join fan-outs and group cardinalities per replica — the workload
  * scales like 10 disjoint sf0.1 worlds sharing dictionary columns.
  * `documents.text` gets a per-replica suffix token so near-dup
  * structure stays per-replica instead of creating 10-way duplicate
  * clusters the sf0.1 run doesn't have. `nation`/`region` stay 1×
  * (TPC-H semantics: dimension constants don't scale).
  *
  * Known sub-linear queries (cost driven by a grain that does NOT
  * grow 10×) are annotated in `expectSubLinear` so a ratio ~1 there
  * reads as designed, not as noise.
  *
  * A query or write experiment that throws is left out of the ratios
  * and reported under "errors" (query, sf dir, failed-run count,
  * exception class and first message line), and on stderr.
  */
object ScaleBench {

  private val Reps = 10

  /** Read-path headline queries: every family, no scratch-table
    * writes (write-path src_* queries measure their own write work —
    * scaling those is a different experiment).
    */
  private val ReadQueries: Seq[String] = Seq(
    // relational core
    "q1_pricing_summary", "q3_shipping_priority", "q8_market_share",
    "q9_product_profit", "q18_large_volume_orders", "q21_waiting_suppliers",
    "q_window_top_parts_per_supplier", "q_salted_join_revenue",
    "q_cube_status_priority", "q_asof_event_order", "q_range_join_native",
    "q_heavy_hitters", "q_funnel_conversion", "q_scd2_user_status",
    "q_gap_fill", "q_unpivot", "q_quarantine", "prof_orders_columns",
    // text
    "text_tokens", "text_tfidf_top_terms", "text_repetition",
    "text_unigram_logprob", "text_bpe_tokens", "text_dsir_weights",
    // dedup
    "dedup_minhash_lsh", "dedup_substring", "dedup_sorted_neighborhood",
    "dedup_semantic",
    // similarity
    "sim_ivf_topk", "sim_hnsw_topk", "sim_pq_topk", "sim_mmr_topk",
    // assembly
    "pipeline_curriculum",
    // round-10 additions
    "pipeline_curate_pairs", "pipeline_cluster_split",
    "q_feature_snapshot", "mm_token_budget", "pipeline_weighted_sample",
    // round-11 additions: the one-pass token budget (the H5 fix —
    // the ratio now prices ONE tokenize) and scan-time BM25 retrieval
    "pipeline_token_budget", "text_bm25_retrieval",
    // round-11 late addition: perplexity terciles — one cached
    // tokenize + bounded cutoff collects; the scan is the only
    // scaling part
    "text_perplexity_buckets",
    // round-11 final addition: the five-stage funnel (C7 chain +
    // survivor-trained perplexity cut) — the CC pass dominates as in
    // pipeline_cluster_split
    "pipeline_curation_funnel")

  /** Queries whose dominant cost grain does not grow with corpus
    * rows, with the reason — a ratio well under 10 is the DESIGN.
    */
  private val expectSubLinear: Map[String, String] = Map(
    "q_gap_fill" -> "day-spine grain (groups x days) is SF-invariant; only the daily aggregate scan grows",
    "q_cube_status_priority" -> "output is the fixed status x priority cube; scan-dominated at small SF",
    "sim_mmr_topk" -> "re-ranks a fixed-size shortlist; corpus scan is the only scaling part",
    "sim_pq_topk" -> "codebook training on the capped sample dominates at sf0.1; scan side is the scaling part",
    "sim_hnsw_topk" -> "routing graph is hard-capped (4096); probes touch the beam sliver only",
    "text_bpe_tokens" -> "BPE merge training is vocab-bounded; only the encode scan grows",
    "q_heavy_hitters" -> "space-saving sketch size is fixed; one scan + fixed merge")

  /** Derive the 10x dataset (idempotent: skipped if the marker file
    * exists and names the same rep count).
    */
  def ensureScaled(spark: SparkSession, srcDir: String, dstDir: String): Unit = {
    val marker = new java.io.File(s"$dstDir/_DERIVED")
    if (marker.exists &&
        scala.io.Source.fromFile(marker).mkString.trim == s"reps=$Reps") return
    val fs = new org.apache.hadoop.fs.Path(dstDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(dstDir), true)
    val reps = broadcast(spark.range(Reps).select(col("id").as("__rep")))

    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1L

    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dstDir/$name.parquet")

    def rd(name: String) = graft.sources.GraftIO.readParquet(spark, s"$srcDir/$name.parquet")

    // dimension constants stay 1x
    write("nation", rd("nation"))
    write("region", rd("region"))

    val orders = rd("orders"); val lineitem = rd("lineitem")
    val customer = rd("customer"); val supplier = rd("supplier")
    val part = rd("part"); val events = rd("events")
    val documents = rd("documents"); val embeddings = rd("embeddings")
    val (ko, kc, ks, kp) = (maxOf(orders, "o_orderkey"), maxOf(customer, "c_custkey"),
      maxOf(supplier, "s_suppkey"), maxOf(part, "p_partkey"))

    def shift(df: DataFrame, shifts: (String, Long)*): DataFrame = {
      val shifted = shifts.foldLeft(df.crossJoin(reps)) { case (d, (c, k)) =>
        d.withColumn(c, col(c) + col("__rep") * k)
      }
      shifted.drop("__rep")
    }

    write("orders", shift(orders, "o_orderkey" -> ko, "o_custkey" -> kc))
    write("lineitem", shift(lineitem, "l_orderkey" -> ko,
      "l_partkey" -> kp, "l_suppkey" -> ks))
    write("customer", shift(customer, "c_custkey" -> kc))
    write("supplier", shift(supplier, "s_suppkey" -> ks))
    write("part", shift(part, "p_partkey" -> kp))
    write("events", shift(events, "event_id" -> maxOf(events, "event_id"),
      "user_id" -> maxOf(events, "user_id")))
    // per-replica text suffix: near-dup structure stays per-replica
    // (otherwise every doc gains 9 exact twins sf0.1 never had)
    write("documents", shift(documents, "doc_id" -> maxOf(documents, "doc_id"))
      .withColumn("text",
        when(expr("doc_id >= " + maxOf(documents, "doc_id")),
          concat(col("text"), lit(" zrep"),
            (col("doc_id") / maxOf(documents, "doc_id")).cast("long")))
          .otherwise(col("text"))))
    write("embeddings", shift(embeddings, "vec_id" -> maxOf(embeddings, "vec_id")))
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$dstDir/_DERIVED"), true)
    try out.write(s"reps=$Reps".getBytes("UTF-8")) finally out.close()
  }

  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Write-path experiments with CHURN HELD CONSTANT as the data
    * scales 10× — the read section proves plans are ≤ linear; this
    * section proves the write paths' "churn-bounded, never O(table)"
    * claims empirically (the r10 VERDICT's missing evidence: those
    * claims were plan-audited only, and a plan audit is what the
    * HNSW 46× hid behind). Each experiment: an UNTIMED setup that
    * materializes the scaled base state, then a TIMED operation whose
    * churn (delta rows, batch size, staged files) is IDENTICAL at
    * both scales — so the wall-time ratio directly measures how much
    * of the table the operation actually touches. `expect` documents
    * the designed bound the ratio is judged against.
    */
  private case class WriteExp(
      name: String,
      expect: String,
      runs: Int,
      setup: (SparkSession, String, String) => Unit,
      op: (SparkSession, String, String, Int) => Unit)

  /** Constant synthetic embedding batch (dim 64, deterministic). */
  private def vecBatch(s: SparkSession, base: Long, n: Int): DataFrame =
    s.range(base, base + n).select(col("id").as("vec_id"),
      expr("transform(sequence(1, 64), i -> CAST(pmod(id * i, 97) AS DOUBLE) / 97.0)")
        .as("emb"))

  private val WriteExps: Seq[WriteExp] = Seq(
    WriteExp("w_merge_upsert",
      "~1x: COW merge rewrites only the delta's partitions; constant churn " +
        "over size-bounded (25k-keyrange) partitions touches the same bytes at any scale",
      runs = 2,
      setup = (sp, dir, scratch) => {
        sp.read.parquet(s"$dir/orders.parquet")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .withColumn("bucket", expr("o_orderkey div 25000"))
          .write.mode("overwrite").partitionBy("bucket").parquet(s"$scratch/t")
      },
      op = (sp, dir, scratch, run) => {
        // fixed delta: keys < 50k (present at every scale — replica 0
        // keeps original keys), ~2 affected partitions of ~constant size
        val delta = sp.read.parquet(s"$dir/orders.parquet")
          .where(col("o_orderkey") < 50000L && col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            (col("o_totalprice") + run).as("o_totalprice"))
          .withColumn("bucket", expr("o_orderkey div 25000"))
        graft.sources.GraftSink.mergeUpsert(
          sp, s"$scratch/t", delta, Seq("o_orderkey"), "bucket")
      }),
    WriteExp("w_change_feed",
      "~1x: the CDF merge's exceptAll runs over the affected partitions' " +
        "pre/post images only — churn-bounded like the merge itself",
      runs = 2,
      setup = (sp, dir, scratch) => {
        sp.read.parquet(s"$dir/orders.parquet")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .withColumn("bucket", expr("o_orderkey div 25000"))
          .write.mode("overwrite").partitionBy("bucket").parquet(s"$scratch/t")
      },
      op = (sp, dir, scratch, run) => {
        val delta = sp.read.parquet(s"$dir/orders.parquet")
          .where(col("o_orderkey") < 50000L && col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            (col("o_totalprice") + run).as("o_totalprice"))
          .withColumn("bucket", expr("o_orderkey div 25000"))
        graft.sources.GraftSink.mergeUpsertCdf(
          sp, s"$scratch/t", delta, Seq("o_orderkey"), "bucket").count()
      }),
    WriteExp("w_wap_publish",
      "~1x + O(files) manifest metadata: the audit scans ONLY the staged " +
        "batch (constant); the manifest write lists every table file (names, " +
        "no bytes)",
      runs = 2,
      setup = (sp, dir, scratch) => {
        import graft.sources.GraftCatalog
        sp.read.parquet(s"$dir/orders.parquet")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .write.mode("overwrite").parquet(s"$scratch/orders.parquet")
        require(new GraftCatalog(sp, scratch).publishAudited("orders",
          wapRules).isRight, "[scalebench] base publish must pass")
      },
      op = (sp, dir, scratch, run) => {
        import graft.sources.GraftCatalog
        sp.range(10000).select(
          (col("id") + 900000000L + run * 100000L).as("o_orderkey"),
          lit(1L).as("o_custkey"), lit("F").as("o_orderstatus"),
          lit(42.5).as("o_totalprice"))
          .write.mode("append").parquet(s"$scratch/orders.parquet")
        require(new GraftCatalog(sp, scratch).publishAudited("orders",
          wapRules).isRight, "[scalebench] staged batch must pass")
      }),
    WriteExp("w_ivf_absorb",
      "~1x: absorb assigns the constant batch map-side against the " +
        "persisted centroids and hive-appends — history never reread",
      runs = 2,
      setup = (sp, dir, scratch) => {
        graft.operators.Similarity.ivfIncrementalTopk(
          sp, dir, indexPath = Some(s"$scratch/ivf")).count()
      },
      op = (sp, dir, scratch, run) => {
        graft.operators.Similarity.ivfAppend(sp, s"$scratch/ivf",
          vecBatch(sp, 950000000L + run * 100000L, 2000))
      }),
    WriteExp("w_hnsw_absorb",
      "~1x: absorb assigns the constant batch against the capped routing " +
        "artifact and hive-appends into the entry shards",
      runs = 2,
      setup = (sp, dir, scratch) => {
        graft.operators.Hnsw.hnswPersistedTopk(
          sp, dir, indexPath = Some(s"$scratch/hnsw")).count()
      },
      op = (sp, dir, scratch, run) => {
        graft.operators.Hnsw.hnswAbsorb(sp, s"$scratch/hnsw",
          vecBatch(sp, 960000000L + run * 100000L, 2000))
      }),
    WriteExp("w_gated_absorb",
      "~1x: the gate adds a <=k-row baseline read + map-side alignment " +
        "of the constant batch; the only corpus-touching step is the " +
        "exactly-once anti-join's column-pruned vec_id probe (the G19 " +
        "cost class), never an embedding scan",
      runs = 2,
      setup = (sp, dir, scratch) => {
        graft.operators.Similarity.ivfIncrementalTopk(
          sp, dir, indexPath = Some(s"$scratch/ivfg")).count()
        graft.operators.Similarity.ivfDriftBaseline(sp, s"$scratch/ivfg")
      },
      op = (sp, dir, scratch, run) => {
        // corpus-shaped constant batch (fresh ids per run/scale) so
        // the gate takes the ABSORB path at every scale
        val batch = sp.read.parquet(s"$dir/embeddings.parquet")
          .limit(2000)
          .select((col("vec_id") + 980000000L + run * 100000L).as("vec_id"),
            graft.functions.VectorFns.toDoubleArray(col("embedding")).as("emb"))
        graft.operators.Similarity.applyGatedVectorBatch(
          batch, 9000L + run, s"$scratch/ivfg", thresholdPct = 30)
        require(!new java.io.File(
          s"$scratch/ivfg/_quarantine/batch_id=${9000L + run}").exists(),
          "[scalebench] the corpus-shaped batch must absorb, not quarantine")
      }),
    WriteExp("w_ivf_compact",
      "sub-table, corpus-proportional: compaction rewrites only the " +
        "FRAGMENTED lists (~corpus/nlist bytes each), never the whole index",
      runs = 1,
      setup = (sp, dir, scratch) => {
        graft.operators.Similarity.ivfIncrementalTopk(
          sp, dir, indexPath = Some(s"$scratch/ivfc")).count()
        (0 until 5).foreach { b =>
          graft.operators.Similarity.ivfAppend(sp, s"$scratch/ivfc",
            vecBatch(sp, 970000000L + b * 10000L, 2000))
        }
      },
      op = (sp, dir, scratch, run) => {
        val done = graft.operators.Similarity.ivfCompact(
          sp, s"$scratch/ivfc", maxFiles = 3)
        require(done.nonEmpty, "[scalebench] compaction must have work")
      }),
    WriteExp("w_mor_delete",
      "~1x write + one-column discovery: the tombstone epoch is O(matched " +
        "rows); discovery reads ONLY the key column (no shuffle, trivially " +
        "parallel) — contrast w_merge_upsert, which re-materializes the " +
        "affected partitions full-width",
      runs = 2,
      setup = (sp, dir, scratch) => {
        sp.read.parquet(s"$dir/orders.parquet")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .withColumn("bucket", expr("o_orderkey div 25000"))
          .write.mode("overwrite").partitionBy("bucket").parquet(s"$scratch/t")
      },
      op = (sp, dir, scratch, run) => {
        // constant churn: keys < 50k exist at every scale (replica 0
        // keeps original keys); run-disjoint residues keep both runs live
        graft.sources.GraftMor.morDelete(sp, s"$scratch/t",
          col("o_orderkey") < 50000L && col("o_orderkey") % 10 === run)
      }),
    WriteExp("w_mor_erase",
      "O(keys) flat: the equality delete writes ONLY the key list - " +
        "zero table reads at any scale (discovery is deferred to " +
        "compaction), the cheapest mutation on the board",
      runs = 2,
      setup = (sp, dir, scratch) => {
        sp.read.parquet(s"$dir/orders.parquet")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .withColumn("bucket", expr("o_orderkey div 25000"))
          .write.mode("overwrite").partitionBy("bucket").parquet(s"$scratch/t")
      },
      op = (sp, dir, scratch, run) => {
        // constant churn: a fixed 1000-key erase list per run
        graft.sources.GraftMor.morErase(sp, s"$scratch/t",
          sp.range(1000).select((col("id") * 10L + run).as("o_custkey")),
          Seq("o_custkey"))
      }),
    WriteExp("w_mor_sql_read",
      "scan-class by design (NOT churn-constant): the timed op is the " +
        "SQL serving read of a dv-masked table — the mask itself is " +
        "CONSTANT (fixed tombstone volume rides the splits as sorted " +
        "position slices, no join, no shuffle), so the ratio should " +
        "sit in the plain-scan band (compare q1-class read ratios); " +
        "a ratio above the scan band would mean masking added a " +
        "scaling term",
      runs = 2,
      setup = (sp, dir, scratch) => {
        sp.read.parquet(s"$dir/orders.parquet")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .write.mode("overwrite").parquet(s"$scratch/db/t.parquet")
        // constant churn: keys < 50k exist at every scale
        graft.sources.GraftMor.morDelete(sp, s"$scratch/db/t.parquet",
          col("o_orderkey") < 50000L && col("o_orderkey") % 10 === 0)
        graft.sources.v2.GraftTableCatalog.registerForRoot(sp, scratch)
      },
      op = (sp, dir, scratch, run) => {
        val cat = graft.sources.v2.GraftTableCatalog.registerForRoot(sp, scratch)
        val n = sp.sql(
          s"""SELECT o_orderstatus, count(*) AS n,
                     sum(CAST(o_totalprice AS DECIMAL(28,6))) AS total
              FROM $cat.db.t GROUP BY o_orderstatus""").count()
        require(n > 0, "[scalebench] masked SQL read returned nothing")
      }),
    WriteExp("w_mor_sql_dml",
      "O(matched churn): the timed op is a SQL UPDATE of a FIXED " +
        "1000-key slice through the delta row-level write (scan of " +
        "the condition's columns + two tiny staged files + commit " +
        "renames) - the scan half grows with the table (the same " +
        "discovery class as w_mor_delete), the write half is flat",
      runs = 2,
      setup = (sp, dir, scratch) => {
        sp.read.parquet(s"$dir/orders.parquet")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .write.mode("overwrite").parquet(s"$scratch/db/t.parquet")
        graft.sources.v2.GraftTableCatalog.registerForRoot(sp, scratch)
      },
      op = (sp, dir, scratch, run) => {
        val cat = graft.sources.v2.GraftTableCatalog.registerForRoot(sp, scratch)
        // constant churn: keys < 10k exist at every scale; run-disjoint
        // residues keep both runs live (the %10=run slice)
        sp.sql(s"UPDATE $cat.db.t SET o_totalprice = o_totalprice + 1.0 " +
          s"WHERE o_orderkey < 10000 AND o_orderkey % 10 = $run")
        sp.sql(s"REFRESH TABLE $cat.db.t")
      }),
    WriteExp("w_mor_upsert_eq",
      "O(batch) + O(files) listing: the sequence-numbered upsert " +
        "writes a key tombstone and a manifest-sequenced append - " +
        "zero table reads per batch at any scale (vs w_mor_delete's " +
        "one-column discovery and w_merge_upsert's partition rewrite)",
      runs = 2,
      setup = (sp, dir, scratch) => {
        sp.read.parquet(s"$dir/orders.parquet")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .write.mode("overwrite").parquet(s"$scratch/t")
      },
      op = (sp, dir, scratch, run) => {
        // constant churn: a fixed 1000-row update batch per run
        graft.sources.GraftMor.morUpsertEq(sp, s"$scratch/t",
          sp.range(1000).select(
            (col("id") * 10L + run).as("o_orderkey"),
            lit(1L).as("o_custkey"),
            lit("F").as("o_orderstatus"),
            lit(42.5).as("o_totalprice")),
          Seq("o_orderkey"))
      }),
    WriteExp("w_mor_incr_agg",
      "refresh itself ~1x (the doomed-row semi-join reads only the " +
        "tombstones' OWN bucket files; the base is never rescanned " +
        "after the untimed build); the timed op also includes the " +
        "position delete's one-column discovery scan, the " +
        "w_mor_delete cost class",
      runs = 2,
      setup = (sp, dir, scratch) => {
        sp.read.parquet(s"$dir/orders.parquet")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .withColumn("bucket", expr("o_orderkey div 25000"))
          .write.mode("overwrite").partitionBy("bucket").parquet(s"$scratch/t")
        graft.sources.GraftMor.morIncrementalAgg(sp, s"$scratch/t",
          s"$scratch/sum", Seq("o_orderstatus"),
          df => df.groupBy("o_orderstatus").agg(
            count(lit(1)).as("n"),
            sum(col("o_totalprice")
              .cast(org.apache.spark.sql.types.DecimalType(28, 6)))
              .as("total_d")))
      },
      op = (sp, dir, scratch, run) => {
        // constant churn: one 1000-key contiguous range per run (one
        // bucket's files), then the incremental refresh
        graft.sources.GraftMor.morDelete(sp, s"$scratch/t",
          col("o_orderkey") >= run * 1000L + 1L &&
            col("o_orderkey") <= run * 1000L + 1000L)
        graft.sources.GraftMor.morIncrementalAgg(sp, s"$scratch/t",
          s"$scratch/sum", Seq("o_orderstatus"),
          df => df.groupBy("o_orderstatus").agg(
            count(lit(1)).as("n"),
            sum(col("o_totalprice")
              .cast(org.apache.spark.sql.types.DecimalType(28, 6)))
              .as("total_d")))
      }),
    WriteExp("w_retention",
      "~flat: the footer pass is one task per file (no rows), " +
        "wholly-old files unlink as namenode metadata, and the " +
        "straddler tombstone scan touches one date-range bucket - " +
        "expired VOLUME scales 10x but expired BYTES are never read",
      runs = 2,
      setup = (sp, dir, scratch) => {
        sp.read.parquet(s"$dir/orders.parquet")
          .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
          .repartitionByRange(16, col("o_orderdate"))
          .write.mode("overwrite").parquet(s"$scratch/t")
      },
      op = (sp, dir, scratch, run) => {
        // advancing cutoffs: each run expires a fresh year's slice
        graft.sources.GraftMor.retentionSweep(sp, s"$scratch/t",
          "o_orderdate",
          java.time.LocalDateTime.of(1994 + run, 1, 1, 0, 0))
      }),
    WriteExp("w_mor_compact",
      "~1x: the tombstones live only under the keys<50k bucket dirs, so " +
        "compaction rewrites a CONSTANT file subset and clears the vector; " +
        "untouched buckets keep their bytes at any scale",
      runs = 2,
      setup = (sp, dir, scratch) => {
        sp.read.parquet(s"$dir/orders.parquet")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .withColumn("bucket", expr("o_orderkey div 25000"))
          .write.mode("overwrite").partitionBy("bucket").parquet(s"$scratch/t")
      },
      op = (sp, dir, scratch, run) => {
        graft.sources.GraftMor.morDelete(sp, s"$scratch/t",
          col("o_orderkey") < 50000L && col("o_orderkey") % 10 === run)
        graft.sources.GraftMor.morCompact(sp, s"$scratch/t",
          partitionCols = Seq("bucket"))
      }),
    WriteExp("w_feed_stream",
      "churn + one-column discovery: the timed op is a constant-churn " +
        "mutation (the w_mor_delete discovery class), its feed publish " +
        "(O(churn) row images) and the G29 graft-feed STREAM fold of " +
        "the new segment (one committed-tip marker read + one footer " +
        "per new file + an O(churn) signed merge into the rollup) - " +
        "streaming CDC must add no table-sized term over the mutation's " +
        "own discovery scan",
      runs = 2,
      setup = (sp, dir, scratch) => {
        sp.read.parquet(s"$dir/orders.parquet")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .write.mode("overwrite").parquet(s"$scratch/t")
        graft.sources.GraftMor.publishMorFeed(sp, s"$scratch/t",
          s"$scratch/feed")
        // drain the snapshot segment OUTSIDE the timing: the lane
        // measures the incremental subscription, not initial hydration
        feedFoldOnce(sp, scratch)
      },
      op = (sp, dir, scratch, run) => {
        graft.sources.GraftMor.morDelete(sp, s"$scratch/t",
          col("o_orderkey") < 50000L && col("o_orderkey") % 10 === run)
        graft.sources.GraftMor.publishMorFeed(sp, s"$scratch/t",
          s"$scratch/feed")
        feedFoldOnce(sp, scratch)
      }))

  /** One availableNow-style pass of the G29 feed stream into the A50
    * signed-fold rollup (exactly-once ledger; restart resumes from the
    * checkpointed index, so each call folds only the NEW segments).
    */
  private def feedFoldOnce(sp: SparkSession, scratch: String): Unit = {
    val q = sp.readStream.format("graft-feed")
      .option("rowsPerBatch", "10000000").load(s"$scratch/feed")
      .writeStream.option("checkpointLocation", s"$scratch/feed_cp")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          graft.streaming.Events.applyMorFeedFoldBatch(b, id,
            s"$scratch/feed_roll", Seq("o_orderstatus"),
            df => df.groupBy("o_orderstatus").agg(
              count(lit(1)).as("n"),
              sum(col("o_totalprice").cast("decimal(28,6)")).as("total_d")))
      }.start()
    try q.processAllAvailable() finally q.stop()
  }

  private def wapRules = Seq(
    graft.sources.GraftCatalog.AuditRule("nonpositive_price",
      col("o_totalprice") <= 0.0),
    graft.sources.GraftCatalog.AuditRule("null_custkey",
      col("o_custkey").isNull))

  def main(args: Array[String]): Unit = {
    val smallDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val bigDir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_benchdata/sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensureScaled(spark, smallDir, bigDir)
    SparkEntry.entry(spark).count() // JIT warm-up

    val bench = ReadQueries.flatMap(n => SparkEntry.queries.get(n).map(n -> _))
    // every failed execution, per (query, sf dir): its count and the
    // first cause
    val failures = scala.collection.mutable.LinkedHashMap.empty[(String, String), (Int, String)]
    def failed(name: String, dir: String, e: Throwable): Unit = {
      val why = Bench.describe(e)
      System.err.println(s"[scalebench] $name failed at $dir: $why")
      val (n, first) = failures.getOrElse((name, dir), (0, why))
      failures((name, dir)) = (n + 1, first)
    }
    def once(name: String, fn: (SparkSession, String) => DataFrame, dir: String): Double =
      Bench.timeOnce(spark, dir, fn)(failed(name, dir, _))
    // protocol per scale: one warm-up + 2 timed, interleaved across
    // queries; the MIN is the recorded floor (ratio of floors is less
    // noise-sensitive than ratio of medians on a co-tenant box)
    def run(dir: String): Map[String, Double] = {
      bench.foreach { case (name, fn) => once(name, fn, dir) } // warm-up pass
      val acc = scala.collection.mutable.Map.empty[String, Vector[Double]]
        .withDefaultValue(Vector.empty)
      for (_ <- 1 to 2; (name, fn) <- bench) {
        val t = once(name, fn, dir)
        if (t >= 0) acc(name) = acc(name) :+ t
      }
      acc.view.mapValues(_.min).toMap
    }
    val small = run(smallDir)
    val big = run(bigDir)
    val rows = bench.map(_._1).flatMap { n =>
      for (a <- small.get(n); b <- big.get(n)) yield (n, a, b, b / math.max(a, 1e-4))
    }
    val qjson = rows.map { case (n, a, b, r) =>
      "\"" + n + "\":{\"sf01\":" + fmt(a) + ",\"sf1\":" + fmt(b) +
        ",\"ratio\":" + fmt(r) +
        expectSubLinear.get(n).map(x => ",\"sublinear_by_design\":\"" + x + "\"").getOrElse("") +
        "}"
    }.mkString("{", ",", "}")
    val worst = rows.sortBy(-_._4).take(5)
      .map { case (n, _, _, r) => "\"" + n + "\":" + fmt(r) }.mkString("{", ",", "}")

    // ── write-path section: constant churn at both scales ──
    def runWrites(dir: String, tag: String): Map[String, Double] =
      WriteExps.flatMap { w =>
        try {
          val scratch = s"/tmp/graft_benchdata/writes_$tag/${w.name}"
          val p = new org.apache.hadoop.fs.Path(scratch)
          p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
          w.setup(spark, dir, scratch)
          GraftSession.releaseGrains()
          spark.sharedState.cacheManager.clearCache()
          val ts = (1 to w.runs).map { r =>
            val t0 = System.nanoTime()
            w.op(spark, dir, scratch, r)
            val t = (System.nanoTime() - t0) / 1e9
            GraftSession.releaseGrains()
            spark.sharedState.cacheManager.clearCache()
            t
          }
          Some(w.name -> ts.min)
        } catch { case e: Throwable => failed(w.name, dir, e); None }
      }.toMap
    val wSmall = runWrites(smallDir, "sf01")
    val wBig = runWrites(bigDir, "sf1")
    val wRows = WriteExps.flatMap { w =>
      for (a <- wSmall.get(w.name); b <- wBig.get(w.name))
        yield (w.name, a, b, b / math.max(a, 1e-4), w.expect)
    }
    val wjson = wRows.map { case (n, a, b, r, ex) =>
      "\"" + n + "\":{\"sf01\":" + fmt(a) + ",\"sf1\":" + fmt(b) +
        ",\"ratio\":" + fmt(r) + ",\"churn\":\"constant\",\"expected\":\"" +
        ex + "\"}"
    }.mkString("{", ",", "}")

    val errorsJson = failures.map { case ((n, dir), (k, why)) =>
      s"""{"query":${Bench.jstr(n)},"sf":${Bench.jstr(dir)},"failed_runs":$k,""" +
        s""""error":${Bench.jstr(why.take(200))}}"""
    }.mkString("[", ",", "]")
    val line = s"""{"metric":"scaling_ratio","reps":$Reps,""" +
      s""""n_queries":${rows.size},"queries":$qjson,"worst":$worst,""" +
      s""""n_writes":${wRows.size},"writes":$wjson,"errors":$errorsJson,""" +
      s""""sum_sf01":${fmt(rows.map(_._2).sum)},"sum_sf1":${fmt(rows.map(_._3).sum)}}"""
    println(line)
    val w = new java.io.PrintWriter(
      sys.env.getOrElse("SPARK_GRAFT_SCALING_OUT", "SCALING_r15.json"))
    try w.println(line) finally w.close()
    spark.stop()
  }
}
