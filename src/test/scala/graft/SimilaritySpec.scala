package graft

import graft.functions.VectorFns
import graft.operators.Similarity
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpecBase {

  test("sign quantization packs exactly n_pos bits and orders hamming sanely") {
    val rows = graft.operators.Similarity.signQuantize(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val sigs = rows.map { r =>
      val sig = (r.getLong(1) << 32) | r.getLong(2)
      // halves stay within 32 unsigned bits; popcount equals n_pos
      assert(r.getLong(1) >= 0L && r.getLong(1) < (1L << 32))
      assert(r.getLong(2) >= 0L && r.getLong(2) < (1L << 32))
      assert(java.lang.Long.bitCount(sig).toLong === r.getLong(3))
      r.getLong(0) -> sig
    }.toMap
    // hamming(identical) = 0; cosine-nearest pairs sit closer in
    // hamming space than the population average (the sign-LSH property)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val top = graft.operators.Similarity.bruteForceTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val topAvg = top.map { case (q, n) => ham(sigs(q), sigs(n)).toDouble }.sum / top.length
    val ids = sigs.keys.toArray.sorted.take(40)
    val rnd = for (a <- ids; b <- ids if a < b) yield ham(sigs(a), sigs(b)).toDouble
    val rndAvg = rnd.sum / rnd.length
    assert(topAvg < rndAvg,
      f"cosine neighbors should be hamming-close: top $topAvg%.1f vs population $rndAvg%.1f")
  }

  test("cosine expression matches a hand-computed value") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 0.0, 1.0), Seq(1.0, 1.0, 0.0))).toDF("a", "b")
    val c = df.select(VectorFns.cosine(col("a"), col("b"))).collect()(0).getDouble(0)
    assert(math.abs(c - 0.5) < 1e-12) // dot=1, |a|=|b|=sqrt(2)
  }

  test("brute force returns k neighbors per query, sorted by true cosine") {
    val out = Similarity.bruteForceTopk(spark, sfDir).collect()
    val perQuery = out.groupBy(_.getLong(0))
    assert(perQuery.size === 5)
    assert(perQuery.values.forall(_.length === 10))
  }

  test("IVF and LSH recall against brute force is sane") {
    val exact = Similarity.bruteForceTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfRecall = (exact intersect ivf).size.toDouble / exact.size
    // nprobe=4 of 16 centroids over unclustered vectors: recall is
    // bounded by the probed fraction; just require it beats random-ish.
    assert(ivfRecall > 0.15, s"ivf recall=$ivfRecall")
    val lsh = Similarity.lshTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(lsh), "lsh runs") // non-empty checked below
    assert(lsh.nonEmpty)
  }

  test("persisted IVF equals in-memory IVF and prunes index partitions on probe") {
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_spec").toString
    val persisted = Similarity.ivfPersistedTopk(spark, sfDir, indexPath = Some(idx))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val inMem = Similarity.ivfTopk(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(persisted === inMem)
    // the index is a hive layout partitioned by centroid_id, and an
    // IN-filtered read touches only the probed partitions' files.
    val all = spark.read.parquet(idx)
    val nPartitions = all.select("centroid_id").distinct().count()
    assert(nPartitions > 4, s"expected >4 centroid partitions, got $nPartitions")
    val pruned = all.where(col("centroid_id").isin(0, 1))
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    pruned.count() // populate scan metrics
    val scannedFiles = scan.metrics("numFiles").value
    assert(scannedFiles < all.inputFiles.length,
      s"scanned=$scannedFiles all=${all.inputFiles.length}")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(400))
  }

  test("SQL TVFs: graft_knn is exact from pure SQL; graft_knn_ivf probes the persisted index (pruned scan) and equals the Scala path") {
    // brute-force TVF over one literal query vector: the vector itself
    // must come back first at cos 1.0, k rows, sorted best-first
    val q0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .where(col("vec_id") === 0).select("embedding").head()
      .getSeq[Float](0).map(_.toDouble)
    val vecSql = q0.map(d => java.lang.Double.toString(d))
      .mkString("array(", ",", ")")
    val knn = spark.sql(
      s"SELECT * FROM graft_knn('$sfDir/embeddings.parquet', $vecSql, 11)")
    val rows = knn.collect()
    assert(rows.length === 11)
    assert(rows.head.getLong(0) === 0L && rows.head.getDouble(1) === 1.0,
      s"self must rank first: ${rows.head}")
    assert(rows.map(_.getDouble(1)).toSeq === rows.map(_.getDouble(1)).sorted.reverse.toSeq)
    // the brute-force TVF plans a TakeOrdered selection, not a global sort
    val knnPlan = knn.queryExecution.executedPlan.toString
    assert(knnPlan.contains("TakeOrderedAndProject"), knnPlan.take(600))
    // a no-slash source resolves as a catalog/view NAME — the
    // SQL-catalog user never handles paths
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .createOrReplaceTempView("knn_src_view")
    assert(spark.sql(s"SELECT * FROM graft_knn('knn_src_view', $vecSql, 11)")
      .collect().map(_.toString).toSeq === rows.map(_.toString).toSeq)
    // the ivf TVF (driven via sim_sql_topk) equals the persisted Scala
    // path value-for-value: same centroid artifact, same probe rule,
    // same scoring
    val sqlRes = Similarity.sqlTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val scalaRes = Similarity.ivfPersistedTopk(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(sqlRes === scalaRes,
      s"sql=${sqlRes.take(5)} scala=${scalaRes.take(5)}")
    // and the probe is an INDEX read: partition-pruned, not a corpus scan
    val idx = graft.sources.GraftSink.scratchDir + "/ivf_index_sql"
    val probe = spark.sql(
      s"SELECT * FROM graft_knn_ivf('$idx', $vecSql, 10, 4)")
    val probePlan = probe.queryExecution.executedPlan.toString
    assert(probePlan.contains("PartitionFilters") &&
      probePlan.contains("centroid_id"), probePlan.take(800))
    val scan = probe.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    probe.count()
    assert(scan.metrics("numFiles").value <
      spark.read.parquet(idx).inputFiles.length,
      "probe must read fewer files than the full index")
    // the HNSW twin: graft_knn_hnsw beam-probes the persisted graph
    // index and equals the Scala serve path for the same query vector
    val hidx = graft.sources.GraftSink.scratchDir + "/hnsw_index_sql"
    graft.operators.Hnsw.buildHnswIndex(spark, sfDir, hidx)
    val scalaHnsw = graft.operators.Hnsw.hnswPersistedTopk(spark, sfDir,
      Some(hidx)).where(col("query_id") === 0)
      .select("neighbor_id", "cos").collect().map(_.toString).toSeq
    val tvfHnsw = spark.sql(
      s"SELECT * FROM graft_knn_hnsw('$hidx', $vecSql, 11)")
      .where(col("neighbor_id") =!= 0)
      .orderBy(col("cos").desc, col("neighbor_id")).limit(10)
      .orderBy("neighbor_id")
      .collect().map(_.toString).toSeq
    assert(tvfHnsw === scalaHnsw,
      s"tvf=${tvfHnsw.take(5)} scala=${scalaHnsw.take(5)}")
    val hPlan = spark.sql(s"SELECT * FROM graft_knn_hnsw('$hidx', $vecSql, 10)")
      .queryExecution.executedPlan.toString
    assert(hPlan.contains("PartitionFilters") && hPlan.contains("entry_id"),
      hPlan.take(800))
    // the PQ twin: graft_knn_pq serves the persisted codes+codebooks
    // artifact — ADC shortlist over the ~16x narrower code table,
    // exact-cosine rerank of the broadcast shortlist — and equals the
    // Scala pqPersistedTopk value-for-value
    val pidx = graft.sources.GraftSink.scratchDir + "/pq_index_sql_spec"
    Similarity.buildPqIndex(spark, sfDir, pidx)
    val scalaPq = Similarity.pqPersistedTopk(spark, pidx, q0, 11)
      .collect().map(_.toString).toSeq
    val tvfPq = spark.sql(s"SELECT * FROM graft_knn_pq('$pidx', $vecSql, 11)")
      .collect().map(_.toString).toSeq
    assert(tvfPq === scalaPq, s"tvf=${tvfPq.take(3)} scala=${scalaPq.take(3)}")
    // self ranks first at cos 1.0 (the ADC shortlist must surface it)
    assert(scalaPq.head === "[0,1.0]", scalaPq.head)
    // recall vs brute force (excluding self) — the pqTopk band
    val exact0 = Similarity.bruteForceTopk(spark, sfDir).collect()
      .filter(_.getLong(0) == 0L).map(_.getLong(1)).toSet
    val pqIds = tvfPq.drop(1).map(_.drop(1).takeWhile(_ != ',').toLong).toSet
    val recall = (exact0 intersect pqIds).size.toDouble / exact0.size
    assert(recall > 0.5, s"pq tvf recall=$recall")
  }

  test("IVF results are a subset of valid neighbors (no self matches)") {
    val out = Similarity.ivfTopk(spark, sfDir).collect()
    assert(out.forall(r => r.getLong(0) != r.getLong(1)))
  }

  test("IVF k-means trains on the deterministic hash-sample, not the corpus") {
    import graft.sources.GraftCatalog
    val e = new GraftCatalog(spark, sfDir).table("embeddings")
      .select(col("vec_id"), VectorFns.toDoubleArray(col("embedding")).as("emb"))
    val total = e.count()
    val sample = Similarity.trainingSample(e)
    val sampled = sample.count()
    // ~10% hash-sample: a two-sided rate band (2%..20%) expresses the
    // intent and stays stable across corpus sizes; reproducible (no
    // RNG state).
    val rate = sampled.toDouble / total
    assert(rate > 0.02 && rate < 0.2, s"sampled=$sampled of $total (rate=$rate)")
    assert(sampled === Similarity.trainingSample(e).count())
    // centroids trained on the sample are well-formed: k ids, full dim
    val cents = Similarity.kmeansCentroids(sample, k = 8, iters = 1)
    assert(cents.length === 8)
    assert(cents.forall(_._2.nonEmpty))
  }

  test("centroid assignment is map-side: no exchange, no window, no row explosion") {
    import spark.implicits._
    val e = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)), (2L, Seq(0.9, 0.1)), (3L, Seq(-1.0, 0.0)))
      .toDF("vec_id", "emb")
    val cents = Array((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0)), (2, Seq(-1.0, 0.1)))
    val assigned = Similarity.assignCentroids(e, cents)
    // argmax by cosine: well-separated, so assignment is unambiguous
    val got = assigned.select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(0L -> 0, 1L -> 1, 2L -> 0, 3L -> 2))
    // scale shape: one codegen'd projection — the plan must contain no
    // shuffle, no window, no join (the old crossJoin+row_number shape
    // shuffled a kx-exploded corpus for a per-row reduction).
    val plan = assigned.queryExecution.executedPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    assert(plan.collect { case x: ShuffleExchangeExec => x }.isEmpty, plan.toString.take(600))
    assert(plan.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty)
    assert(plan.collect { case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }.isEmpty)
  }

  test("map-side assignment ties break to the smallest centroid id") {
    import spark.implicits._
    val e = Seq((0L, Seq(1.0, 0.0))).toDF("vec_id", "emb")
    // two identical centroids: cosine ties exactly; former window order
    // (cos DESC, centroid_id ASC) picked the smaller id.
    val cents = Array((3, Seq(1.0, 0.0)), (1, Seq(1.0, 0.0)))
    val got = Similarity.assignCentroids(e, cents).select("centroid_id").head().getInt(0)
    assert(got === 1)
  }

  test("Lloyd rounds assign natively exactly as the literal HOF plan, round by round") {
    import graft.sources.GraftCatalog
    // The mean step is shared code, so equal assignments in every round
    // mean equal centroids: comparing the native assignment with the
    // literal HOF plan's on the centroids and codebooks after 0, 1 and
    // 2 rounds covers every round of a 2-round training.
    val e = new GraftCatalog(spark, sfDir).table("embeddings")
      .select(col("vec_id"), VectorFns.toDoubleArray(col("embedding")).as("emb"))
    val sample = Similarity.trainingSample(e)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "centroid_id").collect()
        .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toVector
    val e2 = e.withColumn("nemb", col("emb"))
    val rows = Similarity.subspaceRows(e2, m = 4, subDim = 16)
    def codes(code: org.apache.spark.sql.Column) =
      rows.select(col("vec_id"), col("sub"), code).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(r => (r._1, r._2)).toVector
    for (iters <- 0 to 2) {
      val cents = Similarity.kmeansCentroids(sample, k = 6, iters = iters)
      assert(ids(Similarity.assignCentroids(sample, cents)) ===
        ids(KernelReference.assignCentroidsHof(sample, cents)), s"centroids after $iters rounds")
      val books = Similarity.trainSubspaceCodebooks(e2, m = 4, subDim = 16, ksub = 8, iters = iters)
      assert(codes(Similarity.subspaceCode(books)) ===
        codes(KernelReference.subspaceCodeHof(books)), s"codebooks after $iters rounds")
    }
  }

  test("native vector expressions are bit-identical to their HOF twins on the real corpus") {
    import graft.sources.GraftCatalog
    import org.apache.spark.sql.functions.{aggregate, element_at, greatest, lit, transform, typedlit, zip_with}
    val e = new GraftCatalog(spark, sfDir).table("embeddings")
      .select(col("vec_id"), VectorFns.toDoubleArray(col("embedding")).as("emb"))
    def lbits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))).sortBy(_._1).toVector
    // dot: native vs aggregate(zip_with) — same accumulation order
    val dotN = lbits(e.select(col("vec_id"), VectorFns.dot(col("emb"), col("emb"))))
    val dotH = lbits(e.select(col("vec_id"), KernelReference.dotHof(col("emb"), col("emb"))))
    assert(dotN === dotH)
    // normalize: native one-loop vs the hoisted-norm HOF chain
    def abits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        r.getSeq[Double](1).map(java.lang.Double.doubleToRawLongBits).toVector))
        .sortBy(_._1).toVector
    val normN = abits(e.select(col("vec_id"), VectorFns.normalize(col("emb"))))
    val hofNorm = e
      .withColumn("__n", greatest(VectorFns.norm(col("emb")),
        lit(java.lang.Double.MIN_VALUE)))
      .select(col("vec_id"), transform(col("emb"), x => x / col("__n")).as("nemb"))
    assert(normN === abits(hofNorm))
    // zero vector: guard degrades to all-zero, not NaN (both forms)
    import spark.implicits._
    val z = Seq((0L, Seq(0.0, 0.0, 0.0))).toDF("vec_id", "emb")
    assert(z.select(VectorFns.normalize(col("emb"))).head().getSeq[Double](0)
      === Seq(0.0, 0.0, 0.0))
    // nearest-centroid: native vs the literal-array HOF argmax, both
    // metrics, on every corpus row (ties/NaN ordering included)
    val cents = Similarity.kmeansCentroids(Similarity.trainingSample(e), k = 7, iters = 1)
    def ibits(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "centroid_id").collect()
        .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toVector
    assert(ibits(Similarity.assignCentroids(e, cents)) ===
      ibits(KernelReference.assignCentroidsHof(e, cents)))
    assert(ibits(Similarity.assignCentroids(e, cents, useCosine = false)) ===
      ibits(KernelReference.assignCentroidsHof(e, cents,
        (a, b) => -VectorFns.l2sq(a, b))))
    // ADC lookup-sum: native vs aggregate(zip_with(element_at))
    val tabs = Seq(Seq(0.25, -1.5, 3.0), Seq(2.0, 0.125, -7.0))
    val codes = Seq((1L, Seq(0, 2)), (2L, Seq(2, 1)), (3L, Seq(1, 0)))
    val cdf = codes.toDF("vec_id", "codes")
    val adcN = lbits(cdf.select(col("vec_id"),
      org.apache.spark.sql.graft.Bridge.column(graft.functions.AdcScoreExpr(
        org.apache.spark.sql.graft.Bridge.expression(typedlit(tabs)),
        org.apache.spark.sql.graft.Bridge.expression(col("codes"))))))
    val adcH = lbits(cdf.select(col("vec_id"),
      aggregate(zip_with(typedlit(tabs), col("codes"),
        (t, c) => element_at(t, c + 1)), lit(0.0), (acc, x) => acc + x)))
    assert(adcN === adcH)
  }

  test("dot_product and adc_score return NULL for non-null mismatched inputs in generated code") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.graft.Bridge
    // no interpreted fallback: a NULL the generated code cannot express
    // fails the query instead of silently switching paths
    val confs = Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      def adc(t: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column) =
        Bridge.column(graft.functions.AdcScoreExpr(Bridge.expression(t), Bridge.expression(c)))
      val in = spark.range(3).select(
        array(col("id").cast("double"), lit(1.0)).as("a"),
        array(col("id").cast("double")).as("b"),
        array(array(lit(0.5), lit(1.5))).as("t"),
        array(col("id").cast("int"), lit(0)).as("c_len"),
        array((col("id") + 2).cast("int")).as("c_out"))
      assert(in.schema.forall(!_.nullable), "the inputs must be non-null")
      val out = in.select(VectorFns.dot(col("a"), col("b")).as("dot"),
        adc(col("t"), col("c_len")).as("adc_len"),
        adc(col("t"), col("c_out")).as("adc_range"))
      assert(out.schema.forall(_.nullable))
      val rows = out.collect()
      assert(allPlanNodes(out.queryExecution.executedPlan)
        .exists(_.isInstanceOf[WholeStageCodegenExec]))
      assert(rows.length === 3)
      rows.foreach(r => assert((0 until 3).forall(r.isNullAt), s"expected NULLs, got $r"))
    } finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("label centroids are exact integers and invariant to partition layout") {
    val base = Similarity.labelCentroids(spark, sfDir).collect()
    assert(base.length === 10) // labels 0-9
    // n_vecs per label sums to the corpus size
    val total = new graft.sources.GraftCatalog(spark, sfDir).table("embeddings").count()
    assert(base.map(_.getLong(1)).sum === total)
    // hand-check one label's dim-1 mean in plain Scala
    val rows = new graft.sources.GraftCatalog(spark, sfDir).table("embeddings")
      .where(org.apache.spark.sql.functions.col("label") === 0)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).head.toDouble)
    val expected = math.floor(
      rows.map(x => math.floor(x * 1e6 + 0.5)).sum / rows.length).toLong
    assert(base.find(_.getInt(0) == 0).get.getLong(5) === expected)
  }

  test("kmeans returns exactly min(k, rows) centroids; empty clusters carry forward") {
    import spark.implicits._
    // 3 rows < k=5: clamped to 3 centroids, none empty.
    val tiny = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)), (2L, Seq(1.0, 1.0)))
      .toDF("vec_id", "emb")
    val cents = Similarity.kmeansCentroids(tiny, k = 5, iters = 2)
    assert(cents.length === 3)
    assert(cents.forall(_._2.length === 2))
    // Duplicated vectors: some centroids get zero assignments after
    // round 1 (all rows snap to one winner) — previous centroid must
    // carry forward, keeping the id set intact.
    val dup = Seq.tabulate(6)(i => (i.toLong, Seq(1.0, 0.0)))
      .toDF("vec_id", "emb")
    val dupCents = Similarity.kmeansCentroids(dup, k = 4, iters = 2)
    assert(dupCents.length === 4)
    assert(dupCents.map(_._1).sorted.toSeq === Seq(0, 1, 2, 3))
  }

  test("PQ with exact rerank recalls most brute-force neighbors") {
    val exact = Similarity.bruteForceTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect pq).size.toDouble / exact.size
    // 4x16 codebooks on 64-dim with a 10xK shortlist + exact rerank:
    // every surviving neighbor has a TRUE cosine, so precision of the
    // reported cos values is exact; recall depends on ADC shortlist
    // quality. Require a solid majority.
    assert(recall > 0.5, s"pq recall=$recall")
    // reranked scores are exact cosines: any neighbor shared with
    // brute force must carry the same rounded cos value
    val exactScores = Similarity.bruteForceTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    Similarity.pqTopk(spark, sfDir).collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      exactScores.get(key).foreach(c =>
        assert(math.abs(c - r.getDouble(2)) < 1e-9, s"score drift at $key"))
    }
  }

  test("PQ encode stage is map-only (no exchange before the top-k)") {
    val plan = Similarity.pqTopk(spark, sfDir).queryExecution.executedPlan.toString
    // exactly the two per-query top-k windows may shuffle (ADC
    // shortlist + exact rerank, both tiny); the code-assignment side
    // must contribute none.
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 2, s"expected <=2 window exchanges, got $exchanges\n" + plan.take(1200))
  }

  // ── D11 HNSW-style graph ANN ──

  test("HNSW graph ANN recalls >=0.9 of brute force, deterministically") {
    val exact = Similarity.bruteForceTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val run1 = graft.operators.Hnsw.hnswTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val recall = (exact intersect run1.map(t => (t._1, t._2)).toSet).size.toDouble / exact.size
    assert(recall >= 0.9, s"hnsw recall=$recall")
    // derandomized level draw + id tie-breaks: byte-identical re-runs
    val run2 = graft.operators.Hnsw.hnswTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(run1 === run2, "beam search must be deterministic")
    // any reported neighbor carries its exact brute-force cosine
    val exactScores = Similarity.bruteForceTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    run1.foreach { case (q, n, c) =>
      exactScores.get((q, n)).foreach(e =>
        assert(math.abs(e - c) < 1e-9, s"score drift at ($q,$n)"))
    }
  }

  test("HNSW corpus side never shuffles the corpus — only the probed sliver") {
    val plan = graft.operators.Hnsw.hnswTopk(spark, sfDir)
      .queryExecution.executedPlan.toString
    // shard assignment is a map-side literal-array projection joined
    // to a BROADCAST beam table; the only hash exchanges carry probed
    // candidates (dedup aggregate + per-query top-k window).
    assert(plan.contains("BroadcastExchange"),
      "beam table must broadcast:\n" + plan.take(1200))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 2, s"expected <=2 sliver exchanges, got $exchanges\n" + plan.take(1200))
  }

  test("incremental IVF append equals a full rebuild against the same centroids") {
    import graft.sources.GraftCatalog
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_inc").toString
    val incremental = Similarity.ivfIncrementalTopk(spark, sfDir, indexPath = Some(idx))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // rebuild: assign the FULL corpus against the artifact the
    // incremental build persisted, serve from a fresh index dir
    val rebuilt = java.nio.file.Files.createTempDirectory("graft_ivf_reb").toString
    import spark.implicits._
    val trained = spark.read.parquet(s"$idx/centroids")
      .select(col("centroid_id"), col("c_emb")).as[(Int, Seq[Double])]
      .collect().sortBy(_._1)
    val e = new GraftCatalog(spark, sfDir).table("embeddings")
      .select(col("vec_id"), graft.functions.VectorFns.toDoubleArray(col("embedding")).as("emb"))
    Similarity.assignCentroids(e, trained)
      .select(col("vec_id"), col("emb"), col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id").parquet(s"$rebuilt/lists")
    spark.read.parquet(s"$idx/centroids")
      .write.mode("overwrite").parquet(s"$rebuilt/centroids")
    val full = Similarity.serveIvf(spark, sfDir, rebuilt, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(incremental === full,
      "append-absorbed index must serve exactly like a full rebuild")
    assert(incremental.nonEmpty)
    // every corpus vector is in the merged index exactly once
    val indexed = spark.read.parquet(s"$idx/lists").select("vec_id")
    assert(indexed.count() === e.count())
    assert(indexed.distinct().count() === e.count())
  }

  test("persisted HNSW equals in-memory HNSW and prunes shard partitions on probe") {
    import graft.operators.Hnsw
    val idx = java.nio.file.Files.createTempDirectory("graft_hnsw_spec").toString
    val persisted = Hnsw.hnswPersistedTopk(spark, sfDir, indexPath = Some(idx))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val inMem = Hnsw.hnswTopk(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(persisted === inMem)
    // the index is a hive layout partitioned by entry_id; a beam-id
    // IN-filter touches only the probed partitions' files
    val all = spark.read.parquet(s"$idx/shards")
    val nPartitions = all.select("entry_id").distinct().count()
    assert(nPartitions > Hnsw.EfSearch,
      s"more shards than one beam, got $nPartitions")
    val someIds = all.select("entry_id").distinct().limit(3)
      .collect().map(_.getAs[Number](0).intValue)
    val pruned = all.where(col("entry_id").isin(someIds.map(Int.box): _*))
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    pruned.count()
    assert(scan.metrics("numFiles").value < all.inputFiles.length,
      s"scanned=${scan.metrics("numFiles").value} all=${all.inputFiles.length}")
  }

  test("HNSW routing layer is hard-capped and deterministic past the cap") {
    import graft.operators.Hnsw
    import spark.implicits._
    // 60k ids → ~6k sample rows, comfortably past the 4096 cap
    val big = spark.range(60000).select(col("id").as("vec_id"),
      array(lit(1.0), lit(0.5)).as("emb"))
    val r1 = Hnsw.routingNodes(big)
    assert(r1.size === Hnsw.RoutingCap,
      s"routing layer must cap at ${Hnsw.RoutingCap}, got ${r1.size}")
    val r2 = Hnsw.routingNodes(big)
    assert(r1.map(_._1) === r2.map(_._1), "capped subset must be deterministic")
  }

  test("HNSW routing graph: geometric levels, bounded degree, navigable beam") {
    import graft.operators.Hnsw
    // derandomized level draw is geometric-ish: ~1/4 of ids level>=1
    val levels = (0L until 4000L).map(Hnsw.levelOf)
    val frac1 = levels.count(_ >= 1).toDouble / levels.size
    assert(frac1 > 0.15 && frac1 < 0.35, s"level>=1 fraction $frac1")
    assert(levels.max <= 3)
    // tiny crafted graph: two tight clusters far apart; the beam from
    // a query near cluster B must surface B members first
    def v(x: Double, y: Double) = Array(x, y, 1e-6, 1e-6)
    val nodes = (0L until 8L).map(i => i -> v(1.0 + 0.01 * i, 0.0)) ++
      (8L until 16L).map(i => i -> v(0.0, 1.0 + 0.01 * i))
    val g = Hnsw.buildGraph(nodes)
    g.layers.head.foreach { case (_, nbrs) => assert(nbrs.size <= Hnsw.MLinks) }
    val beam = Hnsw.beamSearch(g, v(0.0, 5.0), ef = 4)
    assert(beam.size === 4)
    assert(beam.forall(_ >= 8L), s"beam must stay in cluster B: $beam")
  }

  test("training sample caps deterministically past 64k; smaller corpora keep the full 10% sample") {
    import spark.implicits._
    // 1M ids → ~100k pass the 10% hash gate → the cap binds
    val big = spark.range(1000000).select(col("id").as("vec_id"),
      array(lit(1.0), lit(0.5)).as("emb"))
    val s1 = Similarity.trainingSample(big).select("vec_id")
      .collect().map(_.getLong(0))
    assert(s1.length === Similarity.TrainingCap,
      s"cap must bind: ${s1.length}")
    // deterministic: re-draw is identical
    val s2 = Similarity.trainingSample(big).select("vec_id")
      .collect().map(_.getLong(0))
    assert(s1.toSeq === s2.toSeq)
    // nested: the capped set is the lowest-hash subset of the gate
    def h(id: Long) = math.floorMod(id * 2654435761L, 1000000L)
    val gate = (0L until 1000000L)
      .filter(id => math.floorMod(id * 2654435761L, 1000L) < 100)
    val expect = gate.sortBy(id => (h(id), id)).take(Similarity.TrainingCap).toSet
    assert(s1.toSet === expect)
    // below the cap nothing changes: the whole 10% sample trains
    val small = spark.range(5000).select(col("id").as("vec_id"),
      array(lit(1.0), lit(0.5)).as("emb"))
    val gateSmall = (0L until 5000L)
      .filter(id => math.floorMod(id * 2654435761L, 1000L) < 100)
    assert(Similarity.trainingSample(small).count() === gateSmall.length.toLong)
  }

  test("HNSW distributed graph build equals the sortBy reference (no-sort top-M selection)") {
    import graft.operators.Hnsw
    def dcos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    // 700 nodes > the 512 driver threshold → exercises the Spark-job
    // build path; deterministic pseudo-vectors with plenty of ties
    val nodes = (0L until 700L).map { id =>
      id -> Array.tabulate(8)(i => ((id * (i + 3) + i) % 13).toDouble + 0.25)
    }
    val g = Hnsw.buildGraph(nodes)
    val levels = nodes.map { case (id, _) => id -> Hnsw.levelOf(id) }.toMap
    (0 until g.layers.size).foreach { l =>
      val members = nodes.filter { case (id, _) => levels(id) >= l }
      assert(g.layers(l).keySet === members.map(_._1).toSet, s"layer $l membership")
      // spot-check 20 nodes per layer against the full-sort reference
      members.take(20).foreach { case (id, v) =>
        val ref = members.filter(_._1 != id)
          .map { case (oid, ov) => (oid, dcos(v, ov)) }
          .sortBy { case (oid, c) => (-c, oid) }
          .take(Hnsw.MLinks).map(_._1)
        assert(g.layers(l)(id) === ref, s"layer $l node $id neighbor drift")
      }
    }
  }

  private def partFiles(root: String): Map[String, Set[(String, Long, Long)]] = {
    val base = new java.io.File(root)
    base.listFiles().filter(d => d.isDirectory && d.getName.contains("="))
      .map { d =>
        d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length, f.lastModified)).toSet
      }.toMap
  }

  test("D2 delete: purged key leaves the IVF index, untouched partitions stay file-identical, delete+append ≡ rebuild") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_del").toString
    val before = Similarity.ivfIncrementalTopk(spark, sfDir, indexPath = Some(idx))
      .collect()
    // victim: a served neighbor outside the query set, so its absence
    // after the delete is observable in the serve output
    val victim = before.map(_.getLong(1)).filter(_ >= 5L).head
    val victimCentroid = spark.read.parquet(s"$idx/lists")
      .where(col("vec_id") === victim).select("centroid_id")
      .collect().map(_.getAs[Number](0).intValue).toSet
    val filesBefore = partFiles(s"$idx/lists")
    Similarity.ivfDelete(spark, idx, Seq(victim))
    // 1) the deleted vector is never served again
    val after = Similarity.serveIvf(spark, sfDir, idx, 4).collect()
    assert(before.exists(_.getLong(1) == victim), "victim was served before")
    assert(!after.exists(_.getLong(1) == victim), "victim still served after delete")
    assert(spark.read.parquet(s"$idx/lists")
      .where(col("vec_id") === victim).count() === 0)
    // 2) only the victim's centroid partitions were rewritten
    val filesAfter = partFiles(s"$idx/lists")
    filesBefore.foreach { case (part, fs) =>
      val cid = part.stripPrefix("centroid_id=").toInt
      if (!victimCentroid.contains(cid))
        assert(filesAfter(part) === fs, s"untouched partition $part was rewritten")
    }
    // 3) delete-then-append ≡ rebuild: lists content equals assigning
    //    the surviving corpus + the appended batch against the SAME
    //    persisted centroid artifact
    val fresh = spark.range(900000L, 900010L)
      .select(col("id").as("vec_id"),
        expr("transform(sequence(1, 64), i -> CAST(pmod(id * i, 97) AS DOUBLE) / 97.0)")
          .as("emb"))
    Similarity.ivfAppend(spark, idx, fresh)
    val trained = spark.read.parquet(s"$idx/centroids")
      .select(col("centroid_id"), col("c_emb")).as[(Int, Seq[Double])]
      .collect().sortBy(_._1)
    val corpus = new graft.sources.GraftCatalog(spark, sfDir).table("embeddings")
      .select(col("vec_id"), VectorFns.toDoubleArray(col("embedding")).as("emb"))
      .where(col("vec_id") =!= victim)
      .unionByName(fresh)
    val expect = Similarity.assignCentroids(corpus, trained)
      .select(col("vec_id"), col("centroid_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val got = spark.read.parquet(s"$idx/lists")
      .select(col("vec_id"), col("centroid_id"))
      .collect().map(r => (r.getLong(0), r.getAs[Number](1).intValue)).toSet
    assert(got === expect, "delete + append must equal a rebuild from survivors")
  }

  test("G19: streamed vectors absorb into the persisted IVF exactly once; replays and re-sends are no-ops") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_stream").toString
    Similarity.ivfIncrementalTopk(spark, sfDir, indexPath = Some(idx)).count()
    val sizeBefore = spark.read.parquet(s"$idx/lists").count()
    def vecs(ids: Range) = ids.map { i =>
      (i.toLong, (1 to 64).map(d => ((i.toLong * d) % 83).toDouble / 83.0))
    }
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Seq[Double])]
    val q = Similarity.vectorIndexSink(
      stream.toDF().toDF("vec_id", "emb"), idx)
    stream.addData(vecs(700000 until 700010)); q.processAllAvailable()
    // second batch overlaps the first: 5 re-sends + 5 new
    stream.addData(vecs(700005 until 700015)); q.processAllAvailable()
    q.stop()
    val after = spark.read.parquet(s"$idx/lists")
    assert(after.count() === sizeBefore + 15, "15 distinct new vectors, no dups")
    assert(after.where(col("vec_id") >= 700000L)
      .groupBy("vec_id").count().where(col("count") > 1).count() === 0)
    // replay of an already-absorbed batch is a physical no-op
    val files = partFiles(s"$idx/lists")
    Similarity.applyVectorBatch(
      vecs(700000 until 700010).toDF("vec_id", "emb"), idx)
    assert(partFiles(s"$idx/lists") === files, "replay must write nothing")
    // absorbed placement ≡ assignment against the persisted centroids
    val trained = spark.read.parquet(s"$idx/centroids")
      .select(col("centroid_id"), col("c_emb")).as[(Int, Seq[Double])]
      .collect().sortBy(_._1)
    val expect = Similarity.assignCentroids(
      vecs(700000 until 700015).toDF("vec_id", "emb"), trained)
      .select("vec_id", "centroid_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val got = after.where(col("vec_id") >= 700000L)
      .select("vec_id", "centroid_id").collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).intValue)).toSet
    assert(got === expect, "stream absorb must equal the batch assignment")
  }

  test("D2 compaction: fragmented lists collapse to one file each, content and serve identical, others untouched") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_cpt").toString
    Similarity.ivfIncrementalTopk(spark, sfDir, indexPath = Some(idx)).count()
    // absorb several small batches → touched partitions fragment
    (0 until 5).foreach { b =>
      val fresh = spark.range(800000L + b * 10, 800000L + b * 10 + 10)
        .select(col("id").as("vec_id"),
          expr("transform(sequence(1, 64), i -> CAST(pmod(id * i, 89) AS DOUBLE) / 89.0)")
            .as("emb"))
      Similarity.ivfAppend(spark, idx, fresh)
    }
    val before = partFiles(s"$idx/lists")
    val content = spark.read.parquet(s"$idx/lists")
      .select("vec_id", "centroid_id").collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).intValue)).toSet
    val serveBefore = Similarity.serveIvf(spark, sfDir, idx, 4)
      .collect().map(_.toString).toSeq
    val compacted = Similarity.ivfCompact(spark, idx, maxFiles = 3)
    assert(compacted.nonEmpty, "absorbs must have fragmented some partition")
    val after = partFiles(s"$idx/lists")
    compacted.foreach { cid =>
      assert(after(s"centroid_id=$cid").size === 1,
        s"compacted partition $cid must hold ONE file")
    }
    before.foreach { case (part, fsSet) =>
      val cid = part.stripPrefix("centroid_id=").toInt
      if (!compacted.contains(cid))
        assert(after(part) === fsSet, s"untouched partition $part was rewritten")
    }
    // content and the serve path are value-identical
    val contentAfter = spark.read.parquet(s"$idx/lists")
      .select("vec_id", "centroid_id").collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).intValue)).toSet
    assert(contentAfter === content)
    assert(Similarity.serveIvf(spark, sfDir, idx, 4)
      .collect().map(_.toString).toSeq === serveBefore)
    // idempotent: nothing left past the threshold
    assert(Similarity.ivfCompact(spark, idx, maxFiles = 3) === Seq.empty)
  }

  test("D11 delete: purged keys leave shards AND routing; other vectors stay reachable via their remaining shards") {
    import graft.operators.Hnsw
    val idx = java.nio.file.Files.createTempDirectory("graft_hnsw_del").toString
    val before = Hnsw.hnswPersistedTopk(spark, sfDir, indexPath = Some(idx)).collect()
    val routingIds = spark.read.parquet(s"$idx/routing")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // non-routing victim: COW delete from shards only
    val victim = before.map(_.getLong(1))
      .filter(id => id >= 5L && !routingIds.contains(id)).head
    Hnsw.hnswDelete(spark, idx, Seq(victim))
    val after = Hnsw.serveHnsw(spark, sfDir, idx).collect()
    assert(before.exists(_.getLong(1) == victim))
    assert(!after.exists(_.getLong(1) == victim), "victim still served after delete")
    assert(spark.read.parquet(s"$idx/shards")
      .where(col("vec_id") === victim).count() === 0)
    // routing-node victim: must vanish from the routing table and its
    // shard partition with it; serving still answers every query
    val routedVictim = routingIds.filter(_ >= 5L).head
    Hnsw.hnswDelete(spark, idx, Seq(routedVictim))
    assert(!spark.read.parquet(s"$idx/routing")
      .collect().map(_.getLong(0)).contains(routedVictim))
    assert(!new java.io.File(s"$idx/shards/entry_id=$routedVictim").exists())
    assert(spark.read.parquet(s"$idx/shards")
      .where(col("vec_id") === routedVictim).count() === 0)
    val served = Hnsw.serveHnsw(spark, sfDir, idx).collect()
    assert(!served.exists(_.getLong(1) == routedVictim))
    assert(served.map(_.getLong(0)).distinct.length === 5,
      "every query must still be answered after a routing-node purge")
    // multi-assignment redundancy: vectors that lived in the dropped
    // shard survive in the index through their other assignments
    assert(spark.read.parquet(s"$idx/shards").select("vec_id").distinct().count() > 0)
  }

  test("G19: in-batch duplicate vec_ids collapse to ONE deterministic survivor; first batch bootstraps; no centroids fails clearly") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_boot").toString
    // no centroid artifact: the sink maintains an index, never creates one
    val err = intercept[IllegalStateException] {
      Similarity.applyVectorBatch(
        Seq((1L, Seq(1.0, 0.0))).toDF("vec_id", "emb"), idx)
    }
    assert(err.getMessage.contains("build the IVF index"))
    // centroids only (just trained, nothing absorbed yet): the first
    // micro-batch must BOOTSTRAP lists, not die on path-not-found
    Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0))).toDF("centroid_id", "c_emb")
      .write.parquet(s"$idx/centroids")
    val dup = Seq(
      (10L, Seq(0.9, 0.1)), (10L, Seq(0.9, 0.1)), // exact in-batch re-send
      (11L, Seq(0.9, 0.2)), (11L, Seq(0.8, 0.1))) // conflicting rows
      .toDF("vec_id", "emb")
    Similarity.applyVectorBatch(dup, idx)
    val lists = spark.read.parquet(s"$idx/lists")
    // the persisted-side anti-join can't see duplicates WITHIN a batch:
    // without the in-batch dedup all four rows would land
    assert(lists.count() === 2, "one row per distinct vec_id")
    assert(lists.groupBy("vec_id").count().where(col("count") > 1).count() === 0)
    // deterministic survivor: the struct-min of the remaining columns
    assert(lists.where(col("vec_id") === 11L).select("emb")
      .head().getSeq[Double](0) === Seq(0.8, 0.1))
  }

  test("D11 delete coverage repair: a vector whose EVERY assignment was purged is re-homed, never silently unreachable") {
    import graft.operators.Hnsw
    val idx = java.nio.file.Files.createTempDirectory("graft_hnsw_cov").toString
    Hnsw.hnswPersistedTopk(spark, sfDir, indexPath = Some(idx)).count()
    val routingIds = spark.read.parquet(s"$idx/routing")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val shards0 = spark.read.parquet(s"$idx/shards")
      .select(col("vec_id"), col("entry_id").cast("long").as("entry_id"))
    val beforeIds = shards0.select("vec_id").distinct()
      .collect().map(_.getLong(0)).toSet
    // a NON-routing vector and the complete set of shards it lives in
    val victim = beforeIds.filterNot(routingIds.contains).min
    val homes = shards0.where(col("vec_id") === victim)
      .select("entry_id").collect().map(_.getLong(0)).toSet
    assert(homes.subsetOf(routingIds))
    // purging every routing node the victim is assigned to would strand
    // it without the repair pass
    Hnsw.hnswDelete(spark, idx, homes.toSeq)
    val after = spark.read.parquet(s"$idx/shards")
      .select(col("vec_id"), col("entry_id").cast("long").as("entry_id"))
    assert(after.where(col("vec_id").isin(homes.toSeq.map(Long.box): _*))
      .count() === 0, "purged keys must leave the index")
    val newHomes = after.where(col("vec_id") === victim)
      .select("entry_id").collect().map(_.getLong(0)).toSet
    assert(newHomes.size === Hnsw.RAssign,
      s"victim must be re-homed with full fan-out, got $newHomes")
    assert(newHomes.subsetOf(routingIds -- homes),
      "re-homes must target SURVIVING routing nodes")
    // nothing else lost: survivors = before minus exactly the purged keys
    val afterIds = after.select("vec_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(afterIds === beforeIds -- homes)
  }

  private def mkVecs(ids: Range): Seq[(Long, Seq[Double])] = ids.map { i =>
    (i.toLong, (1 to 64).map(d => ((i.toLong * d) % 83).toDouble / 83.0))
  }

  test("D11 absorb: a new batch attaches map-side against the persisted routing; absorb ≡ rebuild; stream replays are physical no-ops") {
    import spark.implicits._
    import graft.operators.Hnsw
    val idxA = java.nio.file.Files.createTempDirectory("graft_hnsw_absA").toString
    val idxB = java.nio.file.Files.createTempDirectory("graft_hnsw_absB").toString
    // B: one-shot full build (the rebuild reference)
    Hnsw.hnswPersistedTopk(spark, sfDir, indexPath = Some(idxB)).count()
    // A: SAME routing artifact, historical corpus attached first, the
    // "new epoch" absorbed after — exactly the daily-batch shape
    spark.read.parquet(s"$idxB/routing").write.parquet(s"$idxA/routing")
    val e = new graft.sources.GraftCatalog(spark, sfDir).table("embeddings")
      .select(col("vec_id"), VectorFns.toDoubleArray(col("embedding")).as("emb"))
    val isNew = pmod(col("vec_id"), lit(5L)) === 0L
    Hnsw.hnswAbsorb(spark, idxA, e.where(!isNew))
    Hnsw.hnswAbsorb(spark, idxA, e.where(isNew))
    def shardSet(idx: String) = spark.read.parquet(s"$idx/shards")
      .select(col("vec_id"), col("entry_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(shardSet(idxA) === shardSet(idxB),
      "absorb against the frozen routing artifact must equal the rebuild")
    assert(Hnsw.serveHnsw(spark, sfDir, idxA).collect().map(_.toString).toSeq ===
      Hnsw.serveHnsw(spark, sfDir, idxB).collect().map(_.toString).toSeq)
    // streaming absorb: overlap across batches collapses in the
    // anti-join; a replayed batch writes NOTHING (file identity)
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Seq[Double])]
    val q = Hnsw.hnswIndexSink(stream.toDF().toDF("vec_id", "emb"), idxA)
    stream.addData(mkVecs(910000 until 910010)); q.processAllAvailable()
    stream.addData(mkVecs(910005 until 910015)); q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(s"$idxA/shards")
      .where(col("vec_id") >= 910000L)
    assert(streamed.select("vec_id").distinct().count() === 15)
    assert(streamed.groupBy("vec_id", "entry_id").count()
      .where(col("count") > 1).count() === 0, "no duplicate assignment rows")
    val files = partFiles(s"$idxA/shards")
    Hnsw.applyHnswBatch(mkVecs(910000 until 910010).toDF("vec_id", "emb"), idxA)
    assert(partFiles(s"$idxA/shards") === files, "replay must write nothing")
    // un-built index: clear contract error, not a path-not-found
    val err = intercept[IllegalStateException] {
      Hnsw.applyHnswBatch(mkVecs(0 until 1).toDF("vec_id", "emb"),
        java.nio.file.Files.createTempDirectory("graft_hnsw_none").toString)
    }
    assert(err.getMessage.contains("build the HNSW index"))
  }

  test("D11 compaction: fragmented entry shards fold to one file each, serve-identical, untouched shards file-identical, idempotent") {
    import spark.implicits._
    import graft.operators.Hnsw
    val idx = java.nio.file.Files.createTempDirectory("graft_hnsw_cpt").toString
    Hnsw.hnswPersistedTopk(spark, sfDir, indexPath = Some(idx)).count()
    (0 until 5).foreach { b =>
      Hnsw.hnswAbsorb(spark, idx,
        mkVecs(920000 + b * 10 until 920000 + b * 10 + 10).toDF("vec_id", "emb"))
    }
    val before = partFiles(s"$idx/shards")
    val content = spark.read.parquet(s"$idx/shards")
      .select(col("vec_id"), col("entry_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val serveBefore = Hnsw.serveHnsw(spark, sfDir, idx).collect().map(_.toString).toSeq
    val compacted = Hnsw.hnswCompact(spark, idx, maxFiles = 3)
    assert(compacted.nonEmpty, "absorbs must have fragmented some shard")
    val after = partFiles(s"$idx/shards")
    compacted.foreach { id =>
      assert(after(s"entry_id=$id").size === 1,
        s"compacted shard $id must hold ONE file")
    }
    before.foreach { case (part, fsSet) =>
      val id = part.stripPrefix("entry_id=").toLong
      if (!compacted.contains(id))
        assert(after(part) === fsSet, s"untouched shard $part was rewritten")
    }
    assert(spark.read.parquet(s"$idx/shards")
      .select(col("vec_id"), col("entry_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === content)
    assert(Hnsw.serveHnsw(spark, sfDir, idx).collect().map(_.toString).toSeq
      === serveBefore)
    assert(Hnsw.hnswCompact(spark, idx, maxFiles = 3) === Seq.empty)
  }

  /** The new-embedding-model simulation shared by the D17 and G22
    * ladders: Gram-Schmidt basis of the trained-centroid span, then
    * each corpus vector minus its projection onto that span — cos to
    * EVERY centroid becomes exactly 0, the cleanest possible
    * out-of-space batch.
    */
  private def outOfSpaceBatch(idx: String, e: org.apache.spark.sql.DataFrame,
      idOffset: Long): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val cents = spark.read.parquet(s"$idx/centroids")
      .select(col("centroid_id"), col("c_emb"))
      .as[(Int, Seq[Double])].collect().sortBy(_._1).map(_._2.toArray)
    val basis = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    cents.foreach { c =>
      val r = c.clone()
      basis.foreach { b =>
        val d = r.zip(b).map { case (x, y) => x * y }.sum
        for (i <- r.indices) r(i) -= d * b(i)
      }
      val n = math.sqrt(r.map(x => x * x).sum)
      if (n > 1e-9) basis += r.map(_ / n)
    }
    val rows = e.as[(Long, Seq[Double])].collect().map { case (id, v) =>
      val r = v.toArray
      basis.foreach { b =>
        val d = r.zip(b).map { case (x, y) => x * y }.sum
        for (i <- r.indices) r(i) -= d * b(i)
      }
      (id + idOffset, r.toSeq)
    }
    spark.createDataFrame(rows.toIndexedSeq).toDF("vec_id", "emb")
  }

  test("D17 drift gate: silent on a corpus-shaped batch, flags a shifted batch, retraining clears it") {
    import spark.implicits._
    import graft.sources.GraftAdvisor
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_drift").toString
    Similarity.ivfIncrementalTopk(spark, sfDir, indexPath = Some(idx)).collect()
    val e = new graft.sources.GraftCatalog(spark, sfDir).table("embeddings")
      .select(col("vec_id"),
        graft.functions.VectorFns.toDoubleArray(col("embedding")).as("emb"))
    // a corpus-shaped batch (the corpus itself under fresh ids) sits
    // exactly at the baseline error: no list may flag
    val shaped = e.select((col("vec_id") + 100000L).as("vec_id"), col("emb"))
    val silent = Similarity.ivfDrift(spark, idx, shaped)
    assert(silent.where(col("n_batch") > 0L).count() > 0)
    assert(silent.where(col("drifted") === 1L).count() === 0,
      "a corpus-shaped batch must not drift")
    assert(GraftAdvisor.adviseVectorDrift(spark, idx, shaped).isEmpty)
    // a shifted batch — a NEW embedding model's output lives in a
    // space uncorrelated with the trained centroids; simulate it
    // exactly by orthogonalizing each corpus vector against the span
    // of the trained centroids (cos to EVERY centroid becomes 0)
    val shifted = outOfSpaceBatch(idx, e, idOffset = 200000L)
    val rep = Similarity.ivfDrift(spark, idx, shifted).cache()
    assert(rep.where(col("drifted") === 1L).count() > 0,
      "the out-of-space batch must flag drifted lists")
    // drifted lists really do align worse than their corpus baseline
    rep.where(col("drifted") === 1L).collect().foreach { r =>
      assert(r.getAs[Long]("batch_align_micro") * 100L <
        r.getAs[Long]("base_align_micro") * 70L)
      assert(r.getAs[Long]("n_base") > 0L && r.getAs[Long]("n_batch") > 0L)
    }
    val adv = GraftAdvisor.adviseVectorDrift(spark, idx, shifted)
    assert(adv.nonEmpty && adv.head.rule === "retrain-centroids")
    rep.unpersist()
    // ACT on the advice: the new embedding model means a RETRAIN —
    // rebuild the index over the new distribution, re-check the SAME
    // batch, and the advice clears (the A34 act-clears-it contract)
    val idx2 = java.nio.file.Files.createTempDirectory("graft_ivf_drift2").toString
    val newCorpus = shifted.select((col("vec_id") - 200000L).as("vec_id"),
      col("emb"))
    val trained2 = Similarity.kmeansCentroids(
      Similarity.trainingSample(newCorpus), 16, iters = 2)
    spark.createDataFrame(trained2.toIndexedSeq).toDF("centroid_id", "c_emb")
      .write.mode("overwrite").parquet(s"$idx2/centroids")
    Similarity.assignCentroids(newCorpus, trained2)
      .select(col("vec_id"), col("emb"), col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id").parquet(s"$idx2/lists")
    assert(Similarity.ivfDrift(spark, idx2, shifted)
      .where(col("drifted") === 1L).count() === 0,
      "retraining on the new distribution must clear the drift")
    assert(GraftAdvisor.adviseVectorDrift(spark, idx2, shifted).isEmpty)
  }

  test("G22 gated sink: clean batches absorb, drifted batches quarantine (replay-idempotent), retrain + reabsorb releases them") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_gate").toString
    Similarity.ivfIncrementalTopk(spark, sfDir, indexPath = Some(idx)).count()
    // the gate requires the train-time baseline artifact BY NAME
    val err = intercept[IllegalStateException] {
      Similarity.applyGatedVectorBatch(
        Seq((1L, Seq.fill(64)(0.1))).toDF("vec_id", "emb"), 0L, idx, 30)
    }
    assert(err.getMessage.contains("ivfDriftBaseline"))
    Similarity.ivfDriftBaseline(spark, idx)
    val e = new graft.sources.GraftCatalog(spark, sfDir).table("embeddings")
      .select(col("vec_id"),
        graft.functions.VectorFns.toDoubleArray(col("embedding")).as("emb"))
    val clean = e.select((col("vec_id") + 300000L).as("vec_id"), col("emb"))
      .limit(50)
    // the drifted batch: a TIGHT cluster around one out-of-space
    // direction (a new/broken encoder emitting concentrated vectors
    // unrelated to the trained space) — cos to every trained centroid
    // is ≤ the 5% jitter, cos within the batch is ≈1
    val ortho = outOfSpaceBatch(idx, e.limit(51), idOffset = 400000L)
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
      .map { case (id, v) =>
        val n = math.sqrt(v.map(x => x * x).sum)
        (id, v.map(_ / n))
      }
    val u = ortho.head._2
    val drifty = spark.createDataFrame(
      ortho.tail.map { case (id, w) =>
        (id, u.zip(w).map { case (a, b) => a + 0.05 * b })
      }.toIndexedSeq).toDF("vec_id", "emb")
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Seq[Double])]
    val q = Similarity.gatedVectorIndexSink(
      stream.toDF().toDF("vec_id", "emb"), idx)
    stream.addData(clean.as[(Long, Seq[Double])].collect().toIndexedSeq)
    q.processAllAvailable()
    stream.addData(drifty.as[(Long, Seq[Double])].collect().toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    val lists = spark.read.parquet(s"$idx/lists")
    assert(lists.where(col("vec_id") >= 300000L && col("vec_id") < 400000L)
      .count() === 50, "the corpus-shaped batch must absorb")
    assert(lists.where(col("vec_id") >= 400000L).count() === 0,
      "the out-of-space batch must NOT absorb")
    val qDir = s"$idx/_quarantine/batch_id=1"
    assert(spark.read.parquet(qDir).count() === 50,
      "the drifted batch is quarantined whole")
    // replays: the quarantined batch overwrites its own dir, the
    // absorbed batch is a physical no-op on the lists
    val files = partFiles(s"$idx/lists")
    Similarity.applyGatedVectorBatch(drifty, 1L, idx, 30)
    assert(partFiles(s"$idx/lists") === files)
    assert(spark.read.parquet(qDir).count() === 50)
    Similarity.applyGatedVectorBatch(clean, 0L, idx, 30)
    assert(partFiles(s"$idx/lists") === files, "replayed clean batch must no-op")
    // before the retrain the quarantine stays put
    val pre = Similarity.reabsorbQuarantine(spark, idx).collect()
    assert(pre.length === 1 && pre.head.getString(2) === "retained")
    assert(new java.io.File(qDir).exists())
    // ACT: represent the new mode in the centroid artifact — append a
    // centroid at the quarantined cluster's mean (the minimal retrain;
    // a production retrain re-runs k-means over the union) and refresh
    // the baseline. The batch then assigns to the new-mode centroid
    // (cos ≈ 1 there vs ≤ jitter everywhere else), whose list carries
    // no baseline mass — nothing to fall below, the gate is clean.
    val dvecs = drifty.as[(Long, Seq[Double])].collect().map(_._2)
    val mean = (0 until 64).map(i => dvecs.map(_(i)).sum / dvecs.length)
    spark.createDataFrame(Seq((16, mean))).toDF("centroid_id", "c_emb")
      .write.mode("append").parquet(s"$idx/centroids")
    Similarity.ivfDriftBaseline(spark, idx)
    // the quarantined batch now gates clean: absorbed, dir removed
    val post = Similarity.reabsorbQuarantine(spark, idx).collect()
    assert(post.length === 1 && post.head.getString(2) === "absorbed"
      && post.head.getLong(1) === 50L)
    assert(!new java.io.File(qDir).exists())
    assert(spark.read.parquet(s"$idx/lists")
      .where(col("vec_id") >= 400000L).count() === 50)
    // idempotent: nothing left to release
    assert(Similarity.reabsorbQuarantine(spark, idx).collect().isEmpty)
    // a stale quarantine dir whose vectors are already served is
    // recognized and cleaned, never double-absorbed
    drifty.write.mode("overwrite").parquet(qDir)
    val stale = Similarity.reabsorbQuarantine(spark, idx).collect()
    assert(stale.length === 1 && stale.head.getString(2) === "empty")
    assert(!new java.io.File(qDir).exists())
    assert(spark.read.parquet(s"$idx/lists")
      .where(col("vec_id") >= 400000L).count() === 50, "no double absorb")
  }
}
