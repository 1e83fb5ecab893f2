package graft.operators

import graft.GraftSession.GrainOps
import graft.functions.{AdcScoreExpr, NearestCentroidExpr, VectorFns}
import graft.sources.GraftCatalog
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** §2.D similarity search over the `embeddings` table.
  *
  * Scale design (100 TB): the query set is tiny and broadcast; the
  * corpus scan is a single pass. The IVF design follows the
  * inverted-file ANN lineage (Sivic & Zisserman 2003; Jégou et al.,
  * TPAMI 2011); hyperplane LSH follows Charikar (STOC 2002).
  * Brute force is the exactness
  * baseline (per-partition top-k heaps via window row_number after a
  * broadcast nested-loop join); IVF prunes the scan to the probed
  * centroid lists; hyperplane LSH prunes to matching buckets.
  */
object Similarity {

  private val K = 10
  private val NQueries = 5

  private def emb(s: SparkSession, dir: String): DataFrame =
    new GraftCatalog(s, dir).table("embeddings")
      .select(col("vec_id"), VectorFns.toDoubleArray(col("embedding")).as("emb"))

  /** D1: brute-force cosine top-k for the first NQueries vectors. */
  def bruteForceTopk(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.where(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        VectorFns.cosine(col("q_emb"), col("emb")).as("cos_raw"))
    val w = Window.partitionBy("query_id").orderBy(col("cos_raw").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= K)
      .select(col("query_id"), col("neighbor_id"), round(col("cos_raw"), 4).as("cos"))
      .orderBy("query_id", "neighbor_id")
  }

  /** D12: FILTERED vector search — top-k among only the candidates a
    * metadata predicate admits (here: the document behind the vector
    * is English), the retrieval shape every production vector store
    * serves ("nearest en-lang docs", "nearest docs from source X").
    * The predicate runs BEFORE any distance is computed: the filter
    * pushes into the documents scan, the equi join on the shared id
    * shrinks the candidate set first, and only surviving rows pay the
    * cosine — at 100 TB a 20%-selective filter cuts the scored work
    * 5×, which post-filtering (score all, filter last) forfeits.
    * Exact form (value-exact oracle); the IVF/HNSW indexes compose
    * the same way by filtering their candidate slivers before rerank.
    */
  def filteredTopk(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val enDocs = new GraftCatalog(s, dir).table("documents")
      .where(col("lang") === "en").select(col("doc_id"))
    val candidates = e.join(enDocs, col("vec_id") === col("doc_id"))
    val q = e.where(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
    val scored = candidates.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        VectorFns.cosine(col("q_emb"), col("emb")).as("cos_raw"))
    val w = Window.partitionBy("query_id").orderBy(col("cos_raw").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= K)
      .select(col("query_id"), col("neighbor_id"), round(col("cos_raw"), 4).as("cos"))
      .orderBy("query_id", "neighbor_id")
  }

  /** Deterministic ~10%% hash-sample of the corpus used to TRAIN
    * k-means — the B29 sampling predicate (Analytic.qSampleHash)
    * applied to vec_id. Training cost scales with the sample, not the
    * corpus: at 100 TB the Lloyd rounds touch ~10 TB once each instead
    * of 6 full-corpus passes, and the resulting centroids are
    * statistically equivalent (k-means only needs a representative
    * sample of the density).
    */
  /** Hard cap on the k-means/PQ training set: a FRACTIONAL sample is
    * still corpus-proportional (10% of 100 TB = 10 TB per Lloyd
    * round), but centroids and codebooks only need a REPRESENTATIVE
    * sample of the density, not a fraction of it — FAISS trains IVF
    * lists and PQ codebooks on a bounded count for exactly this
    * reason. The cap keeps the lowest-hash members (deterministic
    * and NESTED: growing the corpus only refines which vectors
    * train, never the cost class — the RoutingCap rule applied to
    * training). 64k × 64 doubles ≈ 32 MB of sample, top-K selected
    * tree-reduced, so training cost is corpus-independent.
    */
  private[graft] val TrainingCap = 65536

  private[graft] def trainingSample(e: DataFrame): DataFrame =
    e.where(pmod(col("vec_id") * 2654435761L, lit(1000)) < 100)
      .orderBy(pmod(col("vec_id") * 2654435761L, lit(1000000L)), col("vec_id"))
      .limit(TrainingCap)

  /** Map-side nearest-centroid assignment: the k×dim centroid table
    * is tiny, so it ships as a LITERAL array into one codegen'd
    * projection — per-row argmax(cosine) with ZERO shuffle and zero
    * row explosion. (The previous shape crossJoined every row with
    * the k centroids and took `row_number` over
    * `Window.partitionBy(vec_id)`: a full shuffle of a k×-exploded
    * corpus for a per-row reduction — at 100 TB that shuffle IS the
    * job.) Ties break to the smallest centroid id via
    * max(struct(cos, -id)), matching the former window order
    * (c_cos DESC, centroid_id ASC). Adds `centroid_id` to `e`.
    */
  private[graft] def assignCentroids(
      e: DataFrame, centroids: Array[(Int, Seq[Double])],
      useCosine: Boolean = true): DataFrame =
    // r17: single native loop per row (NearestCentroidExpr). The
    // former literal-array HOF form — array_max over transform(cents,
    // struct(score, -id)) — interpreted one boxed struct per centroid
    // per row; bit-identity with it (scores, NaN/-0.0 ordering, ties
    // to smallest id) is spec-asserted on the real corpus against a
    // test-scope copy of that form.
    e.withColumn("centroid_id", Bridge.column(NearestCentroidExpr(
      Bridge.expression(col("emb")),
      centroids.map(_._1), centroids.map(_._2.toArray), useCosine)))

  /** L2 flavor of the map-side argmax (PQ subspace codebooks): same
    * zero-shuffle shape, maximizing the NEGATED squared distance.
    */
  private[graft] def assignCentroidsL2(
      e: DataFrame, centroids: Array[(Int, Seq[Double])]): DataFrame =
    assignCentroids(e, centroids, useCosine = false)

  /** Lloyd's k-means over a (sampled) embedding table: deterministic
    * init (k lowest vec_ids present in the input), `iters`
    * assignment+mean rounds. Centroids are collected to the driver
    * each round — k×dim doubles, the classic broadcast-able artifact.
    *
    * Always returns exactly min(k, input rows) centroids: k is
    * clamped when the input is smaller than k, and a cluster that
    * receives zero assignments in a round keeps its previous centroid
    * instead of vanishing from the groupBy result.
    */
  private[graft] def kmeansCentroids(
      e: DataFrame, k: Int, iters: Int): Array[(Int, Seq[Double])] = {
    import e.sparkSession.implicits._
    var centroids = e.orderBy("vec_id").limit(k)
      .select(col("emb")).as[Seq[Double]].collect()
      .zipWithIndex.map { case (v, i) => (i, v) }
    for (_ <- 0 until iters) {
      // NATIVE assignment (NearestCentroidExpr): the centroid table
      // rides the codegen references array, so the per-round generated
      // code is round-invariant (codegen cache hits) and the per-row
      // argmax is one primitive loop
      val updated = assignCentroids(e, centroids)
        // mean per dimension: posexplode + groupBy(centroid, dim)
        .select(col("centroid_id"), posexplode(col("emb")).as(Seq("dim", "v")))
        .groupBy("centroid_id", "dim").agg(avg("v").as("m"))
        .groupBy("centroid_id")
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dims"))
        .select(col("centroid_id"), expr("transform(dims, d -> d.m)").as("c_emb"))
        .as[(Int, Seq[Double])].collect().toMap
      centroids = centroids.map { case (id, prev) => (id, updated.getOrElse(id, prev)) }
    }
    centroids
  }

  /** D2: IVF ANN — k-means centroids trained on the deterministic
    * hash-sample (2 Lloyd rounds), nearest-centroid assignment over
    * the FULL corpus (inverted lists), queries probe the top-`nprobe`
    * centroid lists, exact cosine within. At scale the corpus is
    * pre-partitioned by centroid so a probe touches nprobe/nlist of
    * the data, and the trained centroids are persisted/broadcast —
    * training never rescans the corpus.
    */
  def ivfTopk(s: SparkSession, dir: String, nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val e = emb(s, dir).grainCache()
    val trained = kmeansCentroids(trainingSample(e), nCentroids, iters = 2)
    val centroids = broadcast(
      s.createDataFrame(trained.toIndexedSeq).toDF("centroid_id", "c_emb"))

    // Assignment: map-side argmax over the literal centroid array —
    // no crossJoin explosion, no shuffle (see assignCentroids).
    val lists = assignCentroids(e, trained)
      .select(col("vec_id"), col("emb"), col("centroid_id"))

    // Queries probe their nProbe nearest centroids.
    val q = emb(s, dir).where(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
    val probes = q.join(centroids, expr("true"))
      .select(col("query_id"), col("q_emb"), col("centroid_id"),
        VectorFns.cosine(col("q_emb"), col("c_emb")).as("c_cos"))
    val wProbe = Window.partitionBy("query_id").orderBy(col("c_cos").desc, col("centroid_id"))
    val probed = probes.withColumn("rn", row_number().over(wProbe))
      .where(col("rn") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("centroid_id"))

    // Exact cosine within probed lists only.
    val scored = probed.join(lists, Seq("centroid_id"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        VectorFns.cosine(col("q_emb"), col("emb")).as("cos_raw"))
    val w = Window.partitionBy("query_id").orderBy(col("cos_raw").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= K)
      .select(col("query_id"), col("neighbor_id"), round(col("cos_raw"), 4).as("cos"))
      .orderBy("query_id", "neighbor_id")
  }

  /** Builds the persisted IVF index: trains centroids on the hash-
    * sample, assigns every vector to its nearest centroid, and writes
    * the corpus PARTITIONED BY centroid_id (hive layout). Returns the
    * index path and the broadcast-able centroid table. This is the
    * "index build" job a production ANN store runs once; probes then
    * read `nprobe/nlist` of the data via partition pruning instead of
    * scanning the corpus.
    */
  private[graft] def buildIvfIndex(s: SparkSession, dir: String,
      nCentroids: Int, indexPath: String): DataFrame = {
    val e = emb(s, dir).grainCache()
    val trained = kmeansCentroids(trainingSample(e), nCentroids, iters = 2)
    val centroids = broadcast(
      s.createDataFrame(trained.toIndexedSeq).toDF("centroid_id", "c_emb"))
    assignCentroids(e, trained)
      .select(col("vec_id"), col("emb"), col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id").parquet(indexPath)
    // persist the centroid artifact WITH the index (`_`-prefixed dir:
    // invisible to the list readers) — what lets a later session (or
    // the graft_knn_ivf SQL TVF) probe without retraining: the k×dim
    // table is read back at serving time, nearest lists are chosen
    // driver-side, and the scan prunes to nprobe partitions.
    s.createDataFrame(trained.toIndexedSeq).toDF("centroid_id", "c_emb")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/_centroids")
    // the write above is a synchronous action — the cache has served
    // its two consumers (training + assignment); release it so a
    // multi-query session doesn't accumulate storage memory.
    e.unpersist()
    centroids
  }

  /** D2 (incremental form): the persisted IVF index ABSORBS new
    * vectors without retraining or rebuilding — the C12/E15 production
    * rule applied to ANN: the centroid table is a persisted artifact
    * (written once at build), an arriving batch is assigned map-side
    * against it and APPENDED into the same centroid-partitioned
    * layout (hive append — historical shard files never rewritten),
    * and serving is unchanged. Centroids staying fixed between
    * retrains is the standard IVF operating mode (FAISS add-after-
    * train); a periodic retrain rebuilds under a new index path.
    * The parity spec proves append ≡ a full rebuild against the SAME
    * centroid artifact, and the incremental query serves value-
    * identically to that rebuild.
    */
  private[graft] def ivfAppend(s: SparkSession, indexPath: String,
      newVecs: DataFrame): Unit = {
    import s.implicits._
    val trained = graft.sources.GraftIO.readParquet(s, s"$indexPath/centroids")
      .select(col("centroid_id"), col("c_emb")).as[(Int, Seq[Double])]
      .collect().sortBy(_._1)
    assignCentroids(newVecs, trained)
      .select(col("vec_id"), col("emb"), col("centroid_id"))
      .write.mode("append").partitionBy("centroid_id")
      .parquet(s"$indexPath/lists")
  }

  /** D2 (delete path): purge keys from the persisted IVF index — the
    * A19 GDPR discipline applied to `$idx/lists`: the vector store
    * must forget a key when its source table does, or the index keeps
    * serving purged data. A COW rewrite of ONLY the affected centroid
    * partitions (broadcast semi-join discovery → per-partition
    * anti-join → dynamic partition overwrite; drained partitions
    * dropped) — untouched list partitions keep their files
    * byte-identical, so delete cost is bounded by the deleted keys'
    * centroid spread, never the index size. Composes with `ivfAppend`
    * (FAISS add-after-train + remove_ids): delete-then-append against
    * the SAME persisted centroid artifact equals a rebuild from the
    * surviving corpus. The centroid table itself holds only k-means
    * MEANS — aggregates over many vectors, not copies of any row — so
    * a key purge never needs to touch it.
    */
  private[graft] def ivfDelete(s: SparkSession, indexPath: String,
      keys: Seq[Long]): Unit = {
    import s.implicits._
    graft.sources.GraftSink.mergeDelete(s, s"$indexPath/lists",
      keys.toDF("vec_id"), Seq("vec_id"), "centroid_id")
  }

  /** The hash-bucket dir column of the persisted PQ code table. */
  private[graft] val PqBucketCol = "pq_bucket"

  /** D13 forget leg for the persisted PQ index: COW rewrite of only
    * the hash buckets holding the purged vec_ids (the `ivfDelete`
    * affected-partition discipline over the ~16× narrow code table).
    * A forgotten id can then never reach the ADC shortlist, so the
    * exact rerank never fetches its embedding — the serve path is
    * clean even before the source table's own erase folds. Deletes of
    * absent keys are no-ops (idempotent retries converge).
    */
  private[graft] def pqDelete(s: SparkSession, indexPath: String,
      keys: Seq[Long]): Unit = {
    import s.implicits._
    graft.sources.GraftSink.mergeDelete(s, s"$indexPath/codes",
      keys.toDF("vec_id"), Seq("vec_id"), PqBucketCol)
  }

  /** G19: STREAMING vector-index maintenance — the persisted IVF
    * index absorbs an embedding STREAM: each micro-batch is
    * anti-joined against the lists' vec_id column (one column-pruned
    * probe, the C12/G15 incremental rule) so only genuinely NEW
    * vectors are assigned (map-side vs the persisted centroids) and
    * appended. Exactly-once WITHOUT markers: a replayed batch — or a
    * vector re-sent across batches — collapses to a no-op in the
    * anti-join, so the index never holds a duplicate and absorb ∘
    * replay ≡ absorb. Pair with `ivfCompact` on a maintenance cadence
    * to fold the per-batch files.
    */
  def vectorIndexSink(vecs: DataFrame, indexPath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) => applyVectorBatch(b, indexPath) }
      .start()

  /** In-batch dedup + persisted anti-join — the exactly-once core
    * shared by the plain and drift-gated sinks. The anti-join only
    * sees what is already PERSISTED, so duplicate vec_ids arriving
    * within one micro-batch must collapse first (deterministic tie
    * rule: the struct-min of the remaining columns); the result is
    * locally checkpointed because the absorb appends into the very
    * path the anti-join reads.
    */
  private def freshVectors(batch: DataFrame, indexPath: String,
      sinkName: String): DataFrame = {
    val s = batch.sparkSession
    val lists = s"$indexPath/lists"
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(s.sessionState.newHadoopConf())
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))
    // the sink maintains an index, it doesn't create one: without the
    // centroid artifact there is nothing to assign against, and a raw
    // path-not-found out of the first micro-batch is undebuggable
    if (!exists(s"$indexPath/centroids"))
      throw new IllegalStateException(
        s"[GRAFT] build the IVF index (centroids) at $indexPath before " +
          s"attaching $sinkName — the sink absorbs into an existing index")
    val others = batch.columns.filter(_ != "vec_id").toSeq
    val once = batch.toDF().groupBy("vec_id")
      .agg(min(struct(others.map(col): _*)).as("_r"))
      .select(col("vec_id") +: others.map(c => col(s"_r.$c")): _*)
    // first batch against a just-trained index: no lists yet — every
    // row is fresh (bootstrap append), not a path-not-found failure
    val fresh0 =
      if (!exists(lists)) once
      else once.join(graft.sources.GraftIO.readParquet(s, lists).select("vec_id"), Seq("vec_id"), "left_anti")
    fresh0.localCheckpoint(true)
  }

  private[graft] def applyVectorBatch(
      batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
      indexPath: String): Unit = {
    val s = batch.sparkSession
    val fresh = freshVectors(batch.toDF(), indexPath, "vectorIndexSink")
    try if (!fresh.isEmpty) ivfAppend(s, indexPath, fresh)
    finally graft.GraftSession.releaseCheckpoint(fresh)
  }

  /** G22: DRIFT-GATED streaming vector-index maintenance — G19's
    * absorb with D17's drift gate in the loop, and the G18 quarantine
    * discipline for the failure path: each micro-batch's fresh
    * vectors (same in-batch dedup + persisted anti-join) are checked
    * against the PERSISTED train-time baseline (`ivfDriftBaseline` —
    * a ≤k-row read, so the per-batch gate costs O(batch), never a
    * corpus scan) with the two-level `batchDrifts` rule — per-list
    * flags under the min-mass guard plus the global mass-weighted
    * comparison; a clean batch absorbs exactly as G19, a drifted
    * one is DIVERTED whole to `<index>/_quarantine/batch_id=N` —
    * never absorbed, never wedging the stream (the G18 poison-batch
    * rule). Exactly-once on both paths: a replayed absorbed batch
    * empties in the anti-join (no-op), a replayed quarantined batch
    * overwrites its own batch_id dir (the G4 rule — the id IS the
    * partition). `reabsorbQuarantine` closes the operational loop
    * after a retrain.
    */
  def gatedVectorIndexSink(vecs: DataFrame, indexPath: String,
      thresholdPct: Int = 30)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          id: Long) => applyGatedVectorBatch(b.toDF(), id, indexPath, thresholdPct) }
      .start()

  private[graft] def applyGatedVectorBatch(batch: DataFrame, batchId: Long,
      indexPath: String, thresholdPct: Int): Unit = {
    val s = batch.sparkSession
    val basePath = s"$indexPath/drift_baseline"
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(basePath)))
      throw new IllegalStateException(
        s"[GRAFT] run ivfDriftBaseline($indexPath) before attaching " +
          "gatedVectorIndexSink — the gate compares against the " +
          "train-time baseline artifact")
    val fresh = freshVectors(batch, indexPath, "gatedVectorIndexSink")
    try if (!fresh.isEmpty) {
      val trained = readCentroids(s, indexPath)
      val probe = listAlignment(assignCentroids(fresh, trained),
        trained, "n_batch", "batch_align_micro")
      if (batchDrifts(graft.sources.GraftIO.readParquet(s, basePath), probe, thresholdPct))
        fresh.write.mode("overwrite")
          .parquet(s"$indexPath/_quarantine/batch_id=$batchId")
      else ivfAppend(s, indexPath, fresh)
    } finally graft.GraftSession.releaseCheckpoint(fresh)
  }

  /** G22 (release): re-gate every quarantined batch against the
    * CURRENT index + baseline (i.e. after the operator acted on the
    * `retrain-centroids` advice and re-ran `ivfDriftBaseline`); a
    * batch that now gates clean absorbs and its quarantine dir is
    * removed, one that still drifts stays put. Returns one row per
    * batch: (batch_id, n_vectors, action ∈ absorbed|retained|empty).
    * Idempotent — a second call sees absorbed batches gone and
    * retained ones re-retained.
    */
  def reabsorbQuarantine(s: SparkSession, indexPath: String,
      thresholdPct: Int = 30): DataFrame = {
    import s.implicits._
    val qRoot = new org.apache.hadoop.fs.Path(s"$indexPath/_quarantine")
    val fs = qRoot.getFileSystem(s.sessionState.newHadoopConf())
    val batches =
      if (!fs.exists(qRoot)) Array.empty[Long]
      else fs.listStatus(qRoot).map(_.getPath.getName)
        .filter(_.startsWith("batch_id=")).map(_.stripPrefix("batch_id=").toLong)
        .sorted
    val out = batches.map { id =>
      val dir = s"$indexPath/_quarantine/batch_id=$id"
      val fresh = freshVectors(graft.sources.GraftIO.readParquet(s, dir), indexPath, "reabsorbQuarantine")
      try {
        if (fresh.isEmpty) {
          // every vector already served (absorbed through another
          // path) — the quarantine dir is stale bookkeeping
          if (!fs.delete(new org.apache.hadoop.fs.Path(dir), true))
            throw new java.io.IOException(
              s"[GRAFT] quarantine cleanup failed: delete($dir)")
          (id, 0L, "empty")
        } else {
          val trained = readCentroids(s, indexPath)
          val probe = listAlignment(assignCentroids(fresh, trained),
            trained, "n_batch", "batch_align_micro")
          val drifts = batchDrifts(
            graft.sources.GraftIO.readParquet(s, s"$indexPath/drift_baseline"), probe, thresholdPct)
          val n = fresh.count()
          if (drifts) (id, n, "retained")
          else {
            ivfAppend(s, indexPath, fresh)
            if (!fs.delete(new org.apache.hadoop.fs.Path(dir), true))
              throw new java.io.IOException(
                s"[GRAFT] quarantine release failed: delete($dir)")
            (id, n, "absorbed")
          }
        }
      } finally graft.GraftSession.releaseCheckpoint(fresh)
    }
    out.toSeq.toDF("batch_id", "n_vectors", "action")
  }

  /** D17: pre-absorb embedding DRIFT report — the D-family twin of
    * E19's ingestion-drift profile, answering the question `ivfAppend`
    * and `vectorIndexSink` beg: centroids trained once serve an
    * append-only index well ONLY while new batches look like the
    * training distribution (the FAISS add-after-train contract); a
    * new embedding model, a new source, or a corrupted encoder sends
    * vectors that live in a DIFFERENT space, and recall decays
    * silently. The signal is per-list centroid ALIGNMENT — mean
    * cos(v, assigned centroid), per-vector micro-floored then exact
    * integer mean (the E8 partition-invariance convention): the
    * INDEX's own corpus alignment versus the BATCH's after map-side
    * assignment against the same persisted artifact. Alignment (not
    * 1−cos quantization error) because it has the dynamic range where
    * drift lives: a batch uncorrelated with the trained space lands
    * near cos 0 regardless of how tight the corpus clusters are,
    * while relative error ratios compress toward 1 when the corpus
    * itself quantizes loosely. A list whose batch alignment falls
    * more than `thresholdPct`% below its corpus alignment flags
    * `drifted` — the "retrain instead of absorb" gate. Scale shape:
    * one column-pruned scan of the lists + map-side cosine vs the
    * literal k×dim centroid array (zero shuffle before the k-row
    * aggregate), the batch assigns map-side identically, and the
    * comparison joins two ≤k-row frames — cost is one corpus-linear
    * pass, no new shuffle class. Empty lists / untouched lists never
    * flag (both sides must have mass), and a list whose corpus
    * alignment is already ≤0 never flags (nothing to fall below).
    */
  private[graft] def readCentroids(s: SparkSession, indexPath: String)
      : Array[(Int, Seq[Double])] = {
    import s.implicits._
    graft.sources.GraftIO.readParquet(s, s"$indexPath/centroids")
      .select(col("centroid_id"), col("c_emb")).as[(Int, Seq[Double])]
      .collect().sortBy(_._1)
  }

  /** Per-vector alignment — cos(v, assigned centroid), micro-floored
    * (the E8 partition-invariance convention) — then the exact
    * integer per-list mean. Map-side vs the literal k×dim centroid
    * array: zero shuffle before the ≤k-row aggregate.
    */
  private def listAlignment(assigned: DataFrame,
      trained: Array[(Int, Seq[Double])], nCol: String,
      aCol: String): DataFrame = {
    val cArr = typedlit(trained.toSeq)
    val centroidOf =
      element_at(filter(cArr, c => c.getField("_1") === col("centroid_id")), 1)
        .getField("_2")
    assigned
      .select(col("centroid_id"),
        floor(VectorFns.cosine(col("emb"), centroidOf) * 1e6).cast("long").as("a"))
      .groupBy("centroid_id")
      .agg(count(lit(1)).as(nCol), expr("sum(a) div count(1)").as(aCol))
  }

  /** The drift verdict: per-list batch alignment vs corpus baseline
    * alignment; a list whose batch alignment falls more than
    * `thresholdPct`% below its corpus alignment flags `drifted`.
    * Guards: empty / untouched lists never flag (both sides must have
    * mass), a list whose corpus alignment is already ≤0 never flags
    * (nothing to fall below), and a list carrying fewer than
    * `minListBatch` batch vectors never flags — a per-list mean over
    * a handful of samples is noise, not drift (the standard
    * min-sample rule for drift detectors; the GLOBAL gate below
    * covers small batches).
    */
  private def driftVerdict(base: DataFrame, probe: DataFrame,
      thresholdPct: Int, minListBatch: Int): DataFrame =
    base.join(probe, Seq("centroid_id"), "full_outer")
      .select(col("centroid_id"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("base_align_micro"), lit(0L)).as("base_align_micro"),
        coalesce(col("n_batch"), lit(0L)).as("n_batch"),
        coalesce(col("batch_align_micro"), lit(0L)).as("batch_align_micro"))
      .withColumn("drifted",
        (col("n_batch") >= minListBatch.toLong && col("n_base") > 0L &&
          col("base_align_micro") > 0L &&
          col("batch_align_micro") * 100L <
            col("base_align_micro") * (100L - thresholdPct))
          .cast("long"))
      .orderBy("centroid_id")

  private[graft] def ivfDrift(s: SparkSession, indexPath: String,
      batch: DataFrame, thresholdPct: Int = 30,
      minListBatch: Int = 20): DataFrame = {
    val trained = readCentroids(s, indexPath)
    val base = listAlignment(graft.sources.GraftIO.readParquet(s, s"$indexPath/lists"),
      trained, "n_base", "base_align_micro")
    val probe = listAlignment(assignCentroids(batch, trained),
      trained, "n_batch", "batch_align_micro")
    driftVerdict(base, probe, thresholdPct, minListBatch)
  }

  /** The absorb DECISION is two-level: any per-list flag (a
    * concentrated sub-mode drifting inside an otherwise-normal batch,
    * with the min-mass rule) OR the batch's GLOBAL mass-weighted
    * alignment falling `thresholdPct`% below the baseline's — the
    * global test is what makes small batches safe to gate (a 50-row
    * batch spread thin across lists gives no per-list sample worth
    * judging, but its global mean is still a sound statistic).
    * Weighted recomposition Σ(n·align) div Σn from the per-list
    * integer means loses <1 micro per list — irrelevant at a
    * percent-scale threshold.
    */
  private def batchDrifts(base: DataFrame, probe: DataFrame,
      thresholdPct: Int): Boolean = {
    val perList = driftVerdict(base, probe, thresholdPct, minListBatch = 20)
      .where(col("drifted") === 1L).count() > 0L
    def global(df: DataFrame, n: String, a: String): Long = {
      val r = df.agg(sum(col(n)).as("n"),
        sum(col(n) * col(a)).as("s")).head()
      if (r.isNullAt(0) || r.getLong(0) == 0L) 0L
      else r.getLong(1) / r.getLong(0)
    }
    val gBase = global(base, "n_base", "base_align_micro")
    val gBatch = global(probe, "n_batch", "batch_align_micro")
    perList || (gBase > 0L && gBatch * 100L < gBase * (100L - thresholdPct))
  }

  /** G22 (baseline artifact): the per-list corpus alignment persisted
    * as a ≤k-row frame at TRAIN time. The streaming gate compares
    * every batch against THIS, not against the live lists — two
    * reasons: per-batch cost becomes O(batch) + a k-row read instead
    * of a corpus-linear lists scan, and the reference distribution is
    * pinned to what the centroids were TRAINED on, so gradual drift
    * cannot boil the frog by absorbing itself into the baseline.
    * Recompute after any retrain (the spec's act step does).
    */
  def ivfDriftBaseline(s: SparkSession, indexPath: String): Unit = {
    val trained = readCentroids(s, indexPath)
    listAlignment(graft.sources.GraftIO.readParquet(s, s"$indexPath/lists"),
      trained, "n_base", "base_align_micro")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$indexPath/drift_baseline")
  }

  /** D2 (compaction): every `ivfAppend` batch adds one file per
    * touched centroid partition, so a daily-absorb index accumulates
    * a file per day per list — and at 100 TB open-cost per probe
    * grows with batch count, not data. Compaction rewrites ONLY the
    * partitions past `maxFiles` (hash-repartition on the partition
    * column → one task and one file per rewritten list, all in
    * parallel — the A14 discipline), leaving every other partition's
    * files byte-identical. Content is unchanged by construction
    * (localCheckpoint pins the rows; dynamic overwrite swaps only
    * the rewritten partitions). Returns the compacted centroid ids.
    */
  private[graft] def ivfCompact(s: SparkSession, indexPath: String,
      maxFiles: Int = 4): Seq[Int] = {
    val lists = s"$indexPath/lists"
    val root = new org.apache.hadoop.fs.Path(lists)
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    val fragmented = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("centroid_id="))
      .filter(st => fs.listStatus(st.getPath)
        .count(_.getPath.getName.endsWith(".parquet")) > maxFiles)
      .map(_.getPath.getName.stripPrefix("centroid_id=").toInt)
    if (fragmented.isEmpty) return Nil
    val staged = graft.sources.GraftIO.readParquet(s, lists)
      .where(col("centroid_id").isin(fragmented.map(Int.box): _*))
      .repartition(col("centroid_id"))
      .localCheckpoint(true) // the swap deletes the files it reads
    try staged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("centroid_id").parquet(lists)
    finally graft.GraftSession.releaseCheckpoint(staged)
    fragmented.sorted
  }

  /** The epoch-split incremental IVF query: the historical 4/5 of the
    * corpus builds the index (training on ITS hash sample), the "new
    * batch" (every 5th vector) is absorbed via `ivfAppend`, and the
    * search runs over the merged index — same serve path as
    * `ivfPersistedTopk`.
    */
  def ivfIncrementalTopk(s: SparkSession, dir: String,
      nCentroids: Int = 16, nProbe: Int = 4,
      indexPath: Option[String] = None): DataFrame = {
    val idx = indexPath.getOrElse(graft.sources.GraftSink.scratchDir + "/ivf_inc")
    val e = emb(s, dir)
    val isNewEpoch = pmod(col("vec_id"), lit(5L)) === 0L
    val historical = e.where(!isNewEpoch).grainCache()
    val trained = kmeansCentroids(trainingSample(historical), nCentroids, iters = 2)
    s.createDataFrame(trained.toIndexedSeq).toDF("centroid_id", "c_emb")
      .write.mode("overwrite").parquet(s"$idx/centroids")
    assignCentroids(historical, trained)
      .select(col("vec_id"), col("emb"), col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id").parquet(s"$idx/lists")
    historical.unpersist()
    ivfAppend(s, idx, e.where(isNewEpoch))
    serveIvf(s, dir, idx, nProbe)
  }

  /** Serve a persisted IVF index: probe the top-nProbe centroid lists
    * via partition pruning — shared by the one-shot persisted form and
    * the incremental form.
    */
  private[graft] def serveIvf(s: SparkSession, dir: String, idx: String,
      nProbe: Int): DataFrame = {
    val centroids = broadcast(graft.sources.GraftIO.readParquet(s, s"$idx/centroids"))
    val q = emb(s, dir).where(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
    val probes = q.join(centroids, expr("true"))
      .select(col("query_id"), col("q_emb"), col("centroid_id"),
        VectorFns.cosine(col("q_emb"), col("c_emb")).as("c_cos"))
    val wProbe = Window.partitionBy("query_id").orderBy(col("c_cos").desc, col("centroid_id"))
    val probed = probes.withColumn("rn", row_number().over(wProbe))
      .where(col("rn") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("centroid_id"))
    val probedIds = probed.select("centroid_id").distinct()
      .collect().map(_.getAs[Number](0).intValue).sorted
    val lists = graft.sources.GraftIO.readParquet(s, s"$idx/lists")
      .where(col("centroid_id").isin(probedIds.toIndexedSeq.map(Int.box): _*))
    val scored = probed.join(lists, Seq("centroid_id"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        VectorFns.cosine(col("q_emb"), col("emb")).as("cos_raw"))
    val w = Window.partitionBy("query_id").orderBy(col("cos_raw").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= K)
      .select(col("query_id"), col("neighbor_id"), round(col("cos_raw"), 4).as("cos"))
      .orderBy("query_id", "neighbor_id")
  }

  /** D18: ANN recall AUDIT — the serving-quality number every
    * production vector store must MEASURE, not assume: an approximate
    * index silently degrades (drifting absorbs, deletions hollowing
    * lists, an nprobe set too low for how the corpus actually
    * clusters) and nothing in the serving path ever errors. The audit
    * runs the exact brute-force top-k and the index's own probe path
    * over the SAME deterministic query sample, counts the overlap,
    * and persists recall@k as an exact micro-integer under
    * `$index/_recall/` — a one-row sidecar the A34 advisor reads
    * metadata-only (`adviseVectorRecall`: below-floor → rebuild
    * advice; missing → audit advice; re-audit after retrain clears
    * it). Cost: one corpus scan (the brute-force side) — a scheduled
    * maintenance job, not a serving-path tax; probing EVERY list
    * (nProbe = nlists) must measure exactly 1.0, which the spec pins.
    */
  def ivfRecallAudit(s: SparkSession, dir: String, indexPath: String,
      nProbe: Int = 4): Long = {
    val bf = bruteForceTopk(s, dir).select("query_id", "neighbor_id")
      .localCheckpoint(true) // reused: the expected count + the overlap
    try {
      val served = serveIvf(s, dir, indexPath, nProbe)
        .select("query_id", "neighbor_id")
      val expected = bf.count()
      val matched = bf.join(served, Seq("query_id", "neighbor_id"), "left_semi")
        .count()
      val recallMicro = matched * 1000000L / expected
      import s.implicits._
      Seq((recallMicro, expected, matched, nProbe))
        .toDF("recall_micro", "n_expected", "n_matched", "n_probe")
        .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$indexPath/_recall")
      recallMicro
    } finally graft.GraftSession.releaseCheckpoint(bf)
  }

  /** D2 (persisted-index form): same IVF search as `ivfTopk`, but the
    * inverted lists are PERSISTED partitioned by centroid_id and the
    * probe reads only the probed partitions — `.where(centroid_id IN
    * probed)` compiles to hive-partition pruning, so the probe scan
    * touches nprobe/nlist of the stored corpus (asserted in the
    * plan spec). The probed-centroid id set is a ≤ NQueries×nprobe
    * int collect — the classic tiny broadcast-able artifact. Results
    * are identical to `ivfTopk` (same deterministic training).
    */
  def ivfPersistedTopk(s: SparkSession, dir: String,
      nCentroids: Int = 16, nProbe: Int = 4,
      indexPath: Option[String] = None): DataFrame = {
    // deterministic scratch path (mode=overwrite in the build), so a
    // long-lived session re-running the query reuses one index
    // location instead of leaking a fresh temp copy per invocation.
    val idx = indexPath.getOrElse(graft.sources.GraftSink.scratchDir + "/ivf_index")
    val centroids = buildIvfIndex(s, dir, nCentroids, idx)
    val q = emb(s, dir).where(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
    val probes = q.join(centroids, expr("true"))
      .select(col("query_id"), col("q_emb"), col("centroid_id"),
        VectorFns.cosine(col("q_emb"), col("c_emb")).as("c_cos"))
    val wProbe = Window.partitionBy("query_id").orderBy(col("c_cos").desc, col("centroid_id"))
    val probed = probes.withColumn("rn", row_number().over(wProbe))
      .where(col("rn") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("centroid_id"))
    val probedIds = probed.select("centroid_id").distinct()
      .collect().map(_.getInt(0)).sorted
    val lists = graft.sources.GraftIO.readParquet(s, idx)
      .where(col("centroid_id").isin(probedIds.toIndexedSeq.map(Int.box): _*))
    val scored = probed.join(lists, Seq("centroid_id"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        VectorFns.cosine(col("q_emb"), col("emb")).as("cos_raw"))
    val w = Window.partitionBy("query_id").orderBy(col("cos_raw").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= K)
      .select(col("query_id"), col("neighbor_id"), round(col("cos_raw"), 4).as("cos"))
      .orderBy("query_id", "neighbor_id")
  }

  /** D-section SQL surface (driver-checked): the same probe-the-index
    * top-k, issued ENTIRELY through SQL via the `graft_knn_ivf` table
    * function — what a SQL-only user of the catalog runs. Builds the
    * persisted index once, then one TVF call per query vector (the
    * vector rides as a SQL array literal, exactly the API shape).
    * K+1-then-drop-self matches the Scala API's self-exclusion.
    */
  def sqlTopk(s: SparkSession, dir: String): DataFrame = {
    val idx = graft.sources.GraftSink.scratchDir + "/ivf_index_sql"
    buildIvfIndex(s, dir, 16, idx)
    sqlTopkDriver(s, dir,
      (vecSql, k) => s"graft_knn_ivf('$idx', $vecSql, $k, 4)")
  }

  /** Shared driver for the SQL-TVF serve queries: the standard query
    * vectors run one at a time through the given TVF call (a TVF's
    * arguments are literals by contract), self-matches drop, results
    * union — ONE formatting/drop-self/ordering rule for every
    * index-family TVF (ivf, pq, ...), never a per-family copy.
    */
  private def sqlTopkDriver(s: SparkSession, dir: String,
      tvfCall: (String, Int) => String): DataFrame = {
    val qs = emb(s, dir).where(col("vec_id") < NQueries)
      .select("vec_id", "emb").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    qs.map { case (qid, v) =>
      val vecSql = v.map(d => java.lang.Double.toString(d))
        .mkString("array(", ",", ")")
      s.sql(s"SELECT CAST($qid AS BIGINT) AS query_id, neighbor_id, cos " +
          s"FROM ${tvfCall(vecSql, K + 1)}")
        .where(col("neighbor_id") =!= qid)
        .orderBy(col("cos").desc, col("neighbor_id")).limit(K)
    }.reduce(_ unionByName _)
      .orderBy("query_id", "neighbor_id")
  }

  /** D4: int8 symmetric quantization of embeddings (per-vector scale
    * = max|x|/127) with dequantization-error accounting — the 4x
    * storage/bandwidth reduction step of a large embedding store.
    */
  def quantizeInt8(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val scale = array_max(transform(col("emb"), x => abs(x))) / 127.0
    // floor-based arithmetic only: Spark round() goes through
    // BigDecimal.valueOf (shortest decimal repr) while other engines
    // round the binary double — floor(x+0.5) and floor(x*1e6) are
    // bit-identical everywhere.
    e.withColumn("scale", scale)
      .select(
        col("vec_id"),
        floor(col("scale") * 1e6).cast("long").as("scale_micro"),
        floor(array_max(transform(col("emb"),
          x => abs(floor(x / col("scale") + 0.5) * col("scale") - x))) * 1e6)
          .cast("long").as("max_err_micro"))
      .orderBy("vec_id")
  }

  /** D7: 1-bit (sign) quantization — the extreme end of the D4
    * compression ladder: a 64-dim float vector becomes 64 BITS (256×
    * smaller), the coordinate-hyperplane case of Charikar's sign
    * LSH, and Hamming distance (xor + popcount on ONE register) is
    * the angular-distance proxy every binary-embedding retrieval
    * system scans with. The packed signature is emitted as two
    * 32-bit halves so the integer sums stay far from BIGINT edges in
    * every engine (bit 63 of one long would go negative in Java and
    * overflow DuckDB's 2^63 literal); `sign(float) > 0` is exact, so
    * the whole table is value-exact cross-engine. Map-only scan.
    */
  def signQuantize(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    def half(lowBit: Int): org.apache.spark.sql.Column =
      (0 until 32).map { i =>
        when(element_at(col("emb"), lowBit + i + 1) > 0.0, lit(1L << i))
          .otherwise(lit(0L))
      }.reduce(_ + _)
    e.select(
      col("vec_id"),
      half(32).as("sig_hi"),
      half(0).as("sig_lo"),
      size(filter(col("emb"), x => x > 0.0)).cast("long").as("n_pos"))
      .orderBy("vec_id")
  }

  /** D5: per-label embedding centroids (mean pooling) — the
    * class-centroid / prototype computation a curation pipeline runs
    * for cluster seeding and drift checks. Elementwise float mean
    * across rows is order-dependent in IEEE double, so the vectors
    * are first fixed-point quantized (micro ints, exact float→double
    * widening) and summed as BIGINTs — bit-identical on any engine
    * and partition layout. Shape: posexplode → partial-agg on
    * (label, dim) → label summary; the shuffle carries labels×dims
    * rows regardless of corpus size.
    */
  def labelCentroids(s: SparkSession, dir: String): DataFrame = {
    val flat = new GraftCatalog(s, dir).table("embeddings")
      .select(col("label"), posexplode(VectorFns.toDoubleArray(col("embedding"))).as(Seq("pos", "x")))
      .select(col("label"), (col("pos") + 1).as("pos"),
        floor(col("x").cast("double") * 1e6 + 0.5).cast("long").as("xm"))
    val perDim = flat.groupBy("label", "pos")
      .agg(sum(col("xm")).as("sm"), count(lit(1)).as("n"))
      .select(col("label"), col("pos"), col("n"),
        floor(col("sm").cast("double") / col("n")).cast("long").as("c_micro"))
    perDim.groupBy("label")
      .agg(
        max(col("n")).as("n_vecs"),
        sum(col("c_micro") * col("c_micro")).as("norm2_micro2"),
        min(col("c_micro")).as("min_dim"),
        max(col("c_micro")).as("max_dim"),
        max(when(col("pos") === 1, col("c_micro"))).as("dim1_micro"))
      .orderBy("label")
  }

  /** D6: product-quantization ANN (the PQ of Jégou et al., TPAMI
    * 2011, adapted to cosine by normalizing first): each unit vector
    * splits into M=4 16-dim subvectors, each subspace gets its own
    * 16-entry L2 codebook trained on the deterministic hash sample →
    * the corpus is a 4-nibble code per vector (128× smaller than the
    * double array). A query scores codes through an ADC lookup table
    * (M×16 partial dot products per query — a driver artifact like
    * the IVF centroids), so the scan side is a map-only aggregate
    * over tiny codes with ZERO shuffle before the per-query top-k
    * heap; the ADC shortlist (10×K) is then reranked with exact
    * cosine — the production shape (compressed scan, exact rerank on
    * a sliver).
    *
    * Scale: at 100 TB the PQ codes for 10^11 vectors fit in ~0.4 TB —
    * scannable where the raw vectors are not; training and codebooks
    * never touch the full corpus (hash sample only).
    */
  /** Trains the M per-subspace PQ codebooks JOINTLY: the training
    * sample explodes once to (vec_id, sub, subvector) and each Lloyd
    * round assigns every row against its own subspace's codebook
    * ([[subspaceCode]], still the map-side argmin shape) — then
    * re-means per (sub, centroid, dim) in one shuffle. One job per
    * round for ALL subspaces. Deterministic
    * init (k lowest sample vec_ids seed every subspace, same rule as
    * kmeansCentroids); an empty cluster keeps its previous centroid.
    */
  private[graft] def trainSubspaceCodebooks(e: DataFrame, m: Int, subDim: Int,
      ksub: Int, iters: Int): Array[Array[(Int, Seq[Double])]] = {
    import e.sparkSession.implicits._
    val sub = subspaceRows(e, m, subDim)
      .localCheckpoint() // sample-sized; keeps the normalize lineage out of every round
    try {
      // every vec_id contributes exactly m rows, so the first ksub×m
      // rows in (vec_id, sub) order seed all m codebooks in one job
      val seed = sub.orderBy("vec_id", "sub").limit(ksub * m)
        .select(col("sub"), col("vec_id"), col("emb"))
        .as[(Int, Long, Seq[Double])].collect()
      var books: Array[Array[(Int, Seq[Double])]] = (0 until m).toArray.map { mi =>
        seed.filter(_._1 == mi).sortBy(_._2).zipWithIndex
          .map { case ((_, _, v), i) => (i, v) }
      }
      for (_ <- 0 until iters) {
        val updated = sub
          .withColumn("code", subspaceCode(books))
          .select(col("sub"), col("code"), posexplode(col("emb")).as(Seq("dim", "v")))
          .groupBy("sub", "code", "dim").agg(avg("v").as("mn"))
          .groupBy("sub", "code")
          .agg(array_sort(collect_list(struct(col("dim"), col("mn")))).as("dims"))
          .select(col("sub"), col("code"), expr("transform(dims, d -> d.mn)").as("c_emb"))
          .as[(Int, Int, Seq[Double])].collect()
          .groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3).toMap).toMap
        books = books.zipWithIndex.map { case (book, mi) =>
          val up = updated.getOrElse(mi, Map.empty[Int, Seq[Double]])
          book.map { case (id, prev) => (id, up.getOrElse(id, prev)) }
        }
      }
      books
    } finally graft.GraftSession.releaseCheckpoint(sub)
  }

  /** The training sample exploded to one (vec_id, sub, emb) row per
    * subspace: the rows each codebook round assigns.
    */
  private[graft] def subspaceRows(e: DataFrame, m: Int, subDim: Int): DataFrame =
    trainingSample(e).select(col("vec_id"),
      explode(array((0 until m).map(mi =>
        struct(lit(mi).as("sub"),
          slice(col("nemb"), mi * subDim + 1, subDim).as("emb"))): _*)).as("s"))
      .select(col("vec_id"), col("s.sub").as("sub"), col("s.emb").as("emb"))

  /** Each row's nearest code in its own subspace's codebook: the
    * NATIVE per-subspace argmin (SubspaceNearestExpr). The codebooks
    * ride the codegen references array, so a round's generated code is
    * round-invariant (codegen cache hits) and the argmin is one
    * primitive loop; ties go to the smallest code, as in the literal
    * HOF form it is spec-asserted bit-identical to.
    */
  private[graft] def subspaceCode(books: Array[Array[(Int, Seq[Double])]]): Column =
    Bridge.column(graft.functions.SubspaceNearestExpr(
      Bridge.expression(col("emb")), Bridge.expression(col("sub")),
      books.map(_.map(_._1)), books.map(_.map(_._2.toArray))))

  /** nemb = emb / ‖emb‖ with the norm HOISTED to its own column: a
    * `transform` lambda re-evaluates any subexpression per ELEMENT
    * (codegen does not hoist out of higher-order functions), so
    * dividing by `VectorFns.norm(col)` inline is O(d²) per row on a
    * corpus pass — 64×64 multiply-adds instead of 64+64.
    */
  private def withNormalized(e: DataFrame): DataFrame =
    // zero-norm guard via max(norm, minPositiveDouble): a zero vector
    // divides 0/4.9e-324 = 0 and stays all-zero instead of going NaN —
    // the same degradation the query-side normalize in pqPersistedTopk
    // applies. r17: one native loop (L2NormalizeExpr — norm computed
    // once, then the divides), replacing the hoisted-norm HOF chain it
    // is spec-asserted bit-identical to; the HOF form interpreted ~130
    // boxed lambda calls per row on every corpus pass.
    e.withColumn("nemb", VectorFns.normalize(col("emb")))

  /** Per-subspace ADC lookup tables for ONE normalized query: table
    * position j (consumed as `element_at(t, code + 1)`) =
    * dot(query subslice, the codebook centroid with code j) — codes
    * sorted ascending, the ONE positional convention both PQ serve
    * paths share (a second hand-rolled copy would drift).
    */
  private def adcTables(books: Array[Array[(Int, Seq[Double])]],
      qn: Seq[Double], m: Int, subDim: Int): Seq[Seq[Double]] =
    (0 until m).map { mi =>
      val qs = qn.slice(mi * subDim, (mi + 1) * subDim)
      books(mi).sortBy(_._1).map { case (_, c) =>
        qs.zip(c).map { case (a, b) => a * b }.sum
      }.toSeq
    }

  def pqTopk(s: SparkSession, dir: String,
             m: Int = 4, ksub: Int = 16, shortlist: Int = 10 * K): DataFrame = {
    val subDim = 64 / m
    val e = withNormalized(emb(s, dir)).grainCache()
    // per-subspace L2 codebooks, trained on the ~10% hash sample —
    // ALL subspaces per Lloyd round in ONE job (rows exploded to
    // (vec_id, sub, subvector), codebook looked up per-row from a
    // literal array-of-codebooks): 1 init + `iters` jobs total
    // instead of m×(1+iters) sequential tiny jobs, which at 31-query
    // bench granularity is the difference between a ~1s and a ~5s
    // training phase.
    val books: Array[Array[(Int, Seq[Double])]] =
      trainSubspaceCodebooks(e, m, subDim, ksub, iters = 3)
    // encode: M map-side argmins → a tiny code array per vector
    val coded = (0 until m).foldLeft(e) { (df, mi) =>
      assignCentroidsL2(
        df.withColumn("emb", slice(col("nemb"), mi * subDim + 1, subDim)),
        books(mi)).withColumnRenamed("centroid_id", s"code_$mi")
    }.select(col("vec_id"), col("nemb"),
      array((0 until m).map(mi => col(s"code_$mi")): _*).as("codes"))
    // ADC tables: per query, per subspace, dot(query_sub, centroid_j)
    import s.implicits._
    val qRows = e.where(col("vec_id") < NQueries)
      .select(col("vec_id"), col("nemb")).as[(Long, Seq[Double])].collect()
    val adc = qRows.toSeq.map { case (qid, q) =>
      (qid, q, adcTables(books, q, m, subDim))
    }
    val queries = adc.toDF("query_id", "q_emb", "adc")
    // codebooks + ADC tables are built (all driver-side consumers of
    // the cache have run); release it — the final scan recomputes the
    // normalize projection in one pass, which is cheaper than holding
    // corpus-sized storage memory across a multi-query session.
    e.unpersist()
    // ADC scan + shortlist carry ONLY the proxy (guide §2.3 project-
    // before-the-exchange, §8 move-heavy-bytes-once): the former plan
    // pushed corpus×queries rows still carrying nemb + q_emb + the ADC
    // tables (~1.5 KB/row — at 10× data that exchange IS the query,
    // r15/r16 ScaleBench 17.3 s) through the shortlist window. The
    // shortlist DECISION needs (query_id, vec_id, adc_score) — ~24
    // B/row; the vectors re-attach to the 10·K-per-query sliver via
    // broadcast joins (zero corpus shuffle — one extra narrow corpus
    // scan for the rerank side, the same two-artifact shape
    // pqPersistedTopk already serves). Scores, tie-breaks and the
    // rerank arithmetic are the same expressions over the same values
    // — output-identical.
    val scored = coded.select(col("vec_id"), col("codes"))
      .join(broadcast(queries.select(col("query_id"), col("adc"))),
        col("vec_id") =!= col("query_id"))
      // native lookup-sum (AdcScoreExpr), bit-identical to the
      // aggregate(zip_with(element_at)) HOF it replaces (spec)
      .withColumn("adc_score",
        Bridge.column(AdcScoreExpr(Bridge.expression(col("adc")),
          Bridge.expression(col("codes")))))
      .select(col("query_id"), col("vec_id"), col("adc_score"))
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("adc_score").desc, col("vec_id"))
    val wExact = Window.partitionBy("query_id")
      .orderBy(col("cos_raw").desc, col("neighbor_id"))
    val short = scored.withColumn("rn", row_number().over(wAdc))
      .where(col("rn") <= shortlist)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    e.select(col("vec_id").as("neighbor_id"), col("nemb"))
      .join(broadcast(short), Seq("neighbor_id"))
      .join(broadcast(queries.select(col("query_id"), col("q_emb"))),
        Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        VectorFns.dot(col("q_emb"), col("nemb")).as("cos_raw"))
      .withColumn("rk", row_number().over(wExact))
      .where(col("rk") <= K)
      .select(col("query_id"), col("neighbor_id"), round(col("cos_raw"), 4).as("cos"))
      .orderBy("query_id", "neighbor_id")
  }

  /** D6 (persisted form, r15 late): train-once PQ index — the
    * subspace codebooks AND the corpus's code table persist under
    * `indexPath`, so a later session (or the `graft_knn_pq` SQL TVF)
    * serves ADC top-k with ZERO training or encode work per query.
    * The codes table IS the compression story: m small ints per
    * vector instead of the 64-dim embedding, so the per-query corpus
    * pass reads a ~16× narrower artifact; exact-cosine rerank then
    * touches only the shortlist (broadcast-joined back against the
    * source embeddings, projected to (vec_id, emb)). Layout:
    * `codes/` (vec_id, codes ARRAY<INT>), `_codebooks/` (sub, code,
    * c_emb), `_meta/` (source, m, sub_dim) — `_`-dirs invisible to
    * list readers, the A31/_centroids sidecar convention.
    */
  def buildPqIndex(s: SparkSession, dir: String, indexPath: String,
      m: Int = 4, ksub: Int = 16): Unit = {
    val subDim = 64 / m
    val e = withNormalized(emb(s, dir)).grainCache()
    val books = trainSubspaceCodebooks(e, m, subDim, ksub, iters = 3)
    val coded = (0 until m).foldLeft(e) { (df, mi) =>
      assignCentroidsL2(
        df.withColumn("emb", slice(col("nemb"), mi * subDim + 1, subDim)),
        books(mi)).withColumnRenamed("centroid_id", s"code_$mi")
    }.select(col("vec_id"),
      array((0 until m).map(mi => col(s"code_$mi")): _*).as("codes"))
    // the code table lands in 16 hash(vec_id) bucket dirs: serving
    // reads them all (the ADC pass is a full code-table scan by
    // design), but the D13 forget leg (`pqDelete`) COW-rewrites only
    // the AFFECTED buckets — O(churn/16 of the narrow table), never
    // the whole index
    coded.withColumn(PqBucketCol, pmod(hash(col("vec_id")), lit(16)))
      .write.mode("overwrite").partitionBy(PqBucketCol)
      .parquet(s"$indexPath/codes")
    import s.implicits._
    books.zipWithIndex.toSeq
      .flatMap { case (book, mi) => book.map { case (cid, c) => (mi, cid, c) } }
      .toDF("sub", "code", "c_emb")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/_codebooks")
    Seq((dir, m, subDim)).toDF("source", "m", "sub_dim")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/_meta")
    e.unpersist()
  }

  /** Serve ONE literal query from the persisted PQ index: the m×ksub
    * codebook artifact reloads driver-side (bounded — no corpus job
    * at plan time), ADC tables for the normalized query are computed
    * there, the codes scan TakeOrders the `shortlist` best ADC scores
    * (map-side lookup arithmetic only), and the exact-cosine rerank
    * broadcast-joins the shortlist against the source embeddings.
    * Same output contract as the other persisted serves:
    * (neighbor_id, cos round 4), best-first, ties by id. The
    * `graft_knn_pq` TVF wraps exactly this plan.
    */
  def pqPersistedTopk(s: SparkSession, indexPath: String, q: Seq[Double],
      k: Int, shortlist: Int = -1): DataFrame = {
    // the shortlist must SCALE with the requested k (a fixed cap
    // would silently return fewer than k rows past it and degrade
    // recall near it): default -1 = 10× oversampling with a floor of
    // 100 candidates; an explicit non-positive value refuses loudly
    // rather than silently meaning "default"
    require(shortlist == -1 || shortlist > 0,
      s"[GRAFT] pqPersistedTopk: shortlist must be positive, got $shortlist")
    val sl = if (shortlist > 0) shortlist else math.max(100, 10 * k)
    val meta = graft.sources.GraftIO.readParquet(s, s"$indexPath/_meta").head()
    val source = meta.getString(0)
    val m = meta.getInt(1)
    val subDim = meta.getInt(2)
    require(q.length == m * subDim,
      s"[GRAFT] pqPersistedTopk: query dim ${q.length} != ${m * subDim}")
    val flat = graft.sources.GraftIO.readParquet(s, s"$indexPath/_codebooks")
      .select("sub", "code", "c_emb").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    require(flat.nonEmpty,
      s"[GRAFT] pqPersistedTopk: no _codebooks artifact under $indexPath " +
        "- build the index with Similarity.buildPqIndex first")
    val books: Array[Array[(Int, Seq[Double])]] = (0 until m).toArray.map {
      mi => flat.filter(_._1 == mi).map(t => (t._2, t._3)) }
    // codebooks were trained on NORMALIZED vectors; the ADC tables
    // must slice the normalized query or scores drift from training
    val qn = {
      val n = math.sqrt(q.map(x => x * x).sum)
      if (n == 0.0) q else q.map(_ / n)
    }
    val tables = adcTables(books, qn, m, subDim)
    val short = graft.sources.GraftIO.readParquet(s, s"$indexPath/codes")
      // native lookup-sum (AdcScoreExpr) over the literal tables —
      // bit-identical to the aggregate(zip_with(element_at)) HOF
      .withColumn("adc_score",
        Bridge.column(AdcScoreExpr(
          Bridge.expression(typedlit(tables)),
          Bridge.expression(col("codes")))))
      .orderBy(col("adc_score").desc, col("vec_id")).limit(sl)
      .select(col("vec_id"))
    emb(s, source)
      .join(broadcast(short), Seq("vec_id"))
      .select(col("vec_id").cast("long").as("neighbor_id"),
        VectorFns.cosine(col("emb"), typedlit(q)).as("cos_raw"))
      .orderBy(col("cos_raw").desc, col("neighbor_id")).limit(k)
      .select(col("neighbor_id"), round(col("cos_raw"), 4).as("cos"))
  }

  /** The D6 SQL-surface driver query (rows-only): build the PQ index
    * once in scratch, then serve every standard query through
    * `graft_knn_pq` — spec'd VALUE-IDENTICAL to `pqPersistedTopk`
    * and recall-banded vs brute force.
    */
  def sqlPqTopk(s: SparkSession, dir: String): DataFrame = {
    val idx = graft.sources.GraftSink.scratchDir + "/pq_index_sql"
    buildPqIndex(s, dir, idx)
    sqlTopkDriver(s, dir,
      (vecSql, k) => s"graft_knn_pq('$idx', $vecSql, $k)")
  }

  /** D3: random-hyperplane LSH ANN — 8-bit signatures (256 buckets);
    * queries search only their own bucket.
    */
  def lshTopk(s: SparkSession, dir: String): DataFrame = {
    val planes = VectorFns.hyperplanes(8, 64)
    val e = emb(s, dir).withColumn("bucket", VectorFns.lshBucket(col("emb"), planes))
    val q = e.where(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"), col("bucket"))
    val scored = e.join(broadcast(q), Seq("bucket"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        VectorFns.cosine(col("q_emb"), col("emb")).as("cos_raw"))
    val w = Window.partitionBy("query_id").orderBy(col("cos_raw").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= K)
      .select(col("query_id"), col("neighbor_id"), round(col("cos_raw"), 4).as("cos"))
      .orderBy("query_id", "neighbor_id")
  }
}
