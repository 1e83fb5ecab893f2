package graft.operators

import graft.GraftSession.GrainOps
import graft.functions.{TextFns, VectorFns}
import graft.sources.GraftCatalog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.C deduplication operators over the `documents` / `embeddings`
  * tables.
  *
  * Scale design (100 TB): every variant is
  *   map-side signature → one shuffle on the bucket key →
  *   bounded within-bucket pair join → verification.
  * Algorithms: MinHash resemblance (Broder, 1997), SimHash
  * (Charikar, STOC 2002), LSH banding (Leskovec/Rajaraman/Ullman,
  * Mining of Massive Datasets ch.3), set-similarity join staging per
  * V-SMART-Join (Metwally & Faloutsos, VLDB 2012 — see PAPERS.md).
  * Signatures (minhash lanes, simhash bits, LSH buckets) are computed
  * in a single pass with codegen-friendly expressions, so the only
  * wide exchange is the bucket join; candidate pairs are deduped
  * before any expensive verification.
  */
object Dedup {

  private def docs(s: SparkSession, dir: String): DataFrame =
    new GraftCatalog(s, dir).table("documents")

  /** Default within-bucket membership bound for the banding join. */
  private[graft] val DefaultBucketCap = 64

  /** Monotonic suffix so the observed-metric name stays unique even if
    * two candidate stages ever land in one query plan.
    */
  private val guardSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Observed-metric name prefix for the degenerate-bucket guard. */
  private[graft] val GuardMetricPrefix = "graft_lsh_guard"

  /** Per-session registration of the guard-metric logger (weak keys so
    * dropped sessions don't pin the map).
    */
  private val guardLoggerSessions =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Log capped-bucket chain edges as a side effect of the main job —
    * a `QueryExecutionListener` over the `observe()` metric below, so
    * the guard costs zero extra Spark jobs (the previous design ran an
    * eager count() per call site).
    */
  private def ensureGuardLogger(s: SparkSession): Unit = guardLoggerSessions.synchronized {
    if (guardLoggerSessions.add(s)) {
      s.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, m) =>
            if (name.startsWith(GuardMetricPrefix)) {
              val capped = Option(m.getAs[java.lang.Long]("capped_chain_edges"))
                .map(_.longValue).getOrElse(0L)
              if (capped > 0L)
                org.slf4j.LoggerFactory.getLogger(Dedup.getClass).warn(
                  s"[GRAFT] LSH banding: $capped chain edge(s) from buckets over cap — " +
                    "all-pairs degraded to chain pairing (no silent truncation)")
            }
          }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
      })
    }
  }

  /** Candidate pairs from a (bucket-key columns, id) table with a
    * DEGENERATE-BUCKET GUARD: a bucket holding n near-identical
    * members (boilerplate-heavy corpora, hard-clustered embeddings)
    * would emit n²/2 pairs from the naive self-join. Buckets at or
    * under `cap` members get the exact all-pairs join; oversized
    * buckets degrade to CHAIN pairing — consecutive members by id
    * pair up — which is n-1 pairs instead of n²/2 and deterministic.
    * Chain (not star) pairing because connectivity must survive
    * downstream VERIFICATION: in the degenerate case the bucket's
    * members are near-identical, so every consecutive pair verifies;
    * and if one member is a false-positive collider, only its own two
    * edges fail — the chain splits at that member instead of the
    * whole bucket fragmenting (a star loses every edge when the hub
    * is the false positive). Post-verification connectivity remains
    * best-effort: each false positive in a capped bucket cuts the
    * chain once. The number of capped chain edges is observed on the
    * main job (no extra Spark action) and logged — no silent
    * truncation. Returns distinct (id_a, id_b) pairs, id_a < id_b.
    */
  private[graft] def cappedBucketPairs(buckets: DataFrame, bucketCols: Seq[String],
      idCol: String, cap: Int = DefaultBucketCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    ensureGuardLogger(buckets.sparkSession)
    val w = Window.partitionBy(bucketCols.map(col): _*)
    val wOrd = w.orderBy(idCol)
    // both windows share the partition key, so they share one exchange;
    // the three downstream branches reuse it (ReuseExchange).
    val sized = buckets
      .withColumn("bsz", count(lit(1)).over(w))
      .withColumn("prev", lag(idCol, 1).over(wOrd))
    val small = sized.where(col("bsz") <= cap)
    val a = small.select(bucketCols.map(col) :+ col(idCol).as("id_a"): _*)
    val b = small.select(bucketCols.map(col) :+ col(idCol).as("id_b"): _*)
    val allPairs = a.join(b, bucketCols)
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0L).as("capped"))
    val chainPairs = sized.where(col("bsz") > cap && col("prev").isNotNull)
      .select(col("prev").as("id_a"), col(idCol).as("id_b"), lit(1L).as("capped"))
    // dedup candidate pairs BEFORE the (comparatively) expensive
    // signature comparison — a pair colliding in k bands must be
    // scored once, not k times.
    allPairs.unionAll(chainPairs)
      .observe(s"${GuardMetricPrefix}_${guardSeq.incrementAndGet()}",
        sum("capped").as("capped_chain_edges"),
        count(lit(1)).as("candidate_edges"))
      .select("id_a", "id_b").distinct()
  }

  /** `cappedBucketPairs` over the exploded minhash/simhash band table
    * (band_idx, band_hash, doc_id) — the banding-join entry point of
    * the C2/C3/C4/C6 pipelines.
    */
  private[graft] def bandCandidates(exploded: DataFrame, cap: Int = DefaultBucketCap): DataFrame =
    cappedBucketPairs(exploded, Seq("band_idx", "band_hash"), "doc_id", cap)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))

  /** C1: exact dedup — hash-groupBy on full text, keep min doc_id.
    * (At 100 TB: group on xxhash64(text)+length first, verify text
    * equality within hash groups; here text fits the group key.)
    */
  def exactDedup(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy("text")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
      .orderBy("doc_id")

  /** C15: LSH banding parameter design — the (bands, rows) choice IS
    * the dedup threshold (Leskovec/Rajaraman/Ullman ch.3): a pair of
    * similarity s collides in some band with probability
    * 1−(1−s^r)^b, an S-curve whose midpoint sits at ≈ (1/b)^(1/r).
    * These helpers make the rule explicit: `lshThreshold` reads a
    * configuration's effective threshold, `chooseBands` picks the
    * divisor split of the lane budget whose threshold lands nearest a
    * target (ties → more rows, the steeper curve = fewer borderline
    * false positives to verify). C2's shipped 64 = 16×4 is exactly
    * `chooseBands(64, 0.5)` — the near-dup bar the corpus pipeline
    * wants; a plagiarism-grade 0.8 bar re-splits the same 64 lanes as
    * 8×8 with NO recompute of signatures, only of band hashes.
    */
  def lshThreshold(bands: Int, rows: Int): Double =
    math.pow(1.0 / bands, 1.0 / rows)

  def lshCollisionProb(sim: Double, bands: Int, rows: Int): Double =
    1.0 - math.pow(1.0 - math.pow(sim, rows), bands)

  def chooseBands(nLanes: Int, target: Double): (Int, Int) = {
    require(nLanes > 0 && target > 0.0 && target < 1.0,
      s"[GRAFT] chooseBands($nLanes, $target)")
    val splits = (1 to nLanes).filter(nLanes % _ == 0)
      .map(b => (b, nLanes / b))
    splits.minBy { case (b, r) => (math.abs(lshThreshold(b, r) - target), -r) }
  }

  /** Signature table shared by the minhash pipeline: doc_id, shingle
    * set, 64-lane minhash, 16 band hashes.
    */
  private[operators] def minhashSignatures(s: SparkSession, dir: String): DataFrame = {
    // cache(): CollapseProject would otherwise inline the whole
    // text→shingles→64-lane pipeline into EVERY downstream reference —
    // each candidate pair would re-tokenize both documents. At scale
    // this materialization is the signature table you would persist.
    docs(s, dir)
      .select(col("doc_id"), array_distinct(TextFns.textShingleHashes(col("text"), 3)).as("hashes"))
      .withColumn("sig", TextFns.minhashSignature(col("hashes"), 64))
      .withColumn("bands", TextFns.bandHashes(col("sig"), 16, 4))
      .grainCache()
  }

  /** C2: MinHash+LSH near-dup: shingle → 64-lane minhash → 16 bands ×
    * 4 rows → bucket self-join → estimated-Jaccard ranking.
    * Top-200 candidate pairs by estimated Jaccard (deterministic order).
    */
  def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    val sigs = minhashSignatures(s, dir)
    val exploded = sigs.select(col("doc_id"),
      posexplode(col("bands")).as(Seq("band_idx", "band_hash")))
    val candidates = bandCandidates(exploded)
    candidates
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        TextFns.estJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .orderBy(col("est_jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(200)
  }

  /** C3: SimHash near-dup: 64-bit signature, 4×16-bit band buckets
    * (hamming ≤ 3 ⇒ some band collides), pairs ranked by hamming.
    */
  def simhash(s: SparkSession, dir: String): DataFrame = {
    // materialize token hashes first: the 64 bit-count aggregates each
    // reference the cached array instead of re-tokenizing the text 64x.
    val hashes = docs(s, dir)
      .select(col("doc_id"), TextFns.textShingleHashes(col("text"), 1).as("hashes"))
      .grainCache()
    val sigs = hashes
      .select(col("doc_id"), TextFns.simhash64(col("hashes")).as("sig"))
      .withColumn("bands", TextFns.simhashBands(col("sig")))
      .grainCache()
    val exploded = sigs.select(col("doc_id"),
      posexplode(col("bands")).as(Seq("band_idx", "band_hash")))
    val candidates = bandCandidates(exploded)
    candidates
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        TextFns.hamming64(col("sig_a"), col("sig_b")).as("hamming"))
      .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
      .limit(200)
  }

  /** C4: exact n-gram Jaccard verification join on candidate pairs
    * (candidates from the LSH band buckets, verified against the full
    * shingle sets — the verify step of the C2 pipeline).
    */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    val sigs = minhashSignatures(s, dir)
    val candidates = bandCandidates(
      sigs.select(col("doc_id"),
        posexplode(col("bands")).as(Seq("band_idx", "band_hash"))))
    // verify on the distinct shingle-hash sets: set-Jaccard over longs,
    // ~10x cheaper per pair than string-array intersection (hash
    // collisions at 64 bits are negligible).
    val sh = sigs.select(col("doc_id"), col("hashes"))
    candidates
      .join(sh.select(col("doc_id").as("doc_a"), col("hashes").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("hashes").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(TextFns.exactJaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(200)
  }

  /** C4 (oracle-portable form): exact n-gram Jaccard over STRING
    * 3-shingles on the deterministic ~10% hash-sample (B29 predicate on
    * doc_id), all sampled pairs verified. String shingles (not XXH64
    * hashes) make the whole computation expressible in any ANSI-ish
    * engine, so this form is value-checked end to end against the
    * DuckDB oracle; `ngramJaccard` above is the scale form (LSH
    * candidates + 64-bit hash sets) of the same verify join.
    * Jaccard is emitted as floor(j*1e6) — the ratio of two exact ints
    * divided in IEEE double then floored is bit-identical across
    * engines, where round() is not (see SURVEY.md §6).
    */
  def ngramJaccardExact(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .where(pmod(col("doc_id") * 2654435761L, lit(1000)) < 100)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
    val sh = toks.where(size(col("t")) >= 3)
      // native shingle strings — same strings as the HOF form (spec)
      .select(col("doc_id"),
        array_distinct(TextFns.wordShingleStrings(col("t"), 3)).as("sh"))
      .grainCache() // tiny (sampled); reused as both join sides
    val a = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.join(broadcast(b), col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        floor(size(array_intersect(col("sh_a"), col("sh_b"))) * 1000000.0 /
              size(array_union(col("sh_a"), col("sh_b")))).cast("long").as("jaccard_micro"))
      .orderBy(col("jaccard_micro").desc, col("doc_a"), col("doc_b"))
      .limit(200)
  }

  /** C6: near-dup clusters — candidate edges (estimated Jaccard ≥
    * 0.25) fed to min-label propagation WITH POINTER JUMPING
    * (label := label(label) after each propagate round, the
    * hash-to-min trick of Rastogi et al., "Finding Connected
    * Components in MapReduce"): covered diameter doubles per round,
    * so convergence is O(log diameter) shuffles of the small label
    * table, not O(diameter). That matters because the degenerate-
    * bucket guard emits CHAINS (diameter n-1) for oversized buckets —
    * plain per-hop propagation would need n rounds for a boilerplate
    * cluster. Rounds run until a no-change fixpoint (cheap count on a
    * checkpointed label table), capped at 20 ≈ diameter 10⁶.
    * Cluster id = smallest doc_id in the component.
    */
  def nearDupClusters(s: SparkSession, dir: String): DataFrame = {
    val sigs = minhashSignatures(s, dir)
    val edges = bandCandidates(
      sigs.select(col("doc_id"),
        posexplode(col("bands")).as(Seq("band_idx", "band_hash"))))
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .where(TextFns.estJaccard(col("sig_a"), col("sig_b")) >= 0.25)
      .select("doc_a", "doc_b")
    connectedComponents(sigs.select(col("doc_id")), edges)
  }

  /** Edge-count threshold below which `connectedComponents` collects
    * the edge list and runs union-find on the driver: 2M edges is
    * ~32 MB collected — trivially driver-safe — while the distributed
    * loop's fixed cost (3 shuffles + a checkpoint + a fixpoint scan
    * PER ROUND) is pure overhead at that size.
    */
  private[graft] val DriverCcMaxEdges = 2L * 1000 * 1000

  /** Connected components over an undirected edge list. `allIds` (one
    * `doc_id` column) supplies the universe — nodes with no edges come
    * back as singleton clusters. Cluster id = smallest doc_id in the
    * component.
    *
    * ADAPTIVE by materialized edge count, the way production CC
    * implementations are:
    *  - small graphs (≤ `driverMaxEdges`, known exactly because the
    *    edge list is checkpointed first) collect to the driver and run
    *    union-find with path halving — O(E α(E)), no per-round
    *    shuffles. Near-dup edge lists are usually tiny relative to the
    *    corpus (the LSH guard bounds them), so this is the common case
    *    even at large SF.
    *  - larger graphs run min-label propagation WITH POINTER JUMPING
    *    (label := label(label) after each propagate round, the
    *    hash-to-min trick of Rastogi et al., "Finding Connected
    *    Components in MapReduce"): covered diameter doubles per round,
    *    so convergence is O(log diameter) shuffles of the label table.
    *    That matters because the degenerate-bucket guard emits CHAINS
    *    (diameter n-1) for oversized buckets — plain per-hop
    *    propagation would need n rounds for a boilerplate cluster.
    * Both paths produce identical labels (spec-asserted).
    */
  private[graft] def connectedComponents(allIds: DataFrame, edges: DataFrame,
      driverMaxEdges: Long = DriverCcMaxEdges): DataFrame = {
    // materialize the (comparatively tiny) edge list once: truncates
    // the upstream LSH lineage out of every loop iteration AND yields
    // an exact count to pick the path with — not a guess.
    val edgeCp = edges.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .localCheckpoint()
    val labels =
      if (edgeCp.count() <= driverMaxEdges) driverUnionFind(edgeCp)
      else distributedLabelProp(edgeCp)
    // both paths have materialized what they need (driver map / their
    // own checkpoints) — the edge snapshot's blocks can go.
    graft.GraftSession.releaseCheckpoint(edgeCp)
    val isolated = allIds.select(col("doc_id").cast("long"))
      .join(labels.select("doc_id"), Seq("doc_id"), "left_anti")
      .withColumn("label", col("doc_id"))
    labels.unionAll(isolated)
      .select(col("doc_id"), col("label").as("cluster")).orderBy("doc_id")
  }

  /** Small-graph path: union-find with path halving, smaller root
    * wins — so each component's final root IS its minimum member,
    * matching the distributed min-label semantics exactly.
    */
  private def driverUnionFind(edgeCp: DataFrame): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    edgeCp.collect().foreach { r =>
      val a = r.getLong(0); val b = r.getLong(1)
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val spark = edgeCp.sparkSession
    import spark.implicits._
    parent.keys.toSeq.map(n => (n, find(n))).toDF("doc_id", "label")
  }

  /** At-scale path: min-label propagation with pointer jumping (see
    * `connectedComponents` doc).
    * localCheckpoint (not cache) between rounds: the union+join embeds
    * the previous round's plan twice, so without lineage truncation
    * the logical plan — and planning time — doubles every iteration.
    */
  private def distributedLabelProp(edgeCp: DataFrame): DataFrame = {
    val bidirCp = edgeCp.unionAll(
      edgeCp.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))).localCheckpoint()
    val active = bidirCp.select(col("doc_a").as("doc_id")).distinct()
    var labels = active.withColumn("label", col("doc_id")).localCheckpoint()
    // Convergence detection via a MONOTONE invariant: labels only ever
    // decrease (min-propagation), so the label table is at fixpoint
    // iff sum(label) is unchanged — one cheap scan of the checkpointed
    // table per round instead of a join-with-previous + count (a full
    // extra shuffle per round at scale). decimal(38,0) so the sum
    // cannot overflow at any corpus size.
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val r = df.agg(sum(col("label").cast("decimal(38,0)"))).first()
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    }
    var prevSum = labelSum(labels)
    var converged = false
    var round = 0
    while (!converged && round < 20) {
      val viaNeighbor = bidirCp
        .join(labels.select(col("doc_id").as("doc_b"), col("label")), Seq("doc_b"))
        .select(col("doc_a").as("doc_id"), col("label"))
      val propagated = labels.unionAll(viaNeighbor)
        .groupBy("doc_id").agg(min("label").as("label"))
      // pointer jump: follow the label one more hop (labels are always
      // doc_ids of active nodes, so the self-join is total).
      val jumped = propagated
        .join(propagated.select(col("doc_id").as("label"), col("label").as("jump")),
          Seq("label"), "left")
        .select(col("doc_id"), coalesce(col("jump"), col("label")).as("label"))
        .localCheckpoint()
      val s = labelSum(jumped)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      graft.GraftSession.releaseCheckpoint(labels) // superseded round
      labels = jumped
      round += 1
    }
    graft.GraftSession.releaseCheckpoint(bidirCp) // final labels are checkpointed; edges done
    // same no-silent-truncation philosophy as the bucket guard: a
    // capped-out loop means labels may still be moving — say so.
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(Dedup.getClass).warn(
        s"[GRAFT] connectedComponents: round cap ($round) hit before the label fixpoint — " +
          "returned clusters may be under-merged (component diameter > ~10^6)")
    labels
  }

  /** C6 (oracle-portable form): near-dup clustering over the FULL
    * corpus with an engine-portable candidate generator — for each
    * document the 4 lexicographically smallest string 3-shingles are
    * its blocking keys (a derandomized MinHash: two sets with Jaccard
    * j share their global minimum with probability j, and the top-4
    * mins give four such chances), documents sharing a key become
    * candidate pairs, and a pair is an edge iff its exact shingle-set
    * Jaccard is ≥ 0.5, tested in pure integers (2·|A∩B| ≥ |A∪B|) so
    * no floating point can diverge between engines. Components are
    * closed by the same pointer-jumping label propagation as
    * `nearDupClusters`; the DuckDB oracle closes them with a
    * recursive CTE over the identical edge list. Scale shape is the
    * LSH pipeline's: map-side keys → one shuffle on the blocking key
    * → bounded within-bucket pairs → verify join — never all-pairs.
    */
  def nearDupClustersExact(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
    val sh = toks.where(size(col("t")) >= 3)
      // native shingle strings (WordShingleStringsExpr): same strings
      // as the transform(sequence)+concat_ws HOF (spec-asserted), one
      // primitive pass instead of an interpreted lambda per shingle —
      // this grain is the top cost of the whole exact-cluster family
      // at sf1 (computed up to 3× per execution by the AQE race below)
      .select(col("doc_id"),
        array_distinct(TextFns.wordShingleStrings(col("t"), 3)).as("sh"))
      // KNOWN RACE, kept: the blocking-key exchange and both verify
      // sides are leaf exchanges AQE materializes in parallel — lazily
      // filled, the shingle pass recomputes 3× (profiled at sf0.1). The
      // duplication hides in idle cores (an eager fill measured as a
      // wall regression — see grainCache), so the fill stays LAZY.
      .grainCache()
    val keys = sh.select(col("doc_id"),
      explode(slice(array_sort(col("sh")), 1, 4)).as("k"))
    // Degenerate-block guard, PORTABLY (the oracle mirrors it):
    // blocks over DefaultBucketCap members degrade from all-pairs to
    // chain pairing by doc_id — n-1 edges instead of n²/2, and for a
    // boilerplate block (near-identical members) every consecutive
    // pair still verifies, so connectivity survives.
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("k")
    val sized = keys
      .withColumn("bsz", count(lit(1)).over(w))
      .withColumn("prev", lag("doc_id", 1).over(w.orderBy("doc_id")))
    val small = sized.where(col("bsz") <= DefaultBucketCap)
    val allPairs = small.select(col("k"), col("doc_id").as("doc_a"))
      .join(small.select(col("k"), col("doc_id").as("doc_b")), Seq("k"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    val chainPairs = sized
      .where(col("bsz") > DefaultBucketCap && col("prev").isNotNull)
      .select(col("prev").as("doc_a"), col("doc_id").as("doc_b"))
    val cand = allPairs.unionAll(chainPairs).distinct()
    // Jaccard ≥ 0.5 as 3·|A∩B| ≥ |A|+|B|: identical to
    // 2·|A∩B| ≥ |A∪B| on the distinct arrays (|A∪B| = |A|+|B|−|A∩B|)
    // but skips materializing the union — array_union built a hash set
    // per candidate pair and was 2.4× the cost of the whole remaining
    // verify stage (measured at sf0.1: 2.14s → 0.89s).
    val edges = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .where(size(array_intersect(col("sh_a"), col("sh_b"))) * 3 >=
             size(col("sh_a")) + size(col("sh_b")))
      .select("doc_a", "doc_b")
    connectedComponents(docs(s, dir).select(col("doc_id")), edges)
  }

  /** Words per span for substring dedup / decontamination. */
  private[graft] val SpanWords = 4

  /** C8/C9 shared machinery: one row per word 4-gram — (doc_id, p
    * [1-based start word], gh [portable span hash]). The hash is a
    * two-level polynomial: word → (fold of char codes, stepwise
    * mod-P) and span → stepwise mod-P fold of its word hashes, every
    * step exact in BIGINT — so DuckDB reproduces the hashes
    * BIT-IDENTICALLY and the whole substring-dedup family is
    * oracle-checkable, unlike the engine-specific xxhash shingles of
    * the C2 family. Computed by the native one-pass
    * `WordSpanHashesExpr` (the per-character HOF formulation it
    * matches bit-for-bit — spec-asserted — interprets two nested
    * lambdas per char and measured ~20× slower); map-only until the
    * caller aggregates, tokenized once per document.
    */
  private[graft] def wordGramHashes(s: SparkSession, dir: String): DataFrame =
    wordGramHashesOf(docs(s, dir))

  private[graft] def wordGramHashesOf(documents: DataFrame): DataFrame =
    documents
      .withColumn("words", expr(
        "filter(split(trim(lower(text)), '\\\\s+'), w -> length(w) > 0)"))
      .withColumn("ghs", TextFns.wordSpanHashes(col("words"), SpanWords))
      .select(col("doc_id"), posexplode(col("ghs")).as(Seq("p0", "gh")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("gh"))

  /** C8: substring-level exact dedup — the cross-document repeated-SPAN
    * pass of the public dedup literature (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better": exact substring
    * matching removes boilerplate the document-level C1-C6 family keeps,
    * because two documents sharing one licence paragraph are not
    * near-dups). A span (word 4-gram) is DUPLICATED when it occurs in
    * more than one document; each document reports its duplicated-span
    * fraction. Scale shape: map-side span hashing (8-byte keys, never
    * strings, through the shuffle), one groupBy(gh) to find repeats, one
    * semi join back, two per-doc aggregates — no pairwise comparison
    * anywhere, so cost is O(total spans), not O(docs²).
    */
  def substringDedup(s: SparkSession, dir: String): DataFrame = {
    val g = wordGramHashes(s, dir).grainCache() // reused: repeat set + both aggs
    val rep = g.groupBy("gh")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .where(col("nd") > 1).select("gh")
    val totals = g.groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
    val dups = g.join(rep, Seq("gh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_spans"))
    docs(s, dir).select("doc_id")
      .join(totals, Seq("doc_id"), "left")
      .join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        floor(coalesce(col("n_dup_spans"), lit(0L)).cast("double") * 1000000.0 /
              greatest(coalesce(col("n_spans"), lit(0L)), lit(1L)))
          .cast("long").as("dup_micro"))
      .orderBy("doc_id")
  }

  /** C8 (removal form): rewrite each document WITHOUT its cross-doc
    * duplicated spans — every word covered by any repeated 4-gram is
    * dropped and the survivors re-joined. Coverage is computed
    * relationally (dup span starts → explode the 4 covered indices →
    * distinct → per-doc sorted index list), so the rewrite stays one
    * pass over the corpus plus the same O(total spans) span joins as
    * the stats form; the per-doc covered list is bounded by document
    * length, the same class as the document itself.
    */
  def substringRemoval(s: SparkSession, dir: String): DataFrame = {
    val g = wordGramHashes(s, dir).grainCache()
    val rep = g.groupBy("gh")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .where(col("nd") > 1).select("gh")
    val covered = g.join(rep, Seq("gh"), "left_semi")
      .select(col("doc_id"),
        explode(expr(s"sequence(p, p + ${SpanWords - 1})")).as("idx"))
      .distinct()
      .groupBy("doc_id").agg(sort_array(collect_list("idx")).as("cov"))
    docs(s, dir)
      .withColumn("words", expr(
        "filter(split(trim(lower(text)), '\\\\s+'), w -> length(w) > 0)"))
      .join(covered, Seq("doc_id"), "left")
      .withColumn("cov", coalesce(col("cov"), expr("cast(array() as array<bigint>)")))
      .select(col("doc_id"),
        size(col("words")).cast("long").as("n_words"),
        size(col("cov")).cast("long").as("n_removed"),
        expr("concat_ws(' ', filter(words, (w, i) -> NOT array_contains(cov, i + 1)))")
          .as("cleaned_text"))
      .orderBy("doc_id")
  }

  /** Deterministic stand-in for the held-out benchmark/eval table the
    * decontamination gate protects (the corpus ships no eval set):
    * every 97th document. Callers treat it as the small trusted side.
    */
  private[graft] def isBenchDoc = pmod(col("doc_id"), lit(97)) === 0

  /** The eval set's distinct span hashes as a driver artifact for the
    * streaming gate (G9) — O(|eval set|), the same class as broadcast
    * centroids.
    */
  def evalSpanHashes(s: SparkSession, dir: String): Array[Long] =
    wordGramHashes(s, dir).where(isBenchDoc)
      .select("gh").distinct().collect().map(_.getLong(0))

  /** C9: benchmark decontamination — the standard curation gate: flag
    * training documents whose spans overlap a (small) eval set, so
    * benchmark text never leaks into training data (the n-gram overlap
    * rule of the public eval-decontamination literature, e.g. GPT-3
    * appendix C / PaLM's 13-gram rule, shrunk to this corpus's 4-gram
    * spans). The eval side's distinct span hashes are a broadcast-
    * sized artifact (|eval docs| ~ corpus/97); the training side takes
    * ONE map-side broadcast semi join + a per-doc aggregate — at
    * 100 TB the corpus is read once, shuffled only by doc_id partial
    * aggs, never joined wide. A doc is contaminated when ≥ 10% of its
    * spans appear in the eval set.
    */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    // KNOWN RACE, kept: the span-stats scan and the eval-hash
    // broadcast build are parallel leaf consumers — lazily filled, each
    // recomputes the span-hash pass. The duplication hides in idle
    // cores (eager fill measured 0.28→0.76 s on text_decontaminate), so
    // the fill stays lazy (see grainCache).
    val g = wordGramHashes(s, dir).grainCache()
    decontaminateSpans(g.where(!isBenchDoc), g.where(isBenchDoc).select("gh"),
      docs(s, dir).where(!isBenchDoc))
  }

  /** C10: cross-source overlap matrix — which corpus SOURCES share
    * content, the provenance diagnostic behind mixture design (two
    * crawls re-hosting the same pages should not both be up-weighted)
    * and leak auditing across acquisition channels. For every source
    * pair: the count of DISTINCT word-4-gram span hashes present in
    * both, each source's distinct-span count, and the exact integer
    * Jaccard (micro). Scale shape: spans are hashed map-side (C8's
    * 8-byte portable hashes), reduced to DISTINCT (source, hash) —
    * bounded by sources × distinct spans, far below corpus size —
    * then ONE self-equi-join on the hash whose both sides reuse the
    * same exchange; the per-pair matrix itself is sources², a driver-
    * scale artifact. Zero-overlap pairs are kept via the tiny counts
    * cross join, so the matrix is always complete.
    */
  def crossSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val srcs = docs(s, dir).select(col("doc_id"), col("source"))
    // cached: used three times (counts + both self-join sides) — without
    // it the corpus is tokenized and span-hashed thrice (plan-audited:
    // no ReusedExchange across the distinct subtrees). Bounded by
    // sources × distinct spans, far below corpus size.
    val perSource = wordGramHashes(s, dir)
      .join(srcs, Seq("doc_id"))
      // KNOWN RACE, kept: counts + both self-join sides consume this
      // as parallel leaves; the duplication hides in idle cores, so the
      // fill stays lazy (see grainCache).
      .select("source", "gh").distinct().grainCache()
    val counts = perSource.groupBy("source").agg(count(lit(1)).as("n"))
    val shared = perSource.toDF("source_a", "gh")
      .join(perSource.toDF("source_b", "gh"), Seq("gh"))
      .where(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_shared"))
    // triangular |sources|² pair frame: BROADCAST the tiny aggregate
    // side (the B58b/vocab-growth pattern) — without the hint Spark
    // plans a CartesianProduct for the non-equi join, which the B73
    // lint rightly flags even when both sides are source-count-sized
    counts.toDF("source_a", "n_a")
      .join(broadcast(counts.toDF("source_b", "n_b")),
        col("source_a") < col("source_b"))
      .join(shared, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        col("n_a"), col("n_b"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        expr("(coalesce(n_shared, 0L) * 1000000L) div (n_a + n_b - coalesce(n_shared, 0L))")
          .as("jaccard_micro"))
      .orderBy("source_a", "source_b")
  }

  /** General form: gate an arbitrary TRAINING corpus against an
    * arbitrary EVAL document table (both with doc_id + text columns) —
    * the API a user calls with their real benchmark suite; the
    * `text_decontaminate` query is this with the deterministic
    * doc_id%97 eval stand-in.
    */
  def decontaminateAgainst(train: DataFrame, evalDocs: DataFrame): DataFrame =
    decontaminateSpans(wordGramHashesOf(train),
      wordGramHashesOf(evalDocs).select("gh"), train)

  private def decontaminateSpans(trainGrams: DataFrame, evalGrams: DataFrame,
      trainDocs: DataFrame): DataFrame = {
    val train = trainGrams
    val benchSpans = evalGrams.distinct()
    // ONE pass over the span grain: a broadcast left join against the
    // DISTINCT eval hashes (row-preserving by construction) tags each
    // span, and a single doc_id aggregate yields both counts — the
    // former totals/overlaps pair cost two exchanges and scanned the
    // grain twice (guide §2.3 aggregate-before-shuffle, §2.4)
    val spanStats = train
      .join(broadcast(benchSpans.withColumn("__hit", lit(1))), Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        count(col("__hit")).as("n_overlap"))
    trainDocs.select("doc_id")
      .join(spanStats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        floor(coalesce(col("n_overlap"), lit(0L)).cast("double") * 1000000.0 /
              greatest(coalesce(col("n_spans"), lit(0L)), lit(1L)))
          .cast("long").as("overlap_micro"),
        // a doc with no spans at all (< 4 words) is trivially clean —
        // without the n_spans > 0 guard, 0 >= 0 would flag it
        (coalesce(col("n_spans"), lit(0L)) > 0 &&
          coalesce(col("n_overlap"), lit(0L)) * 10 >=
            coalesce(col("n_spans"), lit(0L))).cast("int").as("contaminated"))
      .orderBy("doc_id")
  }

  /** C7: end-to-end corpus curation — the composite pass a training-
    * data pipeline runs before tokenization, assembled from the
    * oracle-portable pieces so the WHOLE pipeline is hash-checked:
    *  1. quality gate: ≥ 10 whitespace tokens and ≥ 30% distinct
    *     tokens (drops degenerate/repetitive docs);
    *  2. decontamination gate (C9): drop the held-out eval docs
    *     themselves AND any training doc whose span overlap with the
    *     eval set crosses the contamination threshold — benchmark
    *     text must never reach the curated corpus;
    *  3. near-dup removal: keep one representative per
    *     `nearDupClustersExact` cluster, chosen AMONG the surviving
    *     docs (min surviving doc_id) — choosing the global
    *     cluster minimum would silently drop an entire cluster
    *     whenever its smallest member happens to fail a gate;
    *  4. per-source accounting of the surviving corpus.
    * Scale shape: the quality gate is map-only; decontamination is a
    * broadcast semi join; clustering is the blocked near-dup pipeline
    * (one shuffle per stage); the representative choice and
    * accounting are one window + one grouped aggregate.
    */
  def curateCorpus(s: SparkSession, dir: String): DataFrame =
    curatedDocs(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_chars")).as("kept_chars"),
        sum(col("n_toks").cast("long")).as("kept_tokens"))
      .orderBy("source")

  /** The curated DOCUMENT set C7 aggregates (and H3's assembly input):
    * one row per surviving doc with (doc_id, source, n_chars, n_toks).
    */
  private[graft] def curatedDocs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = split(trim(col("text")), "\\s+")
    // cached + filled on a second driver thread: overlaps the
    // decontamination sub-pipeline with the cluster construction's
    // driver-side phases (same §2.6 overlap as curationFunnel).
    val clean = decontaminate(s, dir)
      .where(col("contaminated") === 0).select("doc_id").grainCache()
    val quality = docs(s, dir)
      .withColumn("n_toks", size(toks))
      .withColumn("n_distinct", size(array_distinct(toks)))
      .where(col("n_toks") >= 10 &&
             col("n_distinct") * 10 >= col("n_toks") * 3)
      .join(clean, Seq("doc_id"), "left_semi")
    val clusters = graft.GraftSession.fillAlongside(clean)(nearDupClustersExact(s, dir))
    val wCluster = Window.partitionBy("cluster")
    quality.join(clusters, Seq("doc_id"))
      .withColumn("rep", min("doc_id").over(wCluster))
      .where(col("doc_id") === col("rep"))
      .select("doc_id", "source", "n_chars", "n_toks")
  }

  /** C17: the curation FUNNEL — the per-stage accounting report every
    * data team reads before a training run: how many documents and
    * tokens survive each gate of the C7 pipeline, extended with the
    * CCNet perplexity cut (E20) as the final stage. C7 answers "what
    * survived"; this answers "which stage costs what" — the number
    * that tells you whether the quality gate or the dedup pass is
    * eating your corpus. Stages:
    *   0 ingested → 1 quality (≥10 tokens, ≥30% distinct) →
    *   2 decontaminated (C9: eval docs + contaminated out) →
    *   3 dedup (one representative per C6 exact cluster) →
    *   4 perplexity (tail tercile of the E8 unigram score dropped;
    *     the LM is trained on — and the cutoffs computed over — the
    *     stage-3 SURVIVOR corpus, so the cut reflects what would
    *     actually be trained on).
    * Scale shape: ONE cached (doc, n_toks, n_distinct) grain serves
    * every stage's token accounting; each stage's survivor set is a
    * semi-join on doc_id; the per-stage output is five aggregate
    * rows. The perplexity word grain scans only stage-3 survivors
    * (differently-filtered scan, the lint-excused class) and is
    * cached across LM training and scoring; cutoff selection is
    * E20's bounded histogram — no global sort at any corpus size.
    * All-integer arithmetic ⇒ VALUE-EXACT vs the chained CTE oracle.
    */
  def curationFunnel(s: SparkSession, dir: String): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    val base = docs(s, dir).select(col("doc_id"),
        size(toks).cast("long").as("n_toks"),
        size(array_distinct(toks)).cast("long").as("n_distinct"))
      // KNOWN RACE, kept: all five stage aggregates probe this grain
      // as parallel leaf exchanges — lazily filled it recomputes the
      // tokenize pass 5× (profiled at sf0.1; an eager fill was
      // wall-neutral at 32 cores and saved 2.5 s of executor work per
      // execution). The fill stays lazy (see grainCache).
      .grainCache()
    val quality = base.where(col("n_toks") >= 10 &&
      col("n_distinct") * 10 >= col("n_toks") * 3)
    // cached: consumed by the s2 semi-join AND the final accounting
    // pass's membership tag — and eagerly filled on a SECOND driver
    // thread below, overlapping the cluster sub-pipeline.
    val clean = decontaminate(s, dir)
      .where(col("contaminated") === 0).select("doc_id").grainCache()
    val s2 = quality.join(clean, Seq("doc_id"), "left_semi")
    // Overlap the two independent sub-pipelines (guide §2.6): cluster
    // construction runs driver-side actions (edge checkpoint + exact
    // count + union-find collect) during which executors drain, while
    // the decontamination gate depends on nothing cluster-side — so
    // its grain fills CONCURRENTLY instead of serializing inside the
    // first tercile collect (funnel construction measured ~5.2 s of
    // the 5.4 s total at sf0.1, the two sub-pipelines back to back).
    // Unlike an eager in-line count() (the measured-regressive shape
    // grainCache avoids), this fill back-fills cores the cluster
    // pipeline's driver phases leave idle.
    val clusters = graft.GraftSession.fillAlongside(clean)(nearDupClustersExact(s, dir))
    val wCluster = org.apache.spark.sql.expressions.Window.partitionBy("cluster")
    val s3 = s2.join(clusters, Seq("doc_id"))
      .withColumn("rep", min("doc_id").over(wCluster))
      .where(col("doc_id") === col("rep"))
      // s3 stays LAZY: its two parallel consumers share the expensive
      // exchanges via AQE's stage cache, and an eager count() would
      // serialize the whole decontaminate+cluster pipeline (measured
      // +1s at 32 cores)
      .select("doc_id", "n_toks").grainCache()
    // E20 over the survivor corpus: unigram LM trained on survivors,
    // per-doc mean log-prob, tail tercile dropped
    val words = expr(
      "filter(split(trim(lower(text)), '\\\\s+'), w -> length(w) > 0)")
    val grain = docs(s, dir)
      .join(s3.select("doc_id"), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), explode(words).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("n"))
      // KNOWN RACE, kept: the total scalar, the word-count side and
      // the per-doc side all scan this grain as parallel leaves; the
      // fill stays lazy (see grainCache).
      .grainCache()
    // total-token scalar rides along as a broadcast single-row frame
    // (the TextAnalysis idiom) instead of a driver head() that would
    // force an extra job over the cached grain mid-pipeline.
    val total = grain.agg(sum("n").cast("double").as("total"))
    val perDoc = grain
      .join(grain.groupBy("word").agg(sum("n").as("cnt")), Seq("word"))
      .crossJoin(broadcast(total))
      .withColumn("lp_micro",
        floor(log(col("cnt").cast("double") / col("total")) * 1000000.0)
          .cast("long"))
      .groupBy("doc_id")
      .agg(sum("n").as("n_words"), sum(col("lp_micro") * col("n")).as("slp"))
      .select(col("doc_id"),
        floor(col("slp").cast("double") / col("n_words"))
          .cast("long").as("avg_lp_micro"))
      .grainCache()
    val s4 = TextAnalysis.tercileCutoffs(perDoc) match {
      case None           => perDoc.select("doc_id")
      case Some((c1, _))  =>
        perDoc.where(col("avg_lp_micro") >= c1).select("doc_id")
    }
    // ONE pass over the token grain instead of five semi-join+aggregate
    // branches (guide §2.4): each survivor set is row-preserving-unique
    // by construction (clean/s3/s4 carry one row per doc_id), so a left
    // join tags membership and a single aggregate computes every
    // stage's counts. Null semantics match the per-stage aggregates
    // exactly: count(when(...)) is 0 where the old count over an empty
    // semi-join was 0, and sum(when(...)) is NULL where the old sum
    // over an empty semi-join was NULL. The quality predicate is
    // evaluated inline (stage 1 is a pure filter of the grain), and
    // s3 ⊆ s2 ⊆ quality / s4 ⊆ s3 hold by construction, so membership
    // flags need no cross-conditions beyond stage 2's q ∧ clean.
    val q = col("n_toks") >= 10 && col("n_distinct") * 10 >= col("n_toks") * 3
    val flagged = base
      .join(clean.select(col("doc_id")).withColumn("__c", lit(1)),
        Seq("doc_id"), "left")
      .join(s3.select(col("doc_id")).withColumn("__d", lit(1)),
        Seq("doc_id"), "left")
      .join(s4.select(col("doc_id")).withColumn("__p", lit(1)),
        Seq("doc_id"), "left")
    val a = flagged.agg(
      count(lit(1)).as("n0"), sum(col("n_toks")).as("t0"),
      count(when(q, 1)).as("n1"), sum(when(q, col("n_toks"))).as("t1"),
      count(when(q && col("__c").isNotNull, 1)).as("n2"),
      sum(when(q && col("__c").isNotNull, col("n_toks"))).as("t2"),
      count(when(col("__d").isNotNull, 1)).as("n3"),
      sum(when(col("__d").isNotNull, col("n_toks"))).as("t3"),
      count(when(col("__p").isNotNull, 1)).as("n4"),
      sum(when(col("__p").isNotNull, col("n_toks"))).as("t4"))
    def st(ord: Long, name: String, n: String, t: String) =
      struct(lit(ord).as("stage_ord"), lit(name).as("stage"),
        col(n).as("n_docs"), col(t).as("n_tokens"))
    a.select(explode(array(
        st(0L, "ingested", "n0", "t0"),
        st(1L, "quality", "n1", "t1"),
        st(2L, "decontaminated", "n2", "t2"),
        st(3L, "dedup", "n3", "t3"),
        st(4L, "perplexity", "n4", "t4"))).as("s"))
      .select(col("s.stage_ord").as("stage_ord"), col("s.stage").as("stage"),
        col("s.n_docs").as("n_docs"), col("s.n_tokens").as("n_tokens"))
      .orderBy("stage_ord")
  }

  /** C5 (oracle-portable form): exact pairwise cosine over the
    * deterministic ~10% hash-sample of the embeddings table — every
    * sampled pair scored, no LSH bucketing, so the whole computation
    * is reproducible in any engine with a sequential dot product.
    * Cosine is emitted as floor(cos*1e6): identical input bits give
    * an identical floor, where decimal round() is engine-dependent
    * (SURVEY.md §6). `embeddingCosine` below is the scale form
    * (hyperplane-LSH buckets) of the same near-dup pairing.
    */
  def embeddingCosineExact(s: SparkSession, dir: String): DataFrame = {
    val e = new GraftCatalog(s, dir).table("embeddings")
      .where(pmod(col("vec_id") * 2654435761L, lit(1000)) < 100)
      .select(col("vec_id"), VectorFns.toDoubleArray(col("embedding")).as("emb"))
      .grainCache() // tiny (sampled); reused as both join sides
    val a = e.select(col("vec_id").as("vec_a"), col("emb").as("emb_a"))
    val b = e.select(col("vec_id").as("vec_b"), col("emb").as("emb_b"))
    a.join(broadcast(b), col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        floor(VectorFns.cosine(col("emb_a"), col("emb_b")) * 1e6)
          .cast("long").as("cos_micro"))
      .orderBy(col("cos_micro").desc, col("vec_a"), col("vec_b"))
      .limit(200)
  }

  /** C5: embedding-cosine near-dup: random-hyperplane LSH buckets →
    * within-bucket candidate pairs THROUGH THE DEGENERATE-BUCKET GUARD
    * (`cappedBucketPairs`) → exact cosine verification → top pairs.
    * The guard matters more here than in the minhash path: normalized
    * embeddings cluster hard in practice, so with only 256 buckets a
    * skewed corpus can put a large fraction of all vectors into one
    * bucket — the unguarded self-join would go quadratic on exactly
    * the corpora this operator targets.
    */
  def embeddingCosine(s: SparkSession, dir: String): DataFrame = {
    val planes = VectorFns.hyperplanes(8, 64)
    val e = new GraftCatalog(s, dir).table("embeddings")
      .select(col("vec_id"), VectorFns.toDoubleArray(col("embedding")).as("emb"))
      .withColumn("bucket", VectorFns.lshBucket(col("emb"), planes))
      .grainCache()
    val cand = cappedBucketPairs(e.select(col("bucket"), col("vec_id")), Seq("bucket"), "vec_id")
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"))
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("emb").as("emb_a")), Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("emb").as("emb_b")), Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(VectorFns.cosine(col("emb_a"), col("emb_b")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_a"), col("vec_b"))
      .limit(200)
  }

  /** The C12 epoch rule: every 5th doc is the "new batch", the rest
    * are the historical corpus whose index is already built.
    */
  private[graft] def isNewEpoch = pmod(col("doc_id"), lit(5L)) === 0L

  /** C12: incremental dedup against a PERSISTED span index — the
    * production shape of substring dedup when a corpus grows daily:
    * the historical corpus is never rescanned; its distinct span
    * hashes live in a persisted index, each new batch probes the
    * index (one hash join sized by the batch, 8-byte keys) and
    * reports its already-seen-span fraction, then the index absorbs
    * the batch's NEW hashes (anti-join append — `updateSpanIndex`,
    * whose result a spec proves identical to a full rebuild). At
    * scale the index is bucketed by hash so probe and append are
    * shuffle-free on the index side; probe IO ∝ batch + index, with
    * the historical TEXT never read again. Uses C8's portable mod-P
    * span hashes, so the whole incremental path is oracle-exact
    * (the C2 minhash family could only be rows-only here).
    */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val idxPath = graft.sources.GraftSink.scratchDir + "/span_index"
    val g = wordGramHashes(s, dir)
    // epoch-0 build (in production this already exists on disk)
    g.where(!isNewEpoch).select("gh").distinct()
      .write.mode("overwrite").parquet(idxPath)
    val idx = graft.sources.GraftIO.readParquet(s, idxPath).withColumn("seen", lit(1L))
    val probed = g.where(isNewEpoch)
      .join(idx, Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce(col("seen"), lit(0L))).as("n_seen"))
    docs(s, dir).where(isNewEpoch).select("doc_id")
      .join(probed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"),
        floor(coalesce(col("n_seen"), lit(0L)).cast("double") * 1000000.0
          / greatest(coalesce(col("n_spans"), lit(0L)), lit(1L)))
          .cast("long").as("seen_micro"),
        when(coalesce(col("n_spans"), lit(0L)) > 0 &&
             coalesce(col("n_seen"), lit(0L)) * 2 >= col("n_spans"), 1L)
          .otherwise(0L).as("is_dup"))
      .orderBy("doc_id")
  }

  /** Absorb a batch's span hashes into the persisted index: append
    * only the hashes the index does not already hold (anti join).
    * After the append the index equals a full rebuild over the whole
    * corpus — spec-asserted set equality.
    */
  private[graft] def updateSpanIndex(s: SparkSession, idxPath: String,
      newBatch: DataFrame): Unit = {
    val fresh = wordGramHashesOf(newBatch).select("gh").distinct()
      .join(graft.sources.GraftIO.readParquet(s, idxPath), Seq("gh"), "left_anti")
      .localCheckpoint(true) // append writes into the path it reads
    try fresh.write.mode("append").parquet(idxPath)
    finally graft.GraftSession.releaseCheckpoint(fresh)
  }

  /** G15 (C12's streaming completion): a DOCUMENT STREAM probes and
    * grows the persisted span index per micro-batch — the daily-crawl
    * shape at trigger grain. Exactly-once under foreachBatch's
    * at-least-once contract WITHOUT a ledger, via PROVENANCE TAGGING:
    * index rows carry the batch id that first contributed them
    * (`src_batch`), so
    *  - the PROBE scores the batch against `src_batch != batchId` —
    *    on a replay, the batch's own earlier contribution is invisible
    *    and the pre-batch view is restored EXACTLY (a hash lands with
    *    the first batch that contributed it, so the exclusion is
    *    precise);
    *  - the ABSORB is an anti-join append — a replayed batch
    *    contributes nothing new;
    *  - per-doc results land in a `batch_id=N` directory
    *    (mode=overwrite, the G4 rule) — a replay overwrites its own
    *    output with the identical recomputation.
    * Probe semantics are sequential (each batch scores against all
    * PRIOR batches' spans, not its own) — the C12 semantic at
    * micro-batch grain; the independent-oracle spec pins it as
    * "a span is seen iff its hash FIRST appeared in an earlier batch".
    * Scale: probe + append are one 8-byte-key join each, sized by the
    * batch; historical text is never re-read; at rest the index is
    * bucketed by hash like C12's.
    */
  def applyDedupBatch(batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
      batchId: Long, root: String): Unit = {
    val s = batch.sparkSession
    val idxPath = s"$root/index"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sessionState.newHadoopConf())
    val haveIdx = fs.exists(new org.apache.hadoop.fs.Path(idxPath))
    val idx =
      if (haveIdx) graft.sources.GraftIO.readParquet(s, idxPath)
      else s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("gh",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("src_batch",
            org.apache.spark.sql.types.LongType))))
    val spans = wordGramHashesOf(batch.toDF())
    val seenIdx = idx.where(col("src_batch") =!= batchId)
      .select("gh").distinct().withColumn("seen", lit(1L))
    val probed = spans.join(seenIdx, Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce(col("seen"), lit(0L))).as("n_seen"))
    val result = batch.select(col("doc_id"))
      .join(probed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"),
        when(coalesce(col("n_spans"), lit(0L)) > 0 &&
             coalesce(col("n_seen"), lit(0L)) * 2 >= col("n_spans"), 1L)
          .otherwise(0L).as("is_dup"))
      // materialize the pre-absorb view NOW — the absorb below changes
      // the index this plan reads
      .localCheckpoint(true)
    try {
      val fresh = spans.select("gh").distinct()
        .join(idx.select("gh"), Seq("gh"), "left_anti")
        .withColumn("src_batch", lit(batchId))
        .localCheckpoint(true) // append writes into the path it reads
      try fresh.write.mode("append").parquet(idxPath)
      finally graft.GraftSession.releaseCheckpoint(fresh)
      result.write.mode("overwrite").parquet(s"$root/results/batch_id=$batchId")
    } finally graft.GraftSession.releaseCheckpoint(result)
  }

  /** The streaming entry: docs(doc_id, text) → per-batch dedup verdicts
    * + a growing span index.
    */
  def dedupIngestSink(docs: DataFrame, root: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          applyDedupBatch(b, id, root)
      }
      .start()

  /** C13 similarity threshold (micro): a train doc whose nearest eval
    * doc scores at least this is flagged.
    */
  private[graft] val SemanticContamTau = 850000L

  /** C13: SEMANTIC decontamination — the paraphrase-leak gate C9's
    * n-gram overlap cannot catch: an eval item reworded shares no
    * 4-gram span but still lands near the original in embedding
    * space. Every train doc scores its nearest eval doc by cosine
    * over the E12 train-free hash embeddings; at or above τ it is
    * flagged with the culprit eval id (max(struct) argmax, ties to
    * the smaller eval id). Scale shape: the eval set is the small
    * trusted side (|corpus|/97) — its vectors BROADCAST and the scan
    * side is map-only scoring + a per-doc aggregate; no shuffle
    * carries the corpus. Exactness: integer vectors, micro-floor
    * cosines → VALUE-EXACT (a production swap to model embeddings
    * keeps the shape and moves to rows-only). Zero-vector docs carry
    * NULL score and are never flagged.
    */
  def decontaminateSemantic(s: SparkSession, dir: String): DataFrame = {
    // ONE embedding derivation (the E14/H5 rule): the per-doc hash
    // embedding grain serves BOTH the corpus side and the broadcast
    // eval side — cached, so the tokenize + (doc, dim) fold runs once
    val e = HashEmbed.embeddings(s, dir).where(col("norm2") > 0)
      .withColumn("nrm", sqrt(col("norm2").cast("double")))
      .grainCache()
    val eval = e.where(isBenchDoc)
      .select(col("doc_id").as("eval_id"), col("emb").as("eem"), col("nrm").as("enrm"))
    val scored = e.where(!isBenchDoc).crossJoin(broadcast(eval))
      .select(col("doc_id"),
        floor(SemDedup.dotL(col("emb"), col("eem")).cast("double")
          / (col("nrm") * col("enrm")) * 1e6).as("cos_micro"),
        col("eval_id"))
      .groupBy("doc_id")
      .agg(max(struct(col("cos_micro"), (-col("eval_id")).as("nid"))).as("best"))
      .select(col("doc_id"), col("best.cos_micro").as("max_cos_micro"),
        (-col("best.nid")).as("nearest_eval"))
    docs(s, dir).where(!isBenchDoc).select("doc_id")
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("max_cos_micro"),
        when(col("max_cos_micro") >= SemanticContamTau, col("nearest_eval")).as("nearest_eval"),
        when(col("max_cos_micro") >= SemanticContamTau, 1L).otherwise(0L).as("contaminated"))
      .orderBy("doc_id")
  }

  /** C13 LSH banding: bands × bits hyperplanes (shared deterministic
    * plane set; band b owns planes [b·bits, (b+1)·bits)). cos ≥ 0.85
    * → per-bit agreement ≈ 1 − θ/π ≈ 0.82 → band hit ≈ 0.21 → miss
    * probability across 16 bands ≈ 2%.
    */
  private val SemBands = 16
  private val SemBandBits = 8

  /** C13 SCALE form: the exact gate broadcasts the whole eval suite,
    * which dies once the eval/holdout side itself is large (a 100M-doc
    * holdout won't broadcast). Here BOTH sides band into hyperplane-
    * LSH buckets (16 bands × 8 bits over the same deterministic plane
    * set) and meet in a plain equi-join on the band bucket — shuffle
    * ∝ corpus × bands, never corpus × eval. Candidates are verified
    * with the SAME exact micro-floor cosine and filtered to ≥ τ
    * BEFORE the per-doc argmax aggregate, so only genuinely
    * contaminated pairs ever reach the shuffle (duplicate band
    * collisions collapse in the map-side partial max — cheaper than a
    * candidate-dedup shuffle). Output = flagged docs only, exact-twin
    * schema minus the clean rows. Precision 1 by construction (every
    * emitted cosine is exactly verified); recall ≈ 98% at τ (banding
    * math above) — rows-only, with `decontaminateSemantic` as the
    * oracle-exact twin (spec asserts set equality on the test corpus).
    */
  def decontaminateSemanticLsh(s: SparkSession, dir: String): DataFrame = {
    val planes = VectorFns.hyperplanes(SemBands * SemBandBits, HashEmbed.Dim)
    def banded(df: DataFrame): DataFrame = {
      val dv = transform(col("emb"), _.cast("double"))
      val bkts = array((0 until SemBands).map { bd =>
        lit(bd * 65536) +
          VectorFns.lshBucket(dv, planes.slice(bd * SemBandBits, (bd + 1) * SemBandBits))
      }: _*)
      df.withColumn("bkt", explode(bkts))
    }
    // one embedding derivation for both banded sides (the E14/H5 rule)
    val e = HashEmbed.embeddings(s, dir).where(col("norm2") > 0)
      .withColumn("nrm", sqrt(col("norm2").cast("double")))
      .grainCache()
    val eval = banded(e.where(isBenchDoc))
      .select(col("bkt"), col("doc_id").as("eval_id"),
        col("emb").as("eem"), col("nrm").as("enrm"))
    banded(e.where(!isBenchDoc)).join(eval, "bkt")
      .select(col("doc_id"),
        floor(SemDedup.dotL(col("emb"), col("eem")).cast("double")
          / (col("nrm") * col("enrm")) * 1e6).as("cos_micro"),
        col("eval_id"))
      .where(col("cos_micro") >= SemanticContamTau)
      .groupBy("doc_id")
      .agg(max(struct(col("cos_micro"), (-col("eval_id")).as("nid"))).as("best"))
      .select(col("doc_id"), col("best.cos_micro").as("max_cos_micro"),
        (-col("best.nid")).as("nearest_eval"))
      .orderBy("doc_id")
  }

  /** The C13 DuckDB oracle: E12's vector CTE + the same broadcast-
    * shaped scoring, argmax via row_number (cos desc, eval_id).
    */
  def oracleSemanticContamSql: String = HashEmbed.vecSql + s""",
      en AS (SELECT doc_id, emb::DOUBLE[] AS emb,
                    sqrt(CAST(norm2 AS DOUBLE)) AS nrm
             FROM vecn WHERE norm2 > 0),
      ev AS (SELECT doc_id AS eval_id, emb AS eem, nrm AS enrm
             FROM en WHERE doc_id % 97 = 0),
      sc AS (SELECT t.doc_id,
               CAST(floor(list_dot_product(t.emb, ev.eem) / (t.nrm * ev.enrm)
                          * 1000000.0) AS BIGINT) AS cos_micro,
               ev.eval_id
             FROM en t CROSS JOIN ev WHERE t.doc_id % 97 <> 0),
      best AS (SELECT doc_id, cos_micro AS max_cos_micro, eval_id FROM (
                 SELECT *, row_number() OVER (PARTITION BY doc_id
                   ORDER BY cos_micro DESC, eval_id) AS rn FROM sc)
               WHERE rn = 1)
      SELECT d.doc_id, b.max_cos_micro,
             CASE WHEN b.max_cos_micro >= $SemanticContamTau
                  THEN b.eval_id END AS nearest_eval,
             CAST(CASE WHEN coalesce(b.max_cos_micro, -2000000)
                            >= $SemanticContamTau
                       THEN 1 ELSE 0 END AS BIGINT) AS contaminated
      FROM documents d LEFT JOIN best b USING (doc_id)
      WHERE d.doc_id % 97 <> 0
      ORDER BY d.doc_id"""
}
