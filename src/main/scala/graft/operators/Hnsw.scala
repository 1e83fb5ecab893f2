package graft.operators

import graft.functions.VectorFns
import graft.sources.GraftCatalog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** D11: graph-based ANN — the HNSW family (Malkov & Yashunin 2016),
  * re-shaped for a distributed scan engine. True HNSW is a sequential
  * in-memory traversal of a corpus-sized graph; the Spark-first form
  * splits it into the two pieces that actually scale:
  *
  *  1. A LAYERED ROUTING GRAPH over the deterministic hash sample —
  *     node levels drawn geometrically (p=1/4) from the id hash like
  *     HNSW's level assignment, each layer linking every member to its
  *     M nearest neighbors at that layer. This is a driver artifact of
  *     the SAME CLASS as the IVF centroid table or the PQ codebooks
  *     (D2/D6): small, broadcast-able, built once off the sample,
  *     never touching the full corpus. Queries BEAM-SEARCH it exactly
  *     like HNSW: greedy descent from the top layer's entry point,
  *     then an ef-wide best-first search at layer 0 — so the probe set
  *     follows the graph's navigable-small-world geometry instead of
  *     raw centroid distance (what distinguishes this from D2).
  *  2. The CORPUS is sharded by routing node: each vector map-side
  *     attaches to its R nearest routing nodes (the literal-array
  *     argmax of assignCentroids — zero shuffle, multi-assignment
  *     playing the role of HNSW's level-0 out-degree). A query probes
  *     only the shards of its beam — ef/m of the corpus — and the
  *     candidates get exact cosine + a per-query top-k heap.
  *
  * Scale: the routing layer is capped driver-side (like nlist/
  * codebooks — grow it ∝ √n, shard it once it outgrows one task); the
  * corpus side is ONE map-only projection + a broadcast join with the
  * beam table; the only exchanges carry the probed sliver (candidate
  * dedup + per-query top-k) — asserted ≤2 in the plan spec. Rows-only
  * by design (beam/sample choices are engine-specific); recall vs the
  * D1 exact baseline is spec-banded, the D2/D6 pattern.
  */
object Hnsw {

  private val K = 10
  private val NQueries = 5
  private[graft] val MLinks = 8 // per-node out-degree per layer
  private[graft] val EfSearch = 16 // beam width at layer 0
  private[graft] val RAssign = 5 // corpus multi-assignment fan-out
  private val LevelCap = 3

  private def emb(s: SparkSession, dir: String): DataFrame =
    new GraftCatalog(s, dir).table("embeddings")
      .select(col("vec_id"), VectorFns.toDoubleArray(col("embedding")).as("emb"))

  /** HNSW level assignment, derandomized: geometric(p=1/4) from the
    * same multiplicative hash as every other deterministic sample in
    * the engine.
    */
  private[graft] def levelOf(id: Long): Int = {
    var x = math.floorMod(id * 2654435761L, 1L << 30)
    var l = 0
    while (l < LevelCap && x % 4 == 0) { l += 1; x /= 4 }
    l
  }

  private def dcos(a: Array[Double], b: Array[Double]): Double =
    graft.functions.VectorFns.dcos(a, b)

  /** The layered routing graph: per layer, every node with level ≥ l
    * links to its M nearest (cos desc, id asc) peers at that layer.
    */
  private[graft] final case class RoutingGraph(
      vecs: Map[Long, Array[Double]],
      layers: IndexedSeq[Map[Long, Seq[Long]]],
      entry: Long)

  /** Exact deterministic top-M neighbor selection — (cos desc, id
    * asc) via an M-slot insertion buffer, NO full sort: selecting 8
    * of 4096 by sorting 4096 boxed tuples per node was the single
    * super-linear hotspot the 10× scaling bench caught (the graph
    * build alone cost ~70s at the routing cap). O(n·M) per node,
    * identical output to sortBy((-cos, id)).take(M).
    */
  private[graft] def neighborsOf(id: Long, v: Array[Double],
      members: Array[(Long, Array[Double])], m: Int): Seq[Long] = {
    val best = new scala.collection.mutable.ArrayBuffer[(Double, Long)](m + 1)
    var j = 0
    while (j < members.length) {
      val (oid, ov) = members(j)
      if (oid != id) {
        val c = dcos(v, ov)
        val last = if (best.isEmpty) null else best(best.size - 1)
        if (best.size < m || c > last._1 || (c == last._1 && oid < last._2)) {
          var i = 0
          while (i < best.size &&
              (best(i)._1 > c || (best(i)._1 == c && best(i)._2 < oid))) i += 1
          best.insert(i, (c, oid))
          if (best.size > m) best.remove(m)
        }
      }
      j += 1
    }
    best.map(_._2).toSeq
  }

  /** Layer links, computed DISTRIBUTED when the node set is at the
    * routing cap (4096² cosines is a Spark job, not a driver loop —
    * each task owns a slice of nodes and selects neighbors for every
    * layer its node participates in) and on the driver for small
    * graphs (specs, tiny corpora). Both paths share `neighborsOf`,
    * so the graph is bit-identical either way.
    */
  private[graft] def buildGraph(nodes: Seq[(Long, Array[Double])]): RoutingGraph = {
    val levels = nodes.map { case (id, _) => id -> levelOf(id) }.toMap
    val vecs = nodes.toMap
    val maxLevel = levels.values.max
    val byLayer: IndexedSeq[Array[(Long, Array[Double])]] =
      (0 to maxLevel).map(l => nodes.filter { case (id, _) => levels(id) >= l }.toArray)
    val sessionOpt =
      if (nodes.size <= 512) None
      else org.apache.spark.sql.SparkSession.getActiveSession
    val links: Seq[(Int, Long, Seq[Long])] = sessionOpt match {
      case Some(s) =>
        val sc = s.sparkContext
        val bc = sc.broadcast(byLayer)
        val work = nodes.map { case (id, v) => (id, v, levels(id)) }
        sc.parallelize(work, math.min(work.size, sc.defaultParallelism))
          .flatMap { case (id, v, lvl) =>
            (0 to math.min(lvl, bc.value.size - 1)).map(l =>
              (l, id, neighborsOf(id, v, bc.value(l), MLinks)))
          }.collect().toSeq
      case None =>
        for {
          l <- 0 to maxLevel
          (id, v) <- byLayer(l)
        } yield (l, id, neighborsOf(id, v, byLayer(l), MLinks))
    }
    val layers = (0 to maxLevel).map { l =>
      links.collect { case (`l`, id, ns) => id -> ns }.toMap
    }
    // global entry point: the top layer's lowest id (deterministic)
    val entry = layers(maxLevel).keys.min
    RoutingGraph(vecs, layers, entry)
  }

  /** HNSW search over the routing graph: greedy descent through the
    * upper layers, ef-wide best-first search at layer 0. Fully
    * deterministic (ties break on id).
    */
  private[graft] def beamSearch(g: RoutingGraph, q: Array[Double], ef: Int): Seq[Long] = {
    def score(id: Long) = dcos(q, g.vecs(id))
    var cur = g.entry
    for (l <- (1 until g.layers.size).reverse) {
      var improved = true
      while (improved) {
        improved = false
        val better = g.layers(l)(cur).iterator
          .map(n => (n, score(n)))
          .filter { case (n, c) => c > score(cur) || (c == score(cur) && n < cur) }
          .toSeq.sortBy { case (n, c) => (-c, n) }.headOption
        better.foreach { case (n, _) => cur = n; improved = true }
      }
    }
    // layer-0 best-first search, result = the ef best visited
    val adj = g.layers(0)
    val visited = mutable.Set(cur)
    // candidates: max-heap by (cos, -id); results: kept as a sorted set
    val candOrd = Ordering.by[(Double, Long), (Double, Long)] { case (c, id) => (c, -id) }
    val cand = mutable.PriorityQueue((score(cur), cur))(candOrd)
    var best = Vector((score(cur), cur))
    def worstBest = best.last
    while (cand.nonEmpty) {
      val (c, id) = cand.dequeue()
      if (best.size >= ef && c < worstBest._1) cand.clear()
      else {
        for (n <- adj(id) if !visited.contains(n)) {
          visited += n
          val cn = score(n)
          if (best.size < ef || cn > worstBest._1 ||
              (cn == worstBest._1 && n < worstBest._2)) {
            cand.enqueue((cn, n))
            best = (best :+ ((cn, n)))
              .sortBy { case (cb, idb) => (-cb, idb) }.take(ef)
          }
        }
      }
    }
    best.map(_._2)
  }

  /** Hard cap on the routing layer: the driver artifact must stay
    * broadcast-sized no matter the corpus (the 10% sample alone would
    * be unbounded at 100 TB). The cap keeps the lowest-hash members of
    * the sample — a deterministic sub-sample of the sub-sample, so
    * growing the corpus only refines which vectors route, never the
    * artifact's size class. 4096 × 64 doubles ≈ 2 MB, and the O(m²)
    * driver graph build stays ≈ 10^7 cosines.
    */
  private[graft] val RoutingCap = 4096

  /** The deterministic routing node set (hash sample, driver-side,
    * capped).
    */
  private[graft] def routingNodes(e: DataFrame): Seq[(Long, Array[Double])] = {
    val s = e.sparkSession
    import s.implicits._
    Similarity.trainingSample(e)
      .orderBy(pmod(col("vec_id") * 2654435761L, lit(1000000L)), col("vec_id"))
      .limit(RoutingCap)
      .select(col("vec_id"), col("emb")).as[(Long, Seq[Double])]
      .collect().toSeq.map { case (id, v) => (id, v.toArray) }
  }

  /** Beam-search each query against the routing graph → the broadcast
    * probe table (query_id, q_emb, entry_id). `probeAll` bypasses the
    * beam and probes EVERY routing shard — the D18 calibration mode:
    * every corpus vector lives in ≥1 shard, so an all-shards probe is
    * exact by construction and the audit must measure recall 1.0.
    */
  private def beamProbes(e: DataFrame,
      routing: Seq[(Long, Array[Double])], ef: Int = EfSearch,
      probeAll: Boolean = false): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val qRows = e.where(col("vec_id") < NQueries)
      .select(col("vec_id"), col("emb")).as[(Long, Seq[Double])].collect()
    val probed: Seq[(Long, Seq[Double], Long)] =
      if (probeAll)
        qRows.toSeq.flatMap { case (qid, q) =>
          routing.map { case (entry, _) => (qid, q, entry) } }
      else {
        val g = buildGraph(routing)
        qRows.toSeq.flatMap { case (qid, q) =>
          beamSearch(g, q.toArray, ef).map(entry => (qid, q, entry))
        }
      }
    probed.toDF("query_id", "q_emb", "entry_id")
  }

  /** Exact top-R routing ids for one vector — (cos desc, id asc),
    * R-slot insertion buffer, self NOT excluded (routing nodes are
    * corpus vectors and belong to their own shard).
    */
  private[graft] def topRouting(v: Array[Double],
      routing: Array[(Long, Array[Double])], r: Int): Seq[Long] = {
    val best = new scala.collection.mutable.ArrayBuffer[(Double, Long)](r + 1)
    var j = 0
    while (j < routing.length) {
      val (oid, ov) = routing(j)
      val c = dcos(v, ov)
      val last = if (best.isEmpty) null else best(best.size - 1)
      if (best.size < r || c > last._1 || (c == last._1 && oid < last._2)) {
        var i = 0
        while (i < best.size &&
            (best(i)._1 > c || (best(i)._1 == c && best(i)._2 < oid))) i += 1
        best.insert(i, (c, oid))
        if (best.size > r) best.remove(r)
      }
      j += 1
    }
    best.map(_._2).toSeq
  }

  /** Corpus → its R nearest routing shards, map-side over the
    * BROADCAST routing array with the compiled no-sort top-R
    * selection. The original form shipped the routing table as a
    * typedlit and ran `array_sort(transform(...))` per row — at the
    * 4096-node cap that is a 4096-struct allocate+sort per corpus
    * row in interpreted HOFs, which the 10× scaling bench measured
    * as the dominant super-linear cost (~70s at sf1). Same exact
    * math and (cos desc, id asc) tie rule, primitive loops, zero
    * shuffle.
    */
  private def shardAssign(e: DataFrame,
      routing: Seq[(Long, Array[Double])]): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(routing.toArray)
    e.select(col("vec_id"), col("emb")).as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val r = bc.value
        it.flatMap { case (id, emb) =>
          topRouting(emb.toArray, r, RAssign).map(entry => (id, emb, entry))
        }
      }.toDF("vec_id", "emb", "entry_id")
  }

  /** Exact-cosine top-k over the probed shards — shared by the scan
    * form and the persisted-index form.
    */
  private def topkFromShards(sharded: DataFrame, probes: DataFrame): DataFrame = {
    val scored = sharded.join(broadcast(probes), Seq("entry_id"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        VectorFns.cosine(col("q_emb"), col("emb")).as("cos_raw"))
      // multi-assignment can surface one candidate via several shards
      .groupBy("query_id", "neighbor_id").agg(max("cos_raw").as("cos_raw"))
    val w = Window.partitionBy("query_id").orderBy(col("cos_raw").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= K)
      .select(col("query_id"), col("neighbor_id"), round(col("cos_raw"), 4).as("cos"))
      .orderBy("query_id", "neighbor_id")
  }

  /** The query: beam-search entry shards for the first NQueries
    * vectors, probe only those shards, exact-cosine top-k within.
    */
  def hnswTopk(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val routing = routingNodes(e)
    topkFromShards(shardAssign(e, routing), beamProbes(e, routing))
  }

  /** D11 (persisted form): the index build writes the routing nodes
    * (a tiny table) and the R-sharded corpus PARTITIONED BY entry_id —
    * the D2-persisted pattern: probes then read only the beam's shard
    * partitions via hive partition pruning, so a query touches
    * ~ef·R/m of the stored corpus and the graph build never reruns.
    */
  private[graft] def buildHnswIndex(s: SparkSession, dir: String,
      indexPath: String): Seq[(Long, Array[Double])] = {
    val e = emb(s, dir)
    val routing = routingNodes(e)
    s.createDataFrame(routing.map { case (id, v) => (id, v.toSeq) })
      .toDF("vec_id", "emb")
      .write.mode("overwrite").parquet(s"$indexPath/routing")
    shardAssign(e, routing)
      .select(col("vec_id"), col("emb"), col("entry_id"))
      .write.mode("overwrite").partitionBy("entry_id")
      .parquet(s"$indexPath/shards")
    routing
  }

  /** The persisted routing artifact, reloaded (bounded by RoutingCap —
    * the same driver-artifact class as IVF centroids).
    */
  private[graft] def loadRouting(s: SparkSession,
      idx: String): Seq[(Long, Array[Double])] = {
    import s.implicits._
    graft.sources.GraftIO.readParquet(s, s"$idx/routing")
      .select(col("vec_id"), col("emb")).as[(Long, Seq[Double])]
      .collect().toSeq.sortBy(_._1).map { case (id, v) => (id, v.toArray) }
  }

  /** Serve an ALREADY-BUILT persisted index: routing nodes reload as
    * the graph artifact, the beam's shard ids prune the partitioned
    * read. Split from the build so maintenance (delete, compaction)
    * can serve without rebuilding.
    */
  private[graft] def serveHnsw(s: SparkSession, dir: String,
      idx: String, ef: Int = EfSearch, probeAll: Boolean = false): DataFrame = {
    val routing = loadRouting(s, idx)
    val probes = beamProbes(emb(s, dir), routing, ef, probeAll)
    val probedIds = probes.select("entry_id").distinct()
      .collect().map(_.getLong(0)).sorted
    val shards = graft.sources.GraftIO.readParquet(s, s"$idx/shards")
      .where(col("entry_id").isin(probedIds.toIndexedSeq.map(Long.box): _*))
    topkFromShards(shards, probes)
  }

  /** D18 (HNSW form): the recall AUDIT for the GRAPH index — the
    * riskier approximation of the two persisted ANN stores
    * (navigability depends on beam search + the capped routing sample
    * + delete/re-home churn, and nothing in the serving path ever
    * errors when it degrades). Same discipline as `ivfRecallAudit`:
    * exact brute-force top-k vs the index's own probe path over the
    * SAME deterministic query sample, overlap persisted as an exact
    * micro-integer one-row sidecar under `$index/_recall/` that the
    * A34 advisor reads metadata-only (`adviseVectorRecall` — missing
    * measurement fires audit advice, below-floor fires rebuild
    * advice, re-audit clears). Calibration: `probeAll` probes every
    * shard and MUST measure exactly 1.0 (spec-pinned). Cost: one
    * corpus scan — a maintenance job, never a serving-path tax.
    */
  def hnswRecallAudit(s: SparkSession, dir: String, indexPath: String,
      ef: Int = EfSearch, probeAll: Boolean = false): Long = {
    val bf = Similarity.bruteForceTopk(s, dir)
      .select("query_id", "neighbor_id")
      .localCheckpoint(true) // reused: the expected count + the overlap
    try {
      val served = serveHnsw(s, dir, indexPath, ef, probeAll)
        .select("query_id", "neighbor_id")
      val expected = bf.count()
      val matched = bf.join(served, Seq("query_id", "neighbor_id"), "left_semi")
        .count()
      val recallMicro = matched * 1000000L / expected
      import s.implicits._
      Seq((recallMicro, expected, matched, if (probeAll) -1 else ef))
        .toDF("recall_micro", "n_expected", "n_matched", "n_probe")
        .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$indexPath/_recall")
      recallMicro
    } finally graft.GraftSession.releaseCheckpoint(bf)
  }

  /** D11 (delete path): purge keys from the persisted HNSW index —
    * the A19 GDPR discipline for the graph store. Two stores hold a
    * vector:
    *
    *  1. `shards` — a COW rewrite of only the affected entry-shard
    *     partitions removes the key's R copies (GraftSink.mergeDelete:
    *     broadcast semi-join discovery, per-partition anti-join,
    *     dynamic overwrite; untouched shard partitions stay
    *     byte-identical).
    *  2. `routing` — unlike IVF centroids (means), routing nodes ARE
    *     raw vectors, so a purged key that routes must leave the
    *     graph too. Its entry-shard partition is dropped with it; the
    *     vectors that lived there remain reachable through their
    *     other R−1 shard assignments (the multi-assignment fan-out IS
    *     the redundancy), and the periodic rebuild restores full
    *     fan-out — the compaction that folds tombstones.
    *
    * Serve paths need no change: the graph is rebuilt from `routing`
    * at serve time, so a removed node simply stops routing.
    */
  private[graft] def hnswDelete(s: SparkSession, indexPath: String,
      keys: Seq[Long]): Unit = {
    import s.implicits._
    graft.sources.GraftSink.mergeDelete(s, s"$indexPath/shards",
      keys.toDF("vec_id"), Seq("vec_id"), "entry_id")
    val routing = graft.sources.GraftIO.readParquet(s, s"$indexPath/routing")
    val routedDeleted = routing.select("vec_id")
      .where(col("vec_id").isin(keys.map(Long.box): _*))
      .collect().map(_.getLong(0))
    if (routedDeleted.nonEmpty) {
      // rewrite the tiny routing table without the purged nodes, then
      // drop their (now unroutable) shard partitions entirely
      val survivors = routing.where(!col("vec_id").isin(keys.map(Long.box): _*))
        .localCheckpoint(true)
      survivors.write.mode("overwrite").parquet(s"$indexPath/routing")
      graft.GraftSession.releaseCheckpoint(survivors)
      // residents of the doomed shards, captured BEFORE the drop (the
      // purged keys are already gone from them via mergeDelete above).
      // Bounded by the dropped shards' size — churn, never the index.
      val evicted = graft.sources.GraftIO.readParquet(s, s"$indexPath/shards")
        .where(col("entry_id").isin(routedDeleted.toIndexedSeq.map(Long.box): _*))
        .select(col("vec_id"), col("emb")).dropDuplicates("vec_id")
        .localCheckpoint(true)
      val fs = new org.apache.hadoop.fs.Path(indexPath)
        .getFileSystem(s.sessionState.newHadoopConf())
      routedDeleted.foreach { id =>
        fs.delete(new org.apache.hadoop.fs.Path(
          s"$indexPath/shards/entry_id=$id"), true)
      }
      // COVERAGE REPAIR: a survivor whose R assignments ALL landed on
      // purged routing nodes just lost its last shard — without this
      // it would be silently unreachable (a recall hole) until the
      // periodic rebuild. Re-home orphans against the SURVIVING
      // routing set with the same map-side assignment the build uses,
      // restoring full R fan-out for exactly the affected vectors.
      try {
        val orphans = evicted.join(
          graft.sources.GraftIO.readParquet(s, s"$indexPath/shards").select("vec_id"),
          Seq("vec_id"), "left_anti")
        if (!orphans.isEmpty) {
          val newRouting = loadRouting(s, indexPath)
          if (newRouting.isEmpty)
            throw new IllegalStateException(
              s"[GRAFT] hnswDelete purged every routing node of $indexPath: " +
                "the index must be rebuilt, orphaned vectors cannot be re-homed")
          shardAssign(orphans, newRouting)
            .select(col("vec_id"), col("emb"), col("entry_id"))
            .write.mode("append").partitionBy("entry_id")
            .parquet(s"$indexPath/shards")
        }
      } finally graft.GraftSession.releaseCheckpoint(evicted)
    }
  }

  /** D11 (persisted form): build + serve. */
  def hnswPersistedTopk(s: SparkSession, dir: String,
      indexPath: Option[String] = None): DataFrame = {
    val idx = indexPath.getOrElse(graft.sources.GraftSink.scratchDir + "/hnsw_index")
    buildHnswIndex(s, dir, idx)
    serveHnsw(s, dir, idx)
  }

  /** D11 (absorb path): attach a NEW embedding batch to an already-
    * built persisted index — map-side assignment of the batch against
    * the PERSISTED routing artifact (exactly how the corpus attached
    * at build), hive-appended into the entry shards. History is never
    * reread or rewritten, so absorb cost is O(batch); and because the
    * routing artifact is frozen between rebuilds, absorb ≡ the
    * rebuild's assignment of the same rows against the same artifact
    * (parity spec). The FAISS add-after-train analog for the graph
    * index (see ivfAppend, Similarity.scala); pair with `hnswCompact`
    * on a maintenance cadence to fold the per-batch files and with
    * `hnswDelete` for the full index lifecycle.
    */
  private[graft] def hnswAbsorb(s: SparkSession, indexPath: String,
      newVecs: DataFrame): Unit = {
    val routing = loadRouting(s, indexPath)
    if (routing.isEmpty) throw new IllegalStateException(
      s"[GRAFT] no routing artifact at $indexPath: build the HNSW index before absorbing")
    shardAssign(newVecs.select(col("vec_id"), col("emb")), routing)
      .select(col("vec_id"), col("emb"), col("entry_id"))
      .write.mode("append").partitionBy("entry_id").parquet(s"$indexPath/shards")
  }

  /** G19 (HNSW form): the persisted graph index absorbs an embedding
    * STREAM — per micro-batch: in-batch dedup (deterministic
    * struct-min survivor), anti-join against the shards' vec_id
    * column so only genuinely NEW vectors attach, then `hnswAbsorb`.
    * Exactly-once WITHOUT markers: a replayed batch — or a vector
    * re-sent across batches — collapses in the anti-join to a
    * physical no-op (file-identity spec).
    */
  def hnswIndexSink(vecs: DataFrame, indexPath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) => applyHnswBatch(b, indexPath) }
      .start()

  private[graft] def applyHnswBatch(
      batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
      indexPath: String): Unit = {
    val s = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(s.sessionState.newHadoopConf())
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))
    if (!exists(s"$indexPath/routing"))
      throw new IllegalStateException(
        s"[GRAFT] build the HNSW index at $indexPath before attaching " +
          "hnswIndexSink — the sink absorbs into an existing index")
    val others = batch.columns.filter(_ != "vec_id").toSeq
    val once = batch.toDF().groupBy("vec_id")
      .agg(min(struct(others.map(col): _*)).as("_r"))
      .select(col("vec_id") +: others.map(c => col(s"_r.$c")): _*)
    val shards = s"$indexPath/shards"
    val fresh0 =
      if (!exists(shards)) once
      else once.join(graft.sources.GraftIO.readParquet(s, shards).select("vec_id"),
        Seq("vec_id"), "left_anti")
    val fresh = fresh0
      .localCheckpoint(true) // the append writes into the path this reads
    try if (!fresh.isEmpty) hnswAbsorb(s, indexPath, fresh)
    finally graft.GraftSession.releaseCheckpoint(fresh)
  }

  /** D14's twin for the graph index: every absorb batch adds one file
    * per touched entry shard, so a daily-absorb index accumulates a
    * file per day per shard and probe open-cost grows with batch
    * count, not data. Compaction rewrites ONLY the shards past
    * `maxFiles` (hash-repartition on the partition column → one task
    * and one file per rewritten shard), leaving every other shard's
    * files byte-identical; content unchanged by construction
    * (localCheckpoint pins the rows, dynamic overwrite swaps only the
    * rewritten partitions); idempotent. Returns the compacted shard
    * entry ids.
    */
  private[graft] def hnswCompact(s: SparkSession, indexPath: String,
      maxFiles: Int = 4): Seq[Long] = {
    val shards = s"$indexPath/shards"
    val root = new org.apache.hadoop.fs.Path(shards)
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    val fragmented = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("entry_id="))
      .filter(st => fs.listStatus(st.getPath)
        .count(_.getPath.getName.endsWith(".parquet")) > maxFiles)
      .map(_.getPath.getName.stripPrefix("entry_id=").toLong)
    if (fragmented.isEmpty) return Nil
    val staged = graft.sources.GraftIO.readParquet(s, shards)
      .where(col("entry_id").isin(fragmented.map(Long.box): _*))
      .repartition(col("entry_id"))
      .localCheckpoint(true) // the swap deletes the files it reads
    try staged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("entry_id").parquet(shards)
    finally graft.GraftSession.releaseCheckpoint(staged)
    fragmented.sorted
  }
}
