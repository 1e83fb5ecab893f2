package graft

import graft.functions.TextFns
import graft.operators.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpecBase {

  test("exact dedup keeps min doc_id per distinct text") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "unique text here"), (7L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val out = df.groupBy("text")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 3L, 3L -> 1L))
  }

  test("minhash LSH surfaces planted near-duplicates first") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the green forest tonight"
    val nearDup = base.replace("tonight", "today") // ~1 token of ~17 changed
    val docs = Seq((100L, base), (200L, nearDup)) ++
      (0L until 50L).map(i => (i, s"totally different content number $i with random words like item$i thing$i widget$i gadget$i gizmo$i"))
    val df = docs.toDF("doc_id", "text")
    val sh = TextFns.wordShingles(TextFns.tokensLower(col("text")), 3)
    val sigs = df.select(col("doc_id"), sh.as("shingles"))
      .withColumn("sig", TextFns.minhashSignature(TextFns.shingleHashes(col("shingles")), 64))
      .withColumn("bands", TextFns.bandHashes(col("sig"), 16, 4))
    val exploded = sigs.select(col("doc_id"), posexplode(col("bands")).as(Seq("bi", "bh")))
    val pairs = exploded.as("a").join(exploded.as("b"),
        col("a.bi") === col("b.bi") && col("a.bh") === col("b.bh") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((100L, 200L)), s"expected planted pair in ${pairs.toSeq}")
  }

  test("estimated jaccard tracks exact jaccard on near-dups") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val near = (1 to 40).map(i => if (i == 40) "changed" else s"word$i").mkString(" ")
    val df = Seq((1L, base), (2L, near)).toDF("doc_id", "text")
    val sh = TextFns.wordShingles(TextFns.tokensLower(col("text")), 3)
    val sigs = df.select(col("doc_id"), sh.as("shingles"))
      .withColumn("sig", TextFns.minhashSignature(TextFns.shingleHashes(col("shingles")), 64))
    val a = sigs.where(col("doc_id") === 1).select(col("sig").as("sa"), col("shingles").as("ha"))
    val b = sigs.where(col("doc_id") === 2).select(col("sig").as("sb"), col("shingles").as("hb"))
    val r = a.crossJoin(b).select(
      TextFns.estJaccard(col("sa"), col("sb")).as("est"),
      TextFns.exactJaccard(col("ha"), col("hb")).as("exact")).collect()(0)
    val (est, exact) = (r.getDouble(0), r.getDouble(1))
    assert(exact > 0.8, s"exact=$exact")
    assert(math.abs(est - exact) < 0.25, s"est=$est exact=$exact")
  }

  test("simhash hamming distance is small for near-dup, large for unrelated") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = (1 to 60).map(i => if (i % 30 == 0) "swapped" else s"tok$i").mkString(" ")
    val other = (100 to 160).map(i => s"zzz$i").mkString(" ")
    val df = Seq((1L, base), (2L, near), (3L, other)).toDF("doc_id", "text")
    val sigs = df.select(col("doc_id"),
      TextFns.simhash64(TextFns.shingleHashes(TextFns.tokensLower(col("text")))).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(2L)) < ham(sigs(1L), sigs(3L)),
      s"near=${ham(sigs(1L), sigs(2L))} far=${ham(sigs(1L), sigs(3L))}")
  }

  test("dedup operators run end-to-end on the sf0.001 tables") {
    assert(Dedup.exactDedup(spark, sfDir).count() > 0)
    assert(Dedup.minhashLsh(spark, sfDir).count() > 0)
    assert(Dedup.simhash(spark, sfDir).count() > 0)
    assert(Dedup.ngramJaccard(spark, sfDir).count() > 0)
    assert(Dedup.embeddingCosine(spark, sfDir).count() > 0)
  }

  test("oversized LSH buckets degrade to chain pairing, not n^2 all-pairs") {
    import spark.implicits._
    // one bucket of 12 members with cap=4, plus one small bucket of 3
    val exploded = ((0L until 12L).map(i => (0, 42L, i)) ++
        Seq((1, 7L, 20L), (1, 7L, 21L), (1, 7L, 22L)))
      .toDF("band_idx", "band_hash", "doc_id")
    val out = Dedup.bandCandidates(exploded, cap = 4)
    val pairs = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val chain = (0L until 11L).map(i => (i, i + 1)).toSet
    val smallAllPairs = Set((20L, 21L), (20L, 22L), (21L, 22L))
    assert(pairs === chain ++ smallAllPairs,
      s"expected 11 chain edges + 3 all-pairs, got ${pairs.size}: $pairs")
    // the guard metric reports the capped edges on the main job
    val metric = out.queryExecution.observedMetrics.collectFirst {
      case (name, row) if name.startsWith(Dedup.GuardMetricPrefix) => row
    }.getOrElse(fail("guard metric missing from observedMetrics"))
    assert(metric.getAs[Long]("capped_chain_edges") === 11L)
    assert(metric.getAs[Long]("candidate_edges") === 14L)
  }

  test("embedding-LSH hot bucket degrades to chain pairing via the shared guard") {
    import spark.implicits._
    // a skewed embedding distribution: 100 vectors in one hyperplane
    // bucket (cap=8), 3 in another. The single-bucket-key form of the
    // guard must emit 99 chain edges instead of 4950 all-pairs.
    val buckets = ((0L until 100L).map(i => (17, i)) ++ Seq((3, 200L), (3, 201L), (3, 202L)))
      .toDF("bucket", "vec_id")
    val out = Dedup.cappedBucketPairs(buckets, Seq("bucket"), "vec_id", cap = 8)
    val pairs = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val chain = (0L until 99L).map(i => (i, i + 1)).toSet
    val smallAllPairs = Set((200L, 201L), (200L, 202L), (201L, 202L))
    assert(pairs === chain ++ smallAllPairs,
      s"expected 99 chain edges + 3 all-pairs, got ${pairs.size}")
    val metric = out.queryExecution.observedMetrics.collectFirst {
      case (name, row) if name.startsWith(Dedup.GuardMetricPrefix) => row
    }.getOrElse(fail("guard metric missing from observedMetrics"))
    assert(metric.getAs[Long]("capped_chain_edges") === 99L)
  }

  test("driver union-find and distributed label propagation label identically") {
    import spark.implicits._
    // chain (diameter > 1, exercises pointer jumping), triangle with a
    // cross edge, and isolated nodes from the universe
    val edges = Seq((5L, 3L), (3L, 9L), (9L, 7L), // chain -> min 3
      (20L, 21L), (21L, 22L), (20L, 22L), (22L, 11L), // triangle + tail -> min 11
      (40L, 40L)) // self-loop stays a singleton
      .toDF("doc_a", "doc_b")
    val all = (Seq(3L, 5L, 7L, 9L, 11L, 20L, 21L, 22L, 40L) ++ Seq(100L, 101L)).toDF("doc_id")
    def got(maxEdges: Long) =
      Dedup.connectedComponents(all, edges, driverMaxEdges = maxEdges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaDriver = got(Long.MaxValue)
    val viaDistributed = got(-1L)
    assert(viaDriver === viaDistributed)
    val m = viaDriver.toMap
    assert(Seq(3L, 5L, 7L, 9L).forall(m(_) === 3L))
    assert(Seq(11L, 20L, 21L, 22L).forall(m(_) === 11L))
    assert(m(40L) === 40L && m(100L) === 100L && m(101L) === 101L)
  }

  test("over-cap bucket of identical docs stays one cluster through verification") {
    import spark.implicits._
    // 80 identical docs collide in every band -> every bucket is over
    // the default cap of 64 -> chain pairing everywhere. All chain
    // edges verify (estJaccard = 1.0 >= 0.25), so the component must
    // survive intact into nearDupClusters output.
    val same = (1 to 25).map(i => s"boilerplate$i").mkString(" ")
    val docs = (0L until 80L).map(i => (i, same)) ++
      (100L until 110L).map(i => (i, (1 to 25).map(j => s"uniq${i}_$j").mkString(" ")))
    val tmp = java.nio.file.Files.createTempDirectory("graft_cap").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.operators.Dedup.nearDupClusters(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 80L).forall(out(_) === 0L),
      s"expected one cluster rooted at 0, got ${out.view.filterKeys(_ < 80).toMap.values.toSet}")
    assert((100L until 110L).forall(i => out(i) === i))
  }

  test("label propagation groups a planted 3-chain into one cluster") {
    import spark.implicits._
    // a->b and b->c near-dups (a,c differ more) => one component {a,b,c}
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val mid = (1 to 30).map(i => if (i == 30) "x" else s"w$i").mkString(" ")
    val far = (1 to 30).map(i => if (i >= 29) s"y$i" else s"w$i").mkString(" ")
    val docs = Seq((1L, base), (2L, mid), (3L, far)) ++
      (10L until 40L).map(i => (i, (1 to 30).map(j => s"other${i}_$j").mkString(" ")))
    // run the full operator against a temp parquet dir
    val tmp = java.nio.file.Files.createTempDirectory("graft_clu").toString
    docs.toDF("doc_id", "text").withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.operators.Dedup.nearDupClusters(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === 1L && out(2L) === 1L && out(3L) === 1L,
      s"expected chain collapse, got ${out.view.filterKeys(_ <= 3).toMap}")
    assert(out(10L) === 10L)
  }

  test("exact ngram jaccard: sampled pairs, identical docs score 1000000 micro") {
    import spark.implicits._
    // doc_ids 0, 4, 8 pass the hash-sample predicate
    // (id*2654435761 mod 1000 < 100); 1 and 2 do not.
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (4L, "alpha beta gamma delta epsilon"), // identical to 0 -> j=1.0
      (8L, "zeta eta theta iota kappa"),      // disjoint -> j=0
      (1L, "alpha beta gamma delta epsilon"), // excluded by sampling
      (2L, "tiny"))                           // excluded (also <3 tokens)
    val tmp = java.nio.file.Files.createTempDirectory("graft_njx").toString
    docs.toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.ngramJaccardExact(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out === Map((0L, 4L) -> 1000000L, (0L, 8L) -> 0L, (4L, 8L) -> 0L),
      s"got $out")
  }

  test("portable clustering: transitive chain forms one cluster, others stay singleton") {
    import spark.implicits._
    // a~b and b~c each share >50% of shingles, a~c does not — the
    // cluster must still close transitively. d is unrelated.
    val a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val b = "w1 w2 w3 w4 w5 w6 w7 w8 x9 x10"   // shares 6/12 3-shingles with a
    val c = "x5 x6 w3 w4 w5 w6 w7 w8 x9 x10"   // shares most with b, little with a
    val d = "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10"
    val tmp = java.nio.file.Files.createTempDirectory("graft_ccx").toString
    Seq((0L, a), (1L, b), (2L, c), (9L, d)).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.nearDupClustersExact(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(0L) === 0L && out(1L) === 0L && out(9L) === 9L, s"got $out")
    // transitivity: c lands in a's cluster iff b~c verified; with the
    // shingle overlap above it must.
    assert(out(2L) === 0L, s"got $out")
  }

  test("portable clustering: an over-cap block of identical docs stays one cluster") {
    import spark.implicits._
    // 70 identical docs share all blocking keys -> one block of 70 >
    // cap 64 -> chain pairing; every chain edge verifies (identical
    // texts), so the component must close into a single cluster
    // without the n²/2 candidate blowup.
    val text = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"
    val docs = (0L until 70L).map(i => (i, text)) :+ (500L, "u1 u2 u3 u4 u5 u6")
    val tmp = java.nio.file.Files.createTempDirectory("graft_ccg").toString
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.nearDupClustersExact(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 70L).foreach(i => assert(out(i) === 0L, s"doc $i -> ${out(i)}"))
    assert(out(500L) === 500L)
  }

  test("curation drops low-quality docs and non-representative near-dups") {
    import spark.implicits._
    val good = "the quick brown fox jumps over the lazy dog near the river bank today"
    val dupe = good.replace("today", "tonight")          // near-dup of `good`
    val short = "too few tokens here"                    // < 10 tokens -> dropped
    val repetitive = Seq.fill(20)("spam").mkString(" ")  // distinct ratio 1/20 -> dropped
    // ids avoid doc_id % 97 == 0: doc 0 would be an eval/bench doc and
    // the decontamination stage would (correctly) drop it AND its
    // near-dup as contaminated -- this spec targets the dedup stage
    val docs = Seq((10L, good, "a"), (11L, dupe, "a"), (12L, short, "b"),
      (13L, repetitive, "b"), (14L, "another perfectly fine document with plenty of distinct tokens in it", "b"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_cur").toString
    docs.toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("lang", lit("en"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.curateCorpus(spark, tmp).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // source a: doc 10 survives (representative), doc 11 deduped away;
    // source b: only doc 14 passes the quality gate.
    assert(out === Map("a" -> 1L, "b" -> 1L), s"got $out")
  }

  test("curation keeps a good doc whose cluster's min member fails the quality gate") {
    import spark.implicits._
    // doc 10 is a 9-token prefix of doc 11 (non-bench ids; see above):
    // near-dup (shares most
    // shingles) but FAILS the >= 10 tokens gate. The representative
    // must be chosen among quality survivors — picking the global
    // cluster min would drop the whole cluster.
    val full = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val prefix = "w1 w2 w3 w4 w5 w6 w7 w8 w9"
    val tmp = java.nio.file.Files.createTempDirectory("graft_curq").toString
    Seq((10L, prefix, "a"), (11L, full, "a")).toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("lang", lit("en"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.curateCorpus(spark, tmp).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("a" -> 1L), s"got $out")
  }

  test("native span hashes are bit-identical to the portable HOF/oracle formulation") {
    val documents = new graft.sources.GraftCatalog(spark, sfDir).table("documents")
    val native = Dedup.wordGramHashesOf(documents)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val hof = KernelReference.wordGramHashesHof(documents)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(native.nonEmpty && native === hof,
      s"native=${native.size} hof=${hof.size}; diff=${(native -- hof).take(3)}")
  }

  test("substring dedup finds a planted cross-doc span; removal strips exactly it") {
    import spark.implicits._
    val boiler = "this license text is repeated verbatim across documents"  // 8 words
    val tmp = java.nio.file.Files.createTempDirectory("graft_sub").toString
    Seq(
      (10L, s"unique opening words here $boiler and unique closing words", "a"),
      (11L, s"different lead in tokens $boiler with other trailing content", "a"),
      (12L, "completely unrelated text with no shared span at all okay", "b"))
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("lang", lit("en"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val stats = Dedup.substringDedup(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // docs 10/11 share the 8-word boilerplate -> its 5 word-4-grams are
    // cross-doc duplicated in both; doc 12 shares nothing
    assert(stats(10L)._2 === 5L, s"got $stats")
    assert(stats(11L)._2 === 5L, s"got $stats")
    assert(stats(12L)._2 === 0L, s"got $stats")
    val removed = Dedup.substringRemoval(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    // the 5 dup spans cover exactly the 8 boilerplate words
    assert(removed(10L)._1 === 8L, s"got $removed")
    assert(removed(10L)._2 === "unique opening words here and unique closing words")
    assert(removed(12L) === ((0L, "completely unrelated text with no shared span at all okay")))
  }

  test("native shingle strings are identical to the transform+concat_ws HOF on the real corpus") {
    val toks = new graft.sources.GraftCatalog(spark, sfDir).table("documents")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
      .where(size(col("t")) >= 3)
    val native = toks.select(col("doc_id"),
      graft.functions.TextFns.wordShingleStrings(col("t"), 3).as("sh"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).toVector)).sortBy(_._1).toVector
    val hof = toks.select(col("doc_id"), expr(
      "transform(sequence(0, size(t)-3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))").as("sh"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).toVector)).sortBy(_._1).toVector
    assert(native === hof)
  }

  test("decontamination joins the eval spans by BROADCAST (no wide shuffle)") {
    // r16: the semi-join + second aggregate pair folded into ONE
    // broadcast LEFT OUTER tag join + a single doc_id aggregate (one
    // exchange over the span grain instead of two). The invariant this
    // spec protects is unchanged: the eval-span set BROADCASTS into
    // the corpus probe — the corpus is never shuffled by span hash.
    // Assertions are scoped to joins ON THE SPAN-HASH KEY (gh): the
    // plan also contains an unrelated doc_id join whose strategy is
    // free to follow stats/AQE thresholds — a whole-plan negative
    // assertion would fail that join's legitimate drift for the wrong
    // reason (r17, ADVICE).
    val plan = Dedup.decontaminate(spark, sfDir).queryExecution.executedPlan.toString
    val lines = plan.linesIterator.toSeq
    assert(lines.exists(l => l.contains("BroadcastHashJoin") && l.contains("gh#")),
      "the eval-span set must broadcast into the span probe: " + plan.take(1000))
    assert(!lines.exists(l =>
        (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")) &&
          l.contains("gh#")),
      "the corpus side must not shuffle wide on the span hash: " + plan.take(1000))
  }

  test("cross-source overlap matrix matches a driver-side set computation and is complete") {
    val out = graft.operators.Dedup.crossSourceOverlap(spark, sfDir).collect()
    val documents = new graft.sources.GraftCatalog(spark, sfDir).table("documents")
    val nSources = documents.select("source").distinct().count().toInt
    assert(out.length === nSources * (nSources - 1) / 2, "matrix must be complete")
    // driver-side ground truth from the same portable span hashes
    val spans = graft.operators.Dedup.wordGramHashesOf(documents)
      .join(documents.select("doc_id", "source"), Seq("doc_id"))
      .select("source", "gh").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    out.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      assert(a < b)
      val (sa, sb) = (spans(a), spans(b))
      assert(r.getLong(2) === sa.size.toLong && r.getLong(3) === sb.size.toLong)
      val shared = (sa & sb).size.toLong
      assert(r.getLong(4) === shared, s"($a,$b)")
      assert(r.getLong(5) === shared * 1000000L / (sa.size + sb.size - shared))
    }
  }

  test("decontaminateAgainst gates a corpus against an arbitrary eval table") {
    import spark.implicits._
    val evalDocs = Seq(
      (1000L, "what is the capital of france answer paris of course"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, "what is the capital of france answer paris of course indeed"), // leak
      (2L, "a perfectly ordinary training document with many distinct tokens inside"))
      .toDF("doc_id", "text")
    val out = Dedup.decontaminateAgainst(train, evalDocs).collect()
      .map(r => r.getLong(0) -> r.getInt(4)).toMap
    assert(out === Map(1L -> 1, 2L -> 0), s"got $out")
  }

  test("decontamination flags a planted benchmark leak; curation drops it") {
    import spark.implicits._
    val evalText = "what is the capital of france answer paris of course"
    val cleanTxt = "a perfectly ordinary training document with many distinct tokens inside"
    val tmp = java.nio.file.Files.createTempDirectory("graft_decon").toString
    Seq(
      (97L, evalText, "eval"),            // bench doc (97 % 97 == 0)
      (20L, evalText + " with tiny suffix", "web"), // leaked: most spans overlap
      (21L, cleanTxt, "web"))
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("lang", lit("en"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val flags = Dedup.decontaminate(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getInt(4))).toMap
    assert(!flags.contains(97L), "bench docs are not part of the training view")
    assert(flags(20L)._2 === 1, s"leaked doc must be flagged: $flags")
    assert(flags(21L)._2 === 0, s"clean doc must not be flagged: $flags")
    val curated = Dedup.curateCorpus(spark, tmp).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(curated === Map("web" -> 1L),
      s"curation must keep only the clean web doc (no eval, no leak): $curated")
  }

  test("exact embedding cosine: sampled pairs, identical vectors score 1000000 micro") {
    import spark.implicits._
    // vec_ids 0, 4, 8 pass the hash-sample predicate; 1 does not.
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (4L, Seq(2.0f, 0.0f, 0.0f)),  // same direction as 0 -> cos=1
      (8L, Seq(0.0f, 3.0f, 0.0f)),  // orthogonal -> cos=0
      (1L, Seq(1.0f, 0.0f, 0.0f)))  // excluded by sampling
    val tmp = java.nio.file.Files.createTempDirectory("graft_ecx").toString
    vecs.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val out = Dedup.embeddingCosineExact(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out === Map((0L, 4L) -> 1000000L, (0L, 8L) -> 0L, (4L, 8L) -> 0L),
      s"got $out")
  }

  test("incremental dedup: probe matches a from-scratch recompute; index update equals a full rebuild") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.01"
    val out = graft.operators.Dedup.incrementalDedup(spark, dir).cache()
    assert(out.count() === 100) // every 5th of 500 docs
    // cross-check one doc against a direct recompute over the corpus
    val g = graft.operators.Dedup.wordGramHashes(spark, dir).cache()
    val histSet = g.where(!graft.operators.Dedup.isNewEpoch)
      .select("gh").distinct().collect().map(_.getLong(0)).toSet
    val doc0 = g.where(col("doc_id") === 0L).collect().map(_.getLong(2))
    val row0 = out.where(col("doc_id") === 0L).collect()(0)
    assert(row0.getLong(1) === doc0.length.toLong)
    assert(row0.getLong(2) === doc0.count(histSet.contains).toLong)
    out.unpersist()
    // absorbing the new batch leaves the index identical to a rebuild
    // over the whole corpus
    val idxPath = graft.sources.GraftSink.scratchDir + "/span_index"
    val newBatch = new graft.sources.GraftCatalog(spark, dir).table("documents")
      .where(graft.operators.Dedup.isNewEpoch)
    graft.operators.Dedup.updateSpanIndex(spark, idxPath, newBatch)
    val updated = spark.read.parquet(idxPath).collect().map(_.getLong(0))
    assert(updated.length === updated.distinct.length, "no duplicate index entries")
    val full = g.select("gh").distinct().collect().map(_.getLong(0)).toSet
    g.unpersist()
    assert(updated.toSet === full, "updated index must equal the full rebuild")
  }

  test("semantic decontamination flags a reordered paraphrase the n-gram gate misses") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_semdecon").toString
    // doc 0 (doc_id%97==0 → the eval doc); doc 1 is its full word
    // REVERSAL: identical bag-of-words (hash-embed cosine = 1.0) but
    // not one shared word 4-gram — the paraphrase-leak shape
    val evalDoc = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val para = evalDoc.split(' ').reverse.mkString(" ")
    val docs = Seq(
      (0L, evalDoc, "a"), (1L, para, "a"),
      (2L, "completely unrelated filler about spark parquet shuffles and joins", "a"),
      (3L, "another unrelated document mentioning benchmarks and leaderboards here", "a"))
    docs.toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("lang", lit("en"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val sem = graft.operators.Dedup.decontaminateSemantic(spark, tmp).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(!sem.contains(0L), "the eval doc itself is not in the train output")
    assert(sem(1L).getLong(3) === 1L, "paraphrase must be flagged")
    assert(sem(1L).getLong(2) === 0L, "culprit is eval doc 0")
    assert(sem(1L).getLong(1) === 1000000L, "identical bag-of-words → cos 1.0")
    assert(sem(2L).getLong(3) === 0L && sem(3L).getLong(3) === 0L)
    // the C9 span gate cannot see it: zero 4-gram overlap
    val spans = graft.operators.Dedup.decontaminate(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(spans(1L) === 0L, "no shared 4-gram span, n-gram gate stays clean")
  }

  test("LSH semantic decontamination recovers the exact twin's flagged set (precision 1 by construction)") {
    val exact = graft.operators.Dedup.decontaminateSemantic(spark, sfDir)
      .where(org.apache.spark.sql.functions.col("contaminated") === 1L)
      .select("doc_id", "max_cos_micro", "nearest_eval")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val lsh = graft.operators.Dedup.decontaminateSemanticLsh(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(exact.nonEmpty, "test corpus must exercise the gate")
    // precision: every LSH row must be a verified-exact contamination
    assert((lsh -- exact).isEmpty, s"LSH emitted non-contaminated rows: ${lsh -- exact}")
    // recall on this corpus: 16 bands x 8 bits recovers everything
    assert(lsh === exact, s"missed: ${exact -- lsh}")
  }

  test("semantic decontamination BROADCASTS the eval vectors; the corpus is never on a build side") {
    val plan = graft.operators.Dedup.decontaminateSemantic(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      "eval side must broadcast into the scoring join: " + plan.take(1000))
    assert(!plan.contains("CartesianProduct"),
      "an unbroadcast cross join would shuffle the corpus against itself: " + plan.take(1000))
  }

  test("C17: the curation funnel is monotone, consistent with C7, and cuts the survivor tail tercile") {
    import graft.operators.Dedup
    val rows = Dedup.curationFunnel(spark, sfDir).collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((0L, "ingested"), (1L, "quality"), (2L, "decontaminated"),
          (3L, "dedup"), (4L, "perplexity")))
    val nDocs = rows.map(_.getLong(2))
    val nToks = rows.map(_.getLong(3))
    assert(nDocs.zip(nDocs.tail).forall { case (a, b) => a >= b },
      s"doc counts must be non-increasing: ${nDocs.toSeq}")
    assert(nToks.zip(nToks.tail).forall { case (a, b) => a >= b })
    assert(nDocs.last > 0, "some docs must survive the whole funnel")
    // every stage cuts into the corpus on this data
    assert(nDocs.distinct.length === nDocs.length,
      s"each gate should remove docs at this SF: ${nDocs.toSeq}")
    // stage 3 must agree with C7's own survivor count
    val c7 = Dedup.curateCorpus(spark, sfDir)
      .agg(org.apache.spark.sql.functions.sum("n_kept")).head().getLong(0)
    assert(nDocs(3) === c7)
    // the perplexity cut keeps head+middle: at least ~2/3 minus ties,
    // never more than stage 3
    val n3 = nDocs(3)
    assert(nDocs(4) <= n3 && nDocs(4) >= n3 - (n3 + 2) / 3,
      s"tail-tercile cut out of range: ${nDocs(4)} of $n3")
  }

  test("C15: LSH banding parameters derive from the threshold rule") {
    import graft.operators.Dedup
    // the shipped C2 configuration IS the 0.5-threshold choice
    assert(Dedup.chooseBands(64, 0.5) === ((16, 4)))
    assert(math.abs(Dedup.lshThreshold(16, 4) - 0.5) < 1e-12)
    // a stricter bar re-splits the same lane budget
    assert(Dedup.chooseBands(64, 0.8) === ((8, 8)))
    assert(math.abs(Dedup.lshThreshold(8, 8) - 0.8) < 0.05)
    // the S-curve: monotone in similarity and steep around the threshold
    val ps = (1 to 19).map(i => Dedup.lshCollisionProb(i / 20.0, 16, 4))
    assert(ps.zip(ps.tail).forall { case (a, b) => a <= b })
    assert(Dedup.lshCollisionProb(0.65, 16, 4) -
      Dedup.lshCollisionProb(0.35, 16, 4) > 0.5,
      "curve must be steep around the 0.5 threshold")
    // degenerate requests fail loudly
    intercept[IllegalArgumentException] { Dedup.chooseBands(64, 1.5) }
  }
}
