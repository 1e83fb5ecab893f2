package graft

import graft.streaming.Events
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

class StreamingSpec extends SparkSpecBase {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming windowed counts match the batch aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      ("click", ts("2024-01-01 10:05:00"), 1.0),
      ("click", ts("2024-01-01 10:45:00"), 2.0),
      ("view",  ts("2024-01-01 10:50:00"), 3.0),
      ("click", ts("2024-01-01 11:05:00"), 4.0))
    val stream = MemoryStream[(String, Timestamp, Double)]
    stream.addData(rows: _*)
    val df = stream.toDF.toDF("event_type", "ts", "value")
    val q = Events.windowedCountsStream(df)
      .writeStream.format("memory").queryName("wc_out")
      .outputMode(OutputMode.Update).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("wc_out")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got === Set(
      ("2024-01-01 10:00:00", "click", 2L, 3.0),
      ("2024-01-01 10:00:00", "view", 1L, 3.0),
      ("2024-01-01 11:00:00", "click", 1L, 4.0)))
  }

  test("stateful sessionization counts gap-separated sessions per user") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Events.Ev]
    stream.addData(
      Events.Ev(1L, ts("2024-01-01 10:00:00")),
      Events.Ev(1L, ts("2024-01-01 10:10:00")), // same session (10 min gap)
      Events.Ev(1L, ts("2024-01-01 11:00:00")), // new session (50 min gap)
      Events.Ev(2L, ts("2024-01-01 09:00:00")))
    val q = Events.sessionizeStream(stream.toDS())
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Update).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess_out").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) === (2L, 3L))
    assert(got(2L) === (1L, 1L))
  }

  test("incremental batches keep session state across triggers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Events.Ev]
    val q = Events.sessionizeStream(stream.toDS())
      .writeStream.format("memory").queryName("sess_inc")
      .outputMode(OutputMode.Update).start()
    stream.addData(Events.Ev(5L, ts("2024-01-01 10:00:00")))
    q.processAllAvailable()
    stream.addData(Events.Ev(5L, ts("2024-01-01 10:05:00"))) // same session
    stream.addData(Events.Ev(5L, ts("2024-01-01 12:00:00"))) // new session
    q.processAllAvailable()
    q.stop()
    // last update for user 5 reflects all three events / two sessions
    val last = spark.table("sess_inc").collect()
      .filter(_.getLong(0) == 5L).last
    assert((last.getLong(1), last.getLong(2)) === (2L, 3L))
  }

  private def lastStateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.recentProgress.reverse.find(_.stateOperators.nonEmpty)
      .map(_.stateOperators.head.numRowsTotal).getOrElse(-1L)

  test("session state evicts after the watermark passes lastTs+gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Events.Ev]
    val q = Events.sessionizeStream(stream.toDS())
      .writeStream.format("memory").queryName("sess_evict")
      .outputMode(OutputMode.Update).start()
    stream.addData(
      Events.Ev(1L, ts("2024-01-01 10:00:00")),
      Events.Ev(1L, ts("2024-01-01 10:10:00")),
      Events.Ev(2L, ts("2024-01-01 10:05:00")))
    q.processAllAvailable()
    assert(lastStateRows(q) === 2L, "both users hold open state")
    // a far-future sentinel advances the watermark past both users'
    // lastTs+gap horizons → their states finalize and drop
    stream.addData(Events.Ev(99L, ts("2024-01-02 12:00:00")))
    q.processAllAvailable()
    q.stop()
    assert(lastStateRows(q) === 1L,
      "users 1 and 2 must be evicted; only the sentinel's state remains")
    // the epoch-final emission carries the full totals
    val finals = spark.table("sess_evict").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(finals(1L) === (1L, 2L) && finals(2L) === (1L, 1L))
  }

  test("sessionize full-corpus replay matches the batch twin per user") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = Events.eventsTable(spark, sfDir)
      .select("user_id", "ts").orderBy("ts")
      .as[Events.Ev].collect()
    val stream = MemoryStream[Events.Ev]
    stream.addData(evs.toIndexedSeq)
    val q = Events.sessionizeStream(stream.toDS())
      .writeStream.format("memory").queryName("sess_replay")
      .outputMode(OutputMode.Update).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("sess_replay").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap // last wins
    val batch = Events.sessionizeBatch(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === batch, s"per-user (sessions, events) must match the batch twin")
  }

  test("funnel state evicts once the anchor window passes the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Events.FunnelEv]
    val q = Events.funnelStream(stream.toDS())
      .writeStream.format("memory").queryName("funnel_evict")
      .outputMode(OutputMode.Update).start()
    stream.addData(
      Events.FunnelEv(1L, "view", ts("2024-01-01 10:00:00")),
      Events.FunnelEv(1L, "click", ts("2024-01-01 10:30:00")))
    q.processAllAvailable()
    assert(lastStateRows(q) === 1L)
    // sentinel 4 days out: watermark passes t1+24h → state finalizes
    stream.addData(Events.FunnelEv(7L, "view", ts("2024-01-05 10:00:00")))
    q.processAllAvailable()
    q.stop()
    assert(lastStateRows(q) === 1L,
      "user 1's closed journey must be evicted; only the sentinel remains")
    val lastForUser1 = spark.table("funnel_evict").collect()
      .filter(_.getLong(0) == 1L).last.getInt(1)
    assert(lastForUser1 === 2, "final emission carries the journey's level")
  }

  test("append-only final funnel levels match the batch funnel counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Events.eventsTable(spark, sfDir)
    val evs = events.select("user_id", "event_type", "ts").orderBy("ts", "event_type")
      .as[Events.FunnelEv].collect()
    val maxTs = events.agg(org.apache.spark.sql.functions.max("ts"))
      .head().getTimestamp(0)
    val stream = MemoryStream[Events.FunnelEv]
    val q = Events.funnelFinalStream(stream.toDS())
      .writeStream.format("memory").queryName("funnel_final")
      .outputMode(OutputMode.Append).start()
    stream.addData(evs.toIndexedSeq)
    q.processAllAvailable()
    // sentinel far enough out that every journey (anchored: t1+24h;
    // un-anchored: watermark+24h) is behind the new watermark
    stream.addData(Events.FunnelEv(-1L, "view",
      new Timestamp(maxTs.getTime + 5L * 24 * 3600 * 1000)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("funnel_final").collect()
      .filter(_.getLong(0) != -1L)
      .map(_.getInt(1)).groupBy(identity).map { case (l, xs) => l -> xs.size.toLong }
    val batch = graft.operators.Behavioral.qFunnelConversion(spark, sfDir)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got === batch,
      s"append-only finals must partition users exactly as the batch funnel: $got vs $batch")
  }

  test("idempotent partitioned sink: a replayed batch rewrites, never duplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = graft.sources.GraftSink.scratchDir + "/stream_idem_sink"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val stream = MemoryStream[(Long, String, Timestamp)]
    val q = Events.streamToIdempotentPartitionedSink(
      stream.toDF.toDF("event_id", "event_type", "ts"), root)
    stream.addData((1L, "click", ts("2024-01-01 10:00:00")),
      (2L, "view", ts("2024-01-01 11:00:00")))
    q.processAllAvailable()
    stream.addData((3L, "click", ts("2024-01-02 10:00:00")))
    q.processAllAvailable()
    q.stop()
    def table() = spark.read.parquet(root)
    assert(table().count() === 3)
    // at-least-once replay of batch 0: same data, same id -> no change
    val replay = Seq((1L, "click", ts("2024-01-01 10:00:00")),
      (2L, "view", ts("2024-01-01 11:00:00"))).toDF("event_id", "event_type", "ts")
    Events.applyPartitionedBatch(replay, 0L, root)
    assert(table().count() === 3, "replayed batch must not duplicate rows")
    // batch_id and event_type are partition columns; pruning layout holds
    assert(table().where(col("event_type") === "click").count() === 2)
    assert(table().select("batch_id").distinct().count() === 2)
  }

  test("ingestion curation gate is stateless and matches the batch gates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evalHashes = graft.operators.Dedup.evalSpanHashes(spark, sfDir)
    val documents = new graft.sources.GraftCatalog(spark, sfDir).table("documents")
    val stream = MemoryStream[(Long, String)]
    stream.addData(documents.select("doc_id", "text").as[(Long, String)]
      .collect().toIndexedSeq)
    val q = Events.curationGateStream(stream.toDF.toDF("doc_id", "text"), evalHashes)
      .select("doc_id")
      .writeStream.format("memory").queryName("gate_out")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    assert(q.recentProgress.forall(_.stateOperators.isEmpty),
      "the gate must run stateless — no state store operators")
    q.stop()
    val kept = spark.table("gate_out").collect().map(_.getLong(0)).toSet
    // batch expectation: quality gate AND not contaminated (eval docs
    // themselves stream in at 100% overlap and drop, matching the
    // batch pipeline's exclusion of them)
    val toks = split(trim(col("text")), "\\s+")
    val quality = documents
      .withColumn("n_toks", size(toks))
      .withColumn("n_distinct", size(array_distinct(toks)))
      .where(col("n_toks") >= 10 && col("n_distinct") * 10 >= col("n_toks") * 3)
      .select("doc_id")
    val clean = graft.operators.Dedup.decontaminate(spark, sfDir)
      .where(col("contaminated") === 0).select("doc_id")
    val expected = quality.join(clean, Seq("doc_id"), "left_semi")
      .collect().map(_.getLong(0)).toSet
    assert(kept === expected,
      s"stream kept ${kept.size} docs, batch gates keep ${expected.size}")
  }

  test("file-stream source: partitioned layout → curation gate → exactly-once sink") {
    val root = java.nio.file.Files.createTempDirectory("graft_fstream").toString
    val documents = new graft.sources.GraftCatalog(spark, sfDir).table("documents")
    // the A7-shaped landing layout: hive-partitioned by source, several
    // files per partition so the stream takes MULTIPLE micro-batches
    documents.repartition(6)
      .write.mode("overwrite").partitionBy("source").parquet(s"$root/layout")
    val evalHashes = graft.operators.Dedup.evalSpanHashes(spark, sfDir)
    val q = Events.fileStreamCuration(
      spark, s"$root/layout", evalHashes, s"$root/sink")
    q.processAllAvailable()
    assert(q.recentProgress.forall(_.stateOperators.isEmpty),
      "the gate must stay stateless on the file stream")
    q.stop()
    val sink = spark.read.parquet(s"$root/sink")
    // it actually streamed: more than one batch_id landed
    val batchIds = sink.select(col("batch_id").cast("long"))
      .distinct().collect().map(_.getLong(0))
    assert(batchIds.length >= 2, s"expected several micro-batches, got ${batchIds.toSeq}")
    // corpus parity with the batch gates (same expectation as the G9 spec)
    val kept = sink.select("doc_id").collect().map(_.getLong(0)).toSet
    val toks = split(trim(col("text")), "\\s+")
    val quality = documents
      .withColumn("n_toks", size(toks))
      .withColumn("n_distinct", size(array_distinct(toks)))
      .where(col("n_toks") >= 10 && col("n_distinct") * 10 >= col("n_toks") * 3)
      .select("doc_id")
    val clean = graft.operators.Dedup.decontaminate(spark, sfDir)
      .where(col("contaminated") === 0).select("doc_id")
    val expected = quality.join(clean, Seq("doc_id"), "left_semi")
      .collect().map(_.getLong(0)).toSet
    assert(kept === expected,
      s"file stream kept ${kept.size} docs, batch gates keep ${expected.size}")
    // sink replay idempotence: re-applying the last batch's rows under
    // the same batchId leaves the curated table identical
    val last = batchIds.max
    // materialize first — the replay must not read the files it rewrites
    val lastRows = sink.where(col("batch_id") === last).drop("batch_id")
    val replay = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(lastRows.collect(): _*)),
      lastRows.schema)
    Events.applyCuratedDocBatch(replay, last, s"$root/sink")
    val after = spark.read.parquet(s"$root/sink")
    assert(after.count() === kept.size.toLong)
    assert(after.select("doc_id").collect().map(_.getLong(0)).toSet === kept)
  }

  test("streaming packing assigns the batch window to every doc across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val toks = new graft.sources.GraftCatalog(spark, sfDir).table("documents")
      .select(col("doc_id"), col("source"),
        expr(s"doc_id div ${graft.operators.Assembly.PackBucket}").as("bucket"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long").as("tokens"))
    val evs = toks.select("source", "bucket", "doc_id", "tokens")
      .as[Events.PackEv].collect().sortBy(_.doc_id)
    val stream = MemoryStream[Events.PackEv]
    val q = Events.packingStream(stream.toDS())
      .writeStream.format("memory").queryName("pack_stream")
      .outputMode(OutputMode.Append).start()
    // per-bucket in-order delivery across SEVERAL batches: state must
    // carry the running count between triggers
    evs.grouped(math.max(evs.length / 3, 1)).foreach { chunk =>
      stream.addData(chunk.toIndexedSeq); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("pack_stream").collect()
      .map(r => r.getLong(2) -> r.getLong(3)).toMap
    // batch expectation: the H1 window rule
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source", "bucket").orderBy("doc_id")
    val expected = toks
      .withColumn("running", sum("tokens").over(w))
      .withColumn("seq_no",
        expr(s"(running - tokens) div ${graft.operators.Assembly.SeqLen}"))
      .select("doc_id", "seq_no").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed.size === expected.size)
    expected.foreach { case (doc, seq) =>
      assert(streamed(doc) === seq, s"doc $doc: stream ${streamed(doc)} vs batch $seq")
    }
  }

  test("gate-emitted BPE token counts match the batch tokenizer exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evalHashes = graft.operators.Dedup.evalSpanHashes(spark, sfDir)
    val codec = graft.operators.BpeTokenizer.trainCodec(spark, sfDir)
    val documents = new graft.sources.GraftCatalog(spark, sfDir).table("documents")
    val stream = MemoryStream[(Long, String)]
    stream.addData(documents.select("doc_id", "text").as[(Long, String)]
      .collect().toIndexedSeq)
    val q = Events.curationGateWithTokens(
      stream.toDF.toDF("doc_id", "text"), evalHashes, codec)
      .select("doc_id", "bpe_tokens")
      .writeStream.format("memory").queryName("gate_bpe")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    assert(q.recentProgress.forall(_.stateOperators.isEmpty),
      "the tokenizing gate must stay stateless")
    q.stop()
    val streamed = spark.table("gate_bpe").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed.nonEmpty)
    val batch = graft.operators.BpeTokenizer.bpeTokens(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    streamed.foreach { case (doc, n) =>
      assert(batch(doc) === n, s"doc $doc: stream $n vs batch ${batch(doc)}")
    }
  }

  test("ingestion gate drops a planted leak and a low-quality doc mid-stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evalText = "what is the capital of france answer paris of course"
    val evalHashes = {
      import org.apache.spark.sql.functions.{col => c}
      graft.operators.Dedup.wordGramHashesOf(
        Seq((97L, evalText)).toDF("doc_id", "text"))
        .select("gh").collect().map(_.getLong(0))
    }
    val stream = MemoryStream[(Long, String)]
    val q = Events.curationGateStream(stream.toDF.toDF("doc_id", "text"), evalHashes)
      .select("doc_id")
      .writeStream.format("memory").queryName("gate_plant")
      .outputMode(OutputMode.Append).start()
    stream.addData(
      (1L, evalText + " with a tiny suffix appended"),            // leak -> dropped
      (2L, "short doc"),                                           // quality -> dropped
      (3L, "a perfectly ordinary training document with many distinct tokens inside"))
    q.processAllAvailable(); q.stop()
    val kept = spark.table("gate_plant").collect().map(_.getLong(0)).toSet
    assert(kept === Set(3L), s"got $kept")
  }

  test("streaming funnel replay matches the batch funnel levels") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // replay the whole sf0.001 event log in event-time order
    val evs = Events.eventsTable(spark, sfDir)
      .select("user_id", "event_type", "ts")
      .orderBy("ts", "event_type")
      .as[Events.FunnelEv].collect()
    val stream = MemoryStream[Events.FunnelEv]
    stream.addData(evs.toIndexedSeq)
    val q = Events.funnelStream(stream.toDS())
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode(OutputMode.Update).start()
    q.processAllAvailable()
    q.stop()
    // last emission per user = final level; compare level histogram
    val got = spark.table("funnel_out").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap // last write wins per key
      .values.groupBy(identity).map { case (l, xs) => l -> xs.size.toLong }
    val batch = graft.operators.Behavioral.qFunnelConversion(spark, sfDir)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == batch, s"stream $got vs batch $batch")
  }

  test("streaming funnel state advances greedily across triggers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Events.FunnelEv]
    val q = Events.funnelStream(stream.toDS())
      .writeStream.format("memory").queryName("funnel_inc")
      .outputMode(OutputMode.Update).start()
    stream.addData(Events.FunnelEv(9L, "view", ts("2024-01-01 10:00:00")))
    q.processAllAvailable()
    stream.addData(Events.FunnelEv(9L, "click", ts("2024-01-01 11:00:00")))
    q.processAllAvailable()
    // purchase OUTSIDE the 24h anchor window must not level up
    stream.addData(Events.FunnelEv(9L, "purchase", ts("2024-01-03 10:00:01")))
    q.processAllAvailable()
    q.stop()
    val last = spark.table("funnel_inc").collect()
      .filter(_.getLong(0) == 9L).last
    assert(last.getInt(1) == 2, "late purchase must not complete the funnel")
  }

  test("stream-stream LEFT OUTER join emits unmatched clicks after watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val purchases = MemoryStream[(Long, Long, Timestamp)]
    val q = Events.clickToPurchaseStreamOuter(
        clicks.toDF.toDF("click_id", "click_user", "click_ts"),
        purchases.toDF.toDF("purchase_id", "purchase_user", "purchase_ts"))
      .writeStream.format("memory").queryName("cp_outer")
      .outputMode(OutputMode.Append).start()
    clicks.addData((1L, 7L, ts("2024-01-01 10:00:00")))  // converts
    clicks.addData((2L, 8L, ts("2024-01-01 10:00:00")))  // never converts
    purchases.addData((100L, 7L, ts("2024-01-01 10:30:00")))
    q.processAllAvailable()
    // advance both watermarks far past click+1h+2h so the unmatched
    // click's state is evicted and the null-padded row emits
    clicks.addData((99L, 1L, ts("2024-01-02 10:00:00")))
    purchases.addData((999L, 1L, ts("2024-01-02 10:00:00")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("cp_outer").collect()
      .map(r => (r.getLong(0), Option(r.get(3)).map(_ => r.getLong(3))))
    assert(rows.contains((1L, Some(100L))), s"converted click must match: ${rows.toSeq}")
    assert(rows.contains((2L, None)), s"unconverted click must null-pad: ${rows.toSeq}")
  }

  test("foreachBatch summary merges partials exactly once across triggers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = graft.sources.GraftSink.scratchDir + "/stream_summary"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val stream = MemoryStream[(String, Double, Timestamp)]
    val q = Events.incrementalSummarySink(
      stream.toDF.toDF("event_type", "value", "ts"), root)
    stream.addData(("click", 1.5, ts("2024-01-01 10:00:00")),
      ("view", 2.0, ts("2024-01-01 10:01:00")))
    q.processAllAvailable()
    stream.addData(("click", 3.5, ts("2024-01-01 11:00:00")))
    q.processAllAvailable()
    q.stop()
    def summary() = spark.read.parquet(s"$root/summary.parquet").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2).doubleValue())).toMap
    val after = summary()
    assert(after("click") == (2L, 5.0) && after("view") == (1L, 2.0), s"$after")
    // at-least-once replay: re-apply an already-applied batchId → no-op
    val replay = Seq(("click", 99.0)).toDF("event_type", "value")
    Events.applySummaryBatch(replay.toDF, 0L, root)
    assert(summary() == after, "replayed batch must not double-apply")
    // a NEW batch id with the same data does apply
    Events.applySummaryBatch(replay.toDF, 7L, root)
    assert(summary()("click") == (3L, 104.0))

    // crash-window recovery: simulate the swap dying between delete and
    // rename (live dir gone, staging dir FULLY committed — marker
    // inside). The next call must adopt the staging dir, see the
    // already-applied batchId, and no-op — no history lost, no
    // double-apply.
    val expected = summary()
    fs.rename(new org.apache.hadoop.fs.Path(s"$root/summary.parquet"),
      new org.apache.hadoop.fs.Path(s"$root/summary.staging"))
    Events.applySummaryBatch(replay.toDF, 7L, root)
    assert(summary() == expected,
      "recovery must adopt the committed staging dir and skip the replayed batch")
  }

  test("batch sessionize on sf0.001 events is consistent") {
    val out = Events.sessionizeBatch(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(1) >= 1L && r.getLong(1) <= r.getLong(2))
    }
  }

  test("stream-static join enriches events with the customer dim") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val customers = Seq((1L, "BUILDING"), (2L, "MACHINERY"))
      .toDF("c_custkey", "c_mktsegment")
    val stream = MemoryStream[(Long, Timestamp, Double)]
    stream.addData(
      (1L, ts("2024-01-01 10:00:00"), 1.0),
      (1L, ts("2024-01-01 11:00:00"), 2.0),
      (2L, ts("2024-01-01 10:00:00"), 5.0))
    val df = stream.toDF.toDF("user_id", "ts", "value")
    val q = graft.streaming.Events.enrichedCountsStream(df, customers)
      .writeStream.format("memory").queryName("enr_out")
      .outputMode(OutputMode.Complete).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("enr_out").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got === Map("BUILDING" -> (2L, 3.0), "MACHINERY" -> (1L, 5.0)))
  }

  test("streaming dedup keeps the first occurrence per event_id") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Double)]
    stream.addData(
      (10L, ts("2024-01-01 10:00:00"), 1.0),
      (10L, ts("2024-01-01 10:01:00"), 2.0),
      (11L, ts("2024-01-01 10:02:00"), 3.0))
    val df = stream.toDF.toDF("event_id", "ts", "value")
    val q = graft.streaming.Events.dedupStream(df)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("dedup_out").collect().map(_.getLong(0)).sorted
    assert(got.toSeq === Seq(10L, 11L))
  }

  test("within-watermark dedup collapses duplicates across triggers, batch twin agrees") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Long, String)]
    // duplicates of (user 1, click, hour 10) split ACROSS two triggers
    // — state must survive the batch boundary within the watermark
    stream.addData(
      (1L, ts("2024-01-01 10:05:00"), 1L, "click"),
      (2L, ts("2024-01-01 10:06:00"), 1L, "click")) // dup of key, later ts
    val df = stream.toDF.toDF("event_id", "ts", "user_id", "event_type")
    val q = Events.dedupFirstStream(df)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    stream.addData(
      (3L, ts("2024-01-01 10:30:00"), 1L, "click"),  // dup again, trigger 2
      (4L, ts("2024-01-01 11:05:00"), 1L, "click"))  // new hour -> kept
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("dedup_out").select("event_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 4L), s"first arrival per (user,type,hour) wins: $kept")

    // batch twin on the corpus: output keys unique, group sizes cover
    // the full table
    val twin = Events.dedupFirstBatch(spark, sfDir).collect()
    val keys = twin.map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(keys.distinct.length === keys.length)
    val total = twin.map(_.getLong(4)).sum
    assert(total === Events.eventsTable(spark, sfDir).count())
  }

  test("foreachBatch sink writes a partitioned layout readable with pruning") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_sink").toString
    val stream = MemoryStream[(Long, Timestamp, String, Double)]
    stream.addData(
      (1L, ts("2024-01-01 10:00:00"), "click", 1.0),
      (2L, ts("2024-01-01 10:05:00"), "view", 2.0),
      (3L, ts("2024-01-01 11:00:00"), "click", 3.0))
    val df = stream.toDF.toDF("event_id", "ts", "event_type", "value")
    val q = graft.streaming.Events.streamToPartitionedSink(df, tmp)
    q.processAllAvailable(); q.stop()
    val back = spark.read.parquet(tmp)
    assert(back.count() === 3)
    val clicks = back.where($"event_type" === "click")
    assert(clicks.count() === 2)
    val plan = clicks.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"), plan.take(600))
  }

  test("native session_window stream emits watermark-closed sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp)]
    stream.addData(
      (1L, ts("2024-01-01 10:00:00")),
      (1L, ts("2024-01-01 10:10:00")), // same session (10 min gap)
      (1L, ts("2024-01-01 11:00:00")), // new session (50 min gap)
      (2L, ts("2024-01-01 09:00:00")))
    val df = stream.toDF.toDF("user_id", "ts")
    val q = Events.sessionWindowStream(df)
      .writeStream.format("memory").queryName("sw_out")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    // advance the watermark (2h delay) past every session end so the
    // engine closes and emits them; the flush user's own session stays
    // open and must NOT appear.
    stream.addData((99L, ts("2024-01-02 00:00:00")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sw_out").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getTimestamp(2).toString, r.getLong(3)))
      .toSet
    assert(got === Set(
      (1L, "2024-01-01 10:00:00.0", "2024-01-01 10:40:00.0", 2L),
      (1L, "2024-01-01 11:00:00.0", "2024-01-01 11:30:00.0", 1L),
      (2L, "2024-01-01 09:00:00.0", "2024-01-01 09:30:00.0", 1L)), got.toString)
  }

  test("session_window batch agrees with lag-based sessionize on the corpus") {
    val lagBased = Events.sessionizeBatch(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val native = Events.sessionWindowBatch(spark, sfDir).collect()
      .groupBy(_.getLong(0))
      .map { case (u, rows) => u -> (rows.length.toLong, rows.map(_.getLong(3)).sum) }
    // boundary semantics differ only at a gap of exactly GapSeconds
    // (session_window is end-exclusive) — absent on this corpus, so
    // per-user (n_sessions, n_events) must agree exactly.
    assert(native === lagBased)
  }

  test("watermarked stream-stream join matches purchases to prior clicks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val purchases = MemoryStream[(Long, Timestamp)]
    clicks.addData(
      (1L, ts("2024-01-01 10:00:00")),
      (2L, ts("2024-01-01 10:00:00")))
    purchases.addData(
      (1L, ts("2024-01-01 10:30:00")),  // within the hour -> joined
      (2L, ts("2024-01-01 12:30:00")),  // too late -> dropped
      (3L, ts("2024-01-01 10:15:00")))  // no click -> dropped
    val out = graft.streaming.Events.clickToPurchaseStream(
      clicks.toDF.toDF("click_user", "click_ts"),
      purchases.toDF.toDF("purchase_user", "purchase_ts"))
    val q = out.writeStream.format("memory").queryName("ss_join")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("ss_join").collect().map(_.getLong(0)).sorted
    assert(got.toSeq === Seq(1L))
  }

  test("stream-stream join batch twin agrees with the streaming form on the corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val ev = graft.streaming.Events.eventsTable(spark, sfDir)
    val clicksRows = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
      .as[(Long, Long, Timestamp)].collect().toSeq
    val purchRows = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
      .as[(Long, Long, Timestamp)].collect().toSeq
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val purchases = MemoryStream[(Long, Long, Timestamp)]
    clicks.addData(clicksRows)
    purchases.addData(purchRows)
    val out = graft.streaming.Events.clickToPurchaseStream(
      clicks.toDF.toDF("click_id", "click_user", "click_ts"),
      purchases.toDF.toDF("purchase_id", "purchase_user", "purchase_ts"))
    val q = out.writeStream.format("memory").queryName("ss_join_corpus")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ss_join_corpus")
      .select("click_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.streaming.Events.clickToPurchaseBatch(spark, sfDir)
      .select("click_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("streaming heavy hitters: a user rising from outside the top-k displaces it; replays are no-ops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_hh").toString
    val stream = MemoryStream[Events.Ev]
    val k = 3
    val q = Events.heavyHittersSink(stream.toDF(), root, k)
    // batch 1: users 1..5 with counts 5,4,3,2,1 → top3 = 1,2,3
    stream.addData((1 to 5).flatMap(u => Seq.fill(6 - u)(Events.Ev(u.toLong, ts("2024-01-01 10:00:00")))))
    q.processAllAvailable()
    val top1 = spark.read.parquet(s"$root/topk.parquet").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(-_._2)
    assert(top1.map(_._1).toSeq === Seq(1L, 2L, 3L))
    // batch 2: user 5 (outside the leaderboard) surges past everyone
    stream.addData(Seq.fill(10)(Events.Ev(5L, ts("2024-01-01 11:00:00"))))
    q.processAllAvailable()
    q.stop()
    val top2 = spark.read.parquet(s"$root/topk.parquet").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(-_._2)
    assert(top2.head === ((5L, 11L)), s"user 5 must lead: ${top2.toSeq}")
    assert(top2.map(_._1).toSeq === Seq(5L, 1L, 2L))
    // the durable mirror equals a batch recount of everything fed
    val counts = spark.read.parquet(s"$root/counts.parquet").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(counts === Map(1L -> 5L, 2L -> 4L, 3L -> 3L, 4L -> 2L, 5L -> 11L))
    // replay: re-applying the same absolute totals changes nothing
    val replay = Seq((5L, 11L), (1L, 5L)).toDF("user_id", "n")
    Events.applyHeavyHitterBatch(replay, root, k)
    val counts2 = spark.read.parquet(s"$root/counts.parquet").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(counts2 === counts)
  }

  test("streamed inverted index serves BM25 identical to scan-time; replayed batch is a no-op") {
    import spark.implicits._
    import graft.operators.Bm25
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_stream_idx").toString
    val all = new graft.sources.GraftCatalog(spark, sfDir).table("documents")
      .select(col("doc_id"), col("text"))
    val isNewEpoch = pmod(col("doc_id"), lit(5L)) === 0L
    // the historical corpus is the initial index build — applied
    // through the SAME per-batch commit the stream uses, addressed as
    // batch -1 (the stream's own ids start at 0 and must not collide)
    Bm25.applyIndexBatch(all.where(!isNewEpoch), -1L, root + "/idx")
    // the new epoch arrives as a STREAM, split across two micro-batches
    val newDocs = all.where(isNewEpoch).as[(Long, String)].collect().sortBy(_._1)
    val (chunk1, chunk2) = newDocs.splitAt(newDocs.length / 2)
    val stream = MemoryStream[(Long, String)]
    val q = Bm25.indexMaintenanceSink(
      stream.toDF().toDF("doc_id", "text"), root + "/idx")
    stream.addData(chunk1.toSeq)
    q.processAllAvailable()
    stream.addData(chunk2.toSeq)
    q.processAllAvailable()
    q.stop()
    // the streamed index serves the SAME ranking as tokenizing the
    // corpus at query time (E13) — increment ≡ rebuild, stream form
    val served = Bm25.serveIndexedBm25(spark, root + "/idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val scanTime = Bm25.retrieve(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(served === scanTime, "streamed index must serve scan-time BM25 exactly")
    assert(served.nonEmpty)
    // at-least-once replay: re-committing the last micro-batch
    // overwrites its own batch directory — the serve is unchanged
    // partition discovery types small batch_id values as int
    val lastId = spark.read.parquet(s"$root/idx/postings")
      .agg(max("batch_id")).collect()(0).getAs[Number](0).longValue
    Bm25.applyIndexBatch(chunk2.toSeq.toDF("doc_id", "text"), lastId, root + "/idx")
    val reServed = Bm25.serveIndexedBm25(spark, root + "/idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(reServed === served, "replayed batch must be a no-op")
  }

  test("streaming incremental dedup: provenance-exact probes, idempotent replay, index == rebuild") {
    import spark.implicits._
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_stream_dedup").toString
    val all = new graft.sources.GraftCatalog(spark, sfDir).table("documents")
      .select(col("doc_id"), col("text"))
    // three epochs arrive as three micro-batches (batchIds 0,1,2)
    val chunks = (0L to 2L).map(i =>
      all.where(pmod(col("doc_id"), lit(3L)) === i)
        .as[(Long, String)].collect().sortBy(_._1).toSeq)
    val stream = MemoryStream[(Long, String)]
    val q = Dedup.dedupIngestSink(stream.toDF().toDF("doc_id", "text"), root)
    chunks.foreach { c => stream.addData(c); q.processAllAvailable() }
    q.stop()
    val got = spark.read.parquet(s"$root/results")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // independent oracle: a span occurrence is "seen" iff its hash
    // FIRST appeared in a strictly earlier batch
    val tagged = Dedup.wordGramHashesOf(all)
      .withColumn("b", pmod(col("doc_id"), lit(3L)))
    val firstB = tagged.groupBy("gh").agg(min("b").as("fb"))
    val expSpans = tagged.join(firstB, Seq("gh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("fb") < col("b"), 1L).otherwise(0L)).as("n_seen"))
    val exp = all.select("doc_id").join(expSpans, Seq("doc_id"), "left")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) (0L, 0L) else (r.getLong(1), r.getLong(2)))).toMap
    assert(got === exp, "streamed probes must match the first-batch-wins oracle")
    assert(got.values.exists(_._2 > 0L), "some spans must be seen across batches")
    // replayed batch: identical output, index unchanged (anti-join +
    // provenance exclusion make the recomputation exact)
    val idxRows = spark.read.parquet(s"$root/index").count()
    Dedup.applyDedupBatch(chunks(2).toDF("doc_id", "text"), 2L, root)
    val got2 = spark.read.parquet(s"$root/results")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got2 === got, "replayed batch must recompute identically")
    assert(spark.read.parquet(s"$root/index").count() === idxRows)
    // the grown index equals a from-scratch distinct-span build
    val streamedSet = spark.read.parquet(s"$root/index")
      .select("gh").as[Long].collect().toSet
    val rebuilt = Dedup.wordGramHashesOf(all).select("gh")
      .distinct().as[Long].collect().toSet
    assert(streamedSet === rebuilt, "index must equal a full rebuild")
  }

  test("streamed-index compaction folds batch dirs into one segment, serve unchanged") {
    import graft.operators.Bm25
    val root = java.nio.file.Files.createTempDirectory("graft_idx_compact").toString
    val all = new graft.sources.GraftCatalog(spark, sfDir).table("documents")
      .select(col("doc_id"), col("text"))
    // three epochs land as separate batch commits
    Bm25.applyIndexBatch(all.where(pmod(col("doc_id"), lit(3L)) === 0L), -1L, root)
    Bm25.applyIndexBatch(all.where(pmod(col("doc_id"), lit(3L)) === 1L), 0L, root)
    Bm25.applyIndexBatch(all.where(pmod(col("doc_id"), lit(3L)) === 2L), 1L, root)
    val before = Bm25.serveIndexedBm25(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val filesBefore = spark.read.parquet(s"$root/postings").inputFiles.length
    Bm25.compactStreamedIndex(spark, root)
    val after = Bm25.serveIndexedBm25(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(after === before, "compaction must not change the served ranking")
    // one consolidated segment; the batch-dir sprawl is gone
    val batchDirs = spark.read.parquet(s"$root/postings")
      .select("batch_id").distinct().count()
    assert(batchDirs === 1L, s"expected one segment, got $batchDirs")
    assert(spark.read.parquet(s"$root/postings").inputFiles.length <= filesBefore)
    // and the index keeps absorbing post-compaction stream batches
    Bm25.applyIndexBatch(all.limit(0), 1L, root) // empty batch: no-op commit
    assert(Bm25.serveIndexedBm25(spark, root).collect().length === after.length)
  }

  test("G17: a stream maintains the B69 rollup exactly once; the rewrite serves it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.plans.GraftMv
    val root = java.nio.file.Files.createTempDirectory("graft_mv_stream").toString
    val base = s"$root/events_base.parquet"
    val d = GraftMv.MvDef(base, s"$root/mv.parquet",
      groupCols = Seq("user_id"),
      measures = Seq("cnt" -> GraftMv.MvCount, "cnt_ts" -> GraftMv.MvCountCol("ts")))
    val stream = MemoryStream[Events.Ev]
    val q = Events.mvMaintenanceSink(stream.toDF(), d, root)
    val b1 = (1 to 3).flatMap(u => Seq.fill(u)(Events.Ev(u.toLong, ts("2024-01-01 10:00:00"))))
    val b2 = Seq.fill(4)(Events.Ev(2L, ts("2024-01-01 11:00:00"))) :+
      Events.Ev(9L, ts("2024-01-01 11:00:00"))
    stream.addData(b1)
    q.processAllAvailable()
    stream.addData(b2)
    q.processAllAvailable()
    q.stop()
    // the streamed MV equals a batch rebuild over everything fed
    val fed = (b1 ++ b2).toDF()
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("user_id").collect().map(_.toString).toSeq
    assert(sorted(spark.read.parquet(d.mvPath)) === sorted(GraftMv.mvFrameOf(fed, d)))
    // an at-least-once replay of the LAST batch is a no-op (ledger)
    Events.applyMvBatch(b2.toDF(), 1L, d, root)
    assert(sorted(spark.read.parquet(d.mvPath)) === sorted(GraftMv.mvFrameOf(fed, d)))
    // and the B69 rewrite serves the streamed rollup for base-table queries
    fed.write.mode("overwrite").parquet(base)
    GraftMv.register(spark, d)
    try {
      def qy = spark.read.parquet(base).groupBy("user_id")
        .agg(count(lit(1)).as("n")).orderBy("user_id")
      val rewritten = qy
      assert(rewritten.queryExecution.executedPlan.toString.contains("mv.parquet"))
      val got = rewritten.collect().map(_.toString).toSeq
      GraftMv.clear()
      assert(got === qy.collect().map(_.toString).toSeq)
    } finally GraftMv.clear()
    // crash window: the swap died between delete and rename — a fully
    // committed staging dir and no live dir. The next batch must adopt
    // the staging dir BEFORE merging, losing no history.
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.rename(new org.apache.hadoop.fs.Path(d.mvPath),
      new org.apache.hadoop.fs.Path(s"$root/mv.staging"))
    val b3 = Seq(Events.Ev(9L, ts("2024-01-01 12:00:00")))
    Events.applyMvBatch(b3.toDF(), 2L, d, root)
    assert(sorted(spark.read.parquet(d.mvPath)) ===
      sorted(GraftMv.mvFrameOf((b1 ++ b2 ++ b3).toDF(), d)))
  }

  test("G16: streaming counts upsert a JDBC store exactly once; replays are no-ops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val table = "g16_counts"
    // clean slate in the shared embedded database
    Events.ensureCountsTable(spark, table)
    val conn = java.sql.DriverManager.getConnection(
      graft.sources.GraftJdbc.url(spark),
      graft.sources.GraftJdbc.connectionProperties(spark))
    try conn.createStatement().executeUpdate(s"DELETE FROM $table")
    finally conn.close()
    def stored: Map[Long, Long] = spark.read
      .jdbc(graft.sources.GraftJdbc.url(spark), table,
        graft.sources.GraftJdbc.connectionProperties(spark))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

    val stream = MemoryStream[Events.Ev]
    val q = Events.jdbcCountsSink(stream.toDF(), table)
    // batch 1: users 1..3 with counts 3,2,1
    stream.addData((1 to 3).flatMap(u =>
      Seq.fill(4 - u)(Events.Ev(u.toLong, ts("2024-01-01 10:00:00")))))
    q.processAllAvailable()
    assert(stored === Map(1L -> 3L, 2L -> 2L, 3L -> 1L))
    // batch 2: user 3 climbs, user 4 appears — absolute totals land
    stream.addData(Seq.fill(5)(Events.Ev(3L, ts("2024-01-01 11:00:00"))) :+
      Events.Ev(4L, ts("2024-01-01 11:00:00")))
    q.processAllAvailable()
    q.stop()
    val after = stored
    assert(after === Map(1L -> 3L, 2L -> 2L, 3L -> 6L, 4L -> 1L))
    // an at-least-once replay of the last changed keys is a no-op
    Events.applyJdbcCountsBatch(
      Seq((3L, 6L), (4L, 1L)).toDF("user_id", "n"), table)
    assert(stored === after)
  }

  test("G18: audited ingest publishes clean batches, quarantines dirty ones, and replays are no-ops") {
    import spark.implicits._
    import graft.sources.GraftCatalog
    import graft.sources.GraftCatalog.AuditRule
    val root = graft.sources.GraftSink.scratchDir + "/wap_stream"
    val rp = new org.apache.hadoop.fs.Path(root)
    rp.getFileSystem(spark.sessionState.newHadoopConf()).delete(rp, true)
    val name = "readings"
    val rules = Seq(AuditRule("nonpositive_value", col("v") <= 0.0))
    def mk(rows: (Long, Double)*) = rows.toSeq.toDF("id", "v")

    // batch 0: clean → epoch 1
    Events.applyAuditedBatch(mk(1L -> 1.0, 2L -> 2.0), 0L, root, name, rules)
    val c1 = new GraftCatalog(spark, root)
    assert(c1.snapshotIds(name) === Seq(1L))
    assert(c1.tableAsOf(name, 1L).count() === 2L)
    // batch 1: one violating row → quarantined, tip unchanged,
    // manifest names the rule, batch dir diverted out of the table
    Events.applyAuditedBatch(mk(3L -> -1.0, 4L -> 4.0), 1L, root, name, rules)
    assert(new GraftCatalog(spark, root).snapshotIds(name) === Seq(1L))
    val manifest = spark.read.parquet(s"$root/_quarantine/$name/manifest_batch_1.parquet")
    assert(manifest.count() === 1L)
    assert(manifest.select("reasons").head().getString(0) === "nonpositive_value")
    assert(!new java.io.File(s"$root/$name.parquet/batch_id=1").exists())
    assert(new java.io.File(s"$root/_quarantine/$name/batch_id=1").exists())
    // batch 2: clean → the poison batch did not wedge the stream
    Events.applyAuditedBatch(mk(5L -> 5.0), 2L, root, name, rules)
    val c2 = new GraftCatalog(spark, root)
    assert(c2.snapshotIds(name) === Seq(1L, 2L))
    assert(c2.tableAsOf(name, 2L).count() === 3L)
    // replay of the published batch: no duplicate epoch, tip intact,
    // the pinned files untouched (a rewrite would orphan the manifest)
    Events.applyAuditedBatch(mk(5L -> 5.0), 2L, root, name, rules)
    assert(new GraftCatalog(spark, root).snapshotIds(name) === Seq(1L, 2L))
    assert(new GraftCatalog(spark, root).tableAsOf(name, 2L).count() === 3L)
    // replay of the quarantined batch: no-op
    Events.applyAuditedBatch(mk(3L -> -1.0, 4L -> 4.0), 1L, root, name, rules)
    assert(new GraftCatalog(spark, root).snapshotIds(name) === Seq(1L, 2L))
    assert(!new java.io.File(s"$root/$name.parquet/batch_id=1").exists())
    // end to end through a real stream, on its OWN root (a stream's
    // batchIds start at 0 and must not collide with batches another
    // writer already landed under the same table)
    val root2 = graft.sources.GraftSink.scratchDir + "/wap_stream_e2e"
    val rp2 = new org.apache.hadoop.fs.Path(root2)
    rp2.getFileSystem(spark.sessionState.newHadoopConf()).delete(rp2, true)
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Double)]
    val q = Events.auditedIngestSink(stream.toDF().toDF("id", "v"), root2, name, rules)
    stream.addData((6L, 6.0)); q.processAllAvailable()
    stream.addData((7L, -7.0)); q.processAllAvailable() // dirty mid-stream
    stream.addData((8L, 8.0)); q.processAllAvailable()
    q.stop()
    val c3 = new GraftCatalog(spark, root2)
    assert(c3.snapshotIds(name) === Seq(1L, 2L))
    assert(c3.tableAsOf(name, 2L).select("id").collect().map(_.getLong(0)).toSet
      === Set(6L, 8L), "the dirty mid-stream batch must be quarantined")
    assert(new java.io.File(s"$root2/_quarantine/$name/batch_id=1").exists())
  }

  test("G21: a drifting ingestion batch raises exactly one alert; clean batches and replays stay silent") {
    import spark.implicits._
    val root = graft.sources.GraftSink.scratchDir + "/drift_monitor"
    val rp = new org.apache.hadoop.fs.Path(root)
    rp.getFileSystem(spark.sessionState.newHadoopConf()).delete(rp, true)
    val base = Events.driftBaseline(spark, sfDir)
    assert(base > 0L)
    // a corpus-shaped batch sits within the 30% band: no alert
    val normal = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").limit(40).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val q = Events.driftMonitorSink(
      stream.toDF().toDF("doc_id", "text"), root, base)
    stream.addData(normal); q.processAllAvailable()
    val alertsDir = new java.io.File(s"$root/alerts")
    assert(!alertsDir.exists || alertsDir.listFiles().isEmpty,
      "a corpus-shaped batch must not alert")
    // a degenerate flood (one-token docs) collapses the mean: alert
    stream.addData((0 until 40).map(i => (900000L + i, "x")))
    q.processAllAvailable()
    q.stop()
    val alerts = spark.read.parquet(s"$root/alerts")
    assert(alerts.count() === 1, "exactly one alert row for the bad batch")
    val a = alerts.head()
    assert(a.getAs[Number]("batch_id").longValue === 1L)
    assert(a.getAs[Long]("mean_tokens_micro") < base)
    assert(a.getAs[Long]("base_mean_micro") === base)
    // an at-least-once REPLAY of the bad batch overwrites, never dups
    Events.applyDriftBatch(
      (0 until 40).map(i => (900000L + i, "x")).toDF("doc_id", "text"),
      1L, root, base)
    assert(spark.read.parquet(s"$root/alerts").count() === 1)
  }

  test("G23: the streaming perplexity gate reproduces the batch buckets, drives OOV junk to the tail, and replays idempotently") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val model = graft.sources.GraftSink.scratchDir + "/ppl_model"
    val root = graft.sources.GraftSink.scratchDir + "/ppl_gate"
    Seq(model, root).foreach { d =>
      val pth = new org.apache.hadoop.fs.Path(d)
      pth.getFileSystem(spark.sessionState.newHadoopConf()).delete(pth, true)
    }
    TextAnalysis.perplexityModelTrain(spark, sfDir, model)
    // in-corpus docs stream through: the gate must route them by
    // EXACTLY the batch-path buckets (frozen model == corpus stats)
    val batchBuckets = TextAnalysis.perplexityBuckets(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    val corpusDocs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").limit(60).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val q = Events.perplexityGateSink(
      stream.toDF().toDF("doc_id", "text"), model, root)
    stream.addData(corpusDocs); q.processAllAvailable()
    // batch 1: OOV junk (words the corpus never produced) + a
    // wordless doc - all must land in rejected
    val junk = (0 until 10).map(i => (910000L + i, s"zzqx$i vrmple$i"))
      .toSeq :+ ((919999L, "   "))
    stream.addData(junk); q.processAllAvailable()
    q.stop()
    val acc = spark.read.parquet(s"$root/accepted/batch_id=0")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("ppl_bucket")))
    val rej = spark.read.parquet(s"$root/rejected/batch_id=0")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("ppl_bucket")))
    assert(acc.nonEmpty, "corpus head/middle docs must be accepted")
    acc.foreach { case (id, b) =>
      assert(b <= 1L && batchBuckets(id) === b,
        s"doc $id gate bucket $b != batch bucket ${batchBuckets(id)}") }
    rej.foreach { case (id, b) =>
      assert(b === 2L)
      // wordless docs are absent from the batch query (CCNet drops
      // them); worded rejects must match the batch tail exactly
      if (batchBuckets.contains(id)) assert(batchBuckets(id) === 2L)
    }
    assert((acc.map(_._1) ++ rej.map(_._1)).sorted
      === corpusDocs.map(_._1).sorted, "the gate must account for every doc")
    // the OOV batch: everything rejected, scores at or below the
    // pinned OOV penalty; the wordless doc rides along rejected
    val meta = spark.read.parquet(s"$model/meta").head()
    val oov = meta.getAs[Long]("oov_lp_micro")
    assert(oov === math.floor(math.log(
      1.0 / meta.getAs[Long]("total_words").toDouble) * 1e6).toLong)
    assert(!new java.io.File(s"$root/accepted/batch_id=1").exists() ||
      spark.read.parquet(s"$root/accepted/batch_id=1").count() === 0)
    val rej1 = spark.read.parquet(s"$root/rejected/batch_id=1").collect()
    assert(rej1.length === junk.length)
    rej1.filter(_.getAs[Long]("n_words") > 0L).foreach { r =>
      assert(r.getAs[Long]("avg_lp_micro") === oov,
        "all-OOV docs score exactly the pinned penalty") }
    assert(rej1.exists(_.getAs[Long]("n_words") === 0L))
    // at-least-once replay: the batch dir is overwritten, never doubled
    Events.applyPerplexityGateBatch(
      junk.toDF("doc_id", "text"), 1L, model, root)
    assert(spark.read.parquet(s"$root/rejected/batch_id=1").count()
      === junk.length)
  }

  test("G24: the streaming MOR upsert applies exactly once, dedups in-batch, and the crash window stays content-idempotent") {
    import spark.implicits._
    import graft.sources.GraftMor
    val path = graft.sources.GraftSink.scratchDir + "/mor_sink_tbl"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, true)
    spark.range(100).select(col("id").as("k"), (col("id") * 10L).as("v"))
      .coalesce(2).write.parquet(path)
    // full physical signature INCLUDING the _dv sidecar and markers
    def sig(): Set[(String, Long, Long)] = {
      val out = Set.newBuilder[(String, Long, Long)]
      val it = fs.listFiles(p, true)
      while (it.hasNext) { val f = it.next()
        out += ((f.getPath.toString, f.getLen, f.getModificationTime)) }
      out.result()
    }
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Long)]
    val q = Events.morUpsertSink(stream.toDF().toDF("k", "v"), path, Seq("k"))
    // batch 0: updates on keys 0-9 with an in-batch duplicate on key 5
    // (struct-min survivor → the smaller v wins), plus two inserts
    stream.addData((0L until 10L).map(k => (k, k + 1000L)) ++
      Seq((5L, 999L), (200L, 1L), (201L, 2L)))
    q.processAllAvailable()
    val read1 = GraftMor.morRead(spark, path)
    assert(read1.count() === 102)
    assert(read1.where(col("k") === 5L).collect()
      .map(_.getLong(1)).toSeq === Seq(999L), "in-batch dup: one deterministic survivor")
    assert(read1.where(col("k") === 3L).head().getLong(1) === 1003L)
    // batch 1: a second generation on key 3 supersedes batch 0's version
    stream.addData(Seq((3L, 7L)))
    q.processAllAvailable()
    q.stop()
    assert(GraftMor.morRead(spark, path)
      .where(col("k") === 3L).head().getLong(1) === 7L)
    // replay of a MARKED batch: physical no-op
    val before = sig()
    Events.applyMorUpsertBatch(Seq((3L, 7L)).toDF("k", "v"), 1L, path, Seq("k"))
    assert(sig() === before, "marked replay must touch nothing")
    // crash window: the marker is lost after the apply — the replay
    // re-applies (physical churn allowed) but content stays exact and
    // the key is served exactly once
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$path/_dv_applied/batch_id=1"), true)
    Events.applyMorUpsertBatch(Seq((3L, 7L)).toDF("k", "v"), 1L, path, Seq("k"))
    val after = GraftMor.morRead(spark, path)
    assert(after.count() === 102)
    assert(after.where(col("k") === 3L).collect()
      .map(_.getLong(1)).toSeq === Seq(7L))
    // and the marker is back: a further replay is a physical no-op again
    val again = sig()
    Events.applyMorUpsertBatch(Seq((3L, 7L)).toDF("k", "v"), 1L, path, Seq("k"))
    assert(sig() === again)
  }

  test("G25: the zero-read streaming eq-upsert applies exactly once, never scans the table, and the crash window stays content-idempotent") {
    import spark.implicits._
    import graft.sources.GraftMor
    val path = graft.sources.GraftSink.scratchDir + "/mor_eq_sink_tbl"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, true)
    spark.range(100).select(col("id").as("k"), (col("id") * 10L).as("v"))
      .coalesce(2).write.parquet(path)
    def sig(): Set[(String, Long, Long)] = {
      val out = Set.newBuilder[(String, Long, Long)]
      val it = fs.listFiles(p, true)
      while (it.hasNext) { val f = it.next()
        out += ((f.getPath.toString, f.getLen, f.getModificationTime)) }
      out.result()
    }
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Long)]
    val q = Events.morUpsertEqSink(stream.toDF().toDF("k", "v"), path, Seq("k"))
    // batch 0: updates on keys 0-9 with an in-batch duplicate on key 5,
    // plus two inserts — applied with ZERO position-vector discovery
    stream.addData((0L until 10L).map(k => (k, k + 1000L)) ++
      Seq((5L, 999L), (200L, 1L), (201L, 2L)))
    q.processAllAvailable()
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/${GraftMor.DvDir}")),
      "the eq sink never writes a position vector")
    val read1 = GraftMor.morRead(spark, path)
    assert(read1.count() === 102)
    assert(read1.where(col("k") === 5L).collect()
      .map(_.getLong(1)).toSeq === Seq(999L), "in-batch dup: one deterministic survivor")
    assert(read1.where(col("k") === 3L).head().getLong(1) === 1003L)
    // batch 1: a second generation supersedes batch 0's version of key 3
    stream.addData(Seq((3L, 7L)))
    q.processAllAvailable()
    q.stop()
    assert(GraftMor.morRead(spark, path)
      .where(col("k") === 3L).head().getLong(1) === 7L)
    // replay of a MARKED batch: physical no-op
    val before = sig()
    Events.applyMorUpsertEqBatch(Seq((3L, 7L)).toDF("k", "v"), 1L, path, Seq("k"))
    assert(sig() === before, "marked replay must touch nothing")
    // crash window: marker lost after the apply — the replay re-applies
    // (physical churn allowed); the retry's higher sequence masks the
    // crashed attempt's rows, so the key is served exactly once
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$path/_eq_applied/batch_id=1"), true)
    Events.applyMorUpsertEqBatch(Seq((3L, 7L)).toDF("k", "v"), 1L, path, Seq("k"))
    val after = GraftMor.morRead(spark, path)
    assert(after.count() === 102)
    assert(after.where(col("k") === 3L).collect()
      .map(_.getLong(1)).toSeq === Seq(7L))
    // deeper crash: the appended files landed but the manifest write
    // didn't — those orphans sequence as base files, so the NEXT
    // retry's tombstone masks them too
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$path/_eq_applied/batch_id=1"), true)
    Seq((3L, 7L)).toDF("k", "v").write.mode("append").parquet(path) // the orphan
    Events.applyMorUpsertEqBatch(Seq((3L, 7L)).toDF("k", "v"), 1L, path, Seq("k"))
    val healed = GraftMor.morRead(spark, path)
    assert(healed.count() === 102)
    assert(healed.where(col("k") === 3L).collect()
      .map(_.getLong(1)).toSeq === Seq(7L),
      "a manifest-less orphan append is masked by the retry")
  }

  test("G26: the sink compacts in the loop past the debt budget, defers under a live lease, and content stays exact") {
    import spark.implicits._
    import graft.sources.{GraftLease, GraftMor}
    val path = graft.sources.GraftSink.scratchDir + "/mor_eq_loop_tbl"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, true)
    spark.range(100).select(col("id").as("k"), (col("id") * 10L).as("v"))
      .coalesce(2).write.parquet(path)
    def hasSidecars =
      fs.exists(new org.apache.hadoop.fs.Path(s"$path/${GraftMor.EqDir}")) ||
      fs.exists(new org.apache.hadoop.fs.Path(s"$path/${GraftMor.SeqDir}"))
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Long)]
    val q = Events.morUpsertEqSink(stream.toDF().toDF("k", "v"), path,
      Seq("k"), compactDebtBudget = 5L)
    // batch 0: 10 keys of churn → debt 10 > 5 → the sink folds it
    stream.addData((0L until 10L).map(k => (k, k + 1000L)))
    q.processAllAvailable()
    assert(!hasSidecars, "past-budget debt must compact in the loop")
    // physically folded: a PLAIN scan serves the merged state
    assert(spark.read.parquet(path).count() === 100)
    assert(spark.read.parquet(path).where(col("k") === 3L).collect()
      .map(_.getLong(1)).toSeq === Seq(1003L))
    // a live reader lease defers the fold (A24), debt carries
    val lease = GraftLease.acquire(spark, path)
    stream.addData((0L until 6L).map(k => (k, k + 2000L)))
    q.processAllAvailable()
    assert(hasSidecars, "compaction must defer under a live lease")
    assert(GraftMor.morRead(spark, path).where(col("k") === 3L).collect()
      .map(_.getLong(1)).toSeq === Seq(2003L), "serving is unaffected")
    GraftLease.release(spark, path, lease)
    // lease gone: the next batch's debt check folds everything
    stream.addData((0L until 6L).map(k => (k, k + 3000L)))
    q.processAllAvailable()
    q.stop()
    assert(!hasSidecars, "the released lease unblocks the in-loop fold")
    val served = spark.read.parquet(path)
    assert(served.count() === 100)
    assert(served.where(col("k") === 3L).collect()
      .map(_.getLong(1)).toSeq === Seq(3003L))
    assert(served.where(col("k") === 50L).collect()
      .map(_.getLong(1)).toSeq === Seq(500L), "untouched keys ride through")
  }

  test("G27: the graft-replay DSv2 source chunks by REAL row offsets; the G8 summary sink is exactly-once over it; restart resumes past the checkpoint") {
    val base = graft.sources.GraftSink.scratchDir + "/replay_src"
    val tbl = s"$base/events_t"
    val root = s"$base/summary"
    val cp = s"$base/cp"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val events = new graft.sources.GraftCatalog(spark, sfDir).table("events")
      .select("event_id", "event_type", "value")
    events.repartitionByRange(3, col("event_id")).write.parquet(tbl)
    val nRows = spark.read.parquet(tbl).count()
    assert(nRows > 300, "need enough rows for several chunks")
    def run(): Unit = {
      val q = spark.readStream.format("graft-replay")
        .option("rowsPerBatch", "137").load(tbl)
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
            graft.streaming.Events.applySummaryBatch(b, id, root)
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    // the whole table arrived, exactly once, through MANY real batches
    val expect = spark.read.parquet(tbl).groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,6)")).as("total_d"))
      .orderBy("event_type").collect().map(_.toSeq).toSeq
    def summary() = spark.read.parquet(s"$root/summary.parquet")
      .orderBy("event_type").collect().map(_.toSeq).toSeq
    assert(summary() === expect, "chunked replay must fold to the batch agg")
    val marker = new org.apache.hadoop.fs.Path(s"$root/summary.parquet/_applied_batch")
    val lastBatch = { val in = fs.open(marker); try in.readLong() finally in.close() }
    assert(lastBatch >= nRows / 137 - 1,
      s"expected ~${nRows / 137} chunked batches, saw last id $lastBatch")
    // the checkpointed offsets are REAL row coordinates
    val offFiles = fs.listStatus(new org.apache.hadoop.fs.Path(s"$cp/offsets"))
      .map(_.getPath).filterNot(_.getName.startsWith("."))
    val lastOff = {
      val in = fs.open(offFiles.maxBy(_.getName.toLong))
      try scala.io.Source.fromInputStream(in).mkString finally in.close()
    }
    assert(lastOff.contains("\"row\""), s"offset log must carry row offsets: $lastOff")
    // restart from the checkpoint: nothing new → no batch re-applies,
    // the summary is byte-stable (exactly-once across restarts)
    run()
    assert(summary() === expect, "a restart must not double-count")
    val lastBatch2 = { val in = fs.open(marker); try in.readLong() finally in.close() }
    assert(lastBatch2 === lastBatch, "no new batch may apply on a caught-up restart")
  }

  test("G28: the graft-log source speaks (partition, offset) coordinates; a GROWING log streams exactly-once across restarts; non-monotone segment names refuse by name") {
    val base = graft.sources.GraftSink.scratchDir + "/log_src"
    val log = s"$base/ingest_log"
    val root = s"$base/summary"
    val cp = s"$base/cp"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val events = new graft.sources.GraftCatalog(spark, sfDir).table("events")
      .select("event_id", "event_type", "value")
    // broker-shaped log: partition=N dirs, segments named MONOTONE
    def writeSegment(p: Int, df: org.apache.spark.sql.DataFrame,
        segName: String): Unit = {
      val tmp = s"$base/tmp_seg"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.endsWith(".parquet")).get
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$log/partition=$p"))
      assert(fs.rename(part,
        new org.apache.hadoop.fs.Path(s"$log/partition=$p/$segName")))
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    writeSegment(0, events.where(col("event_id") % 4 === 0), "seg-00000.parquet")
    writeSegment(1, events.where(col("event_id") % 4 === 1), "seg-00000.parquet")
    def run(): Unit = {
      val q = spark.readStream.format("graft-log")
        .option("rowsPerBatch", "173").load(log)
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
            graft.streaming.Events.applySummaryBatch(
              b.select("event_id", "event_type", "value"), id, root)
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    def expect(mod: Seq[Int]) = events
      .where((col("event_id") % 4).isin(mod: _*))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,6)")).as("total_d"))
      .orderBy("event_type").collect().map(_.toSeq).toSeq
    def summary() = spark.read.parquet(s"$root/summary.parquet")
      .orderBy("event_type").collect().map(_.toSeq).toSeq
    run()
    assert(summary() === expect(Seq(0, 1)),
      "phase-1 segments must fold to the batch aggregate")
    // the checkpointed offsets carry PER-PARTITION coordinates
    val offFiles = fs.listStatus(new org.apache.hadoop.fs.Path(s"$cp/offsets"))
      .map(_.getPath).filterNot(_.getName.startsWith("."))
    val lastOff = {
      val in = fs.open(offFiles.maxBy(_.getName.toLong))
      try scala.io.Source.fromInputStream(in).mkString finally in.close()
    }
    assert(lastOff.contains("\"0\":") && lastOff.contains("\"1\":"),
      s"offset log must carry per-partition coordinates: $lastOff")
    // the log GROWS: new segments land in BOTH partitions; the
    // restarted stream resumes each partition past its committed
    // offset and folds ONLY the new rows
    writeSegment(0, events.where(col("event_id") % 4 === 2), "seg-00001.parquet")
    writeSegment(1, events.where(col("event_id") % 4 === 3), "seg-00001.parquet")
    run()
    assert(summary() === expect(Seq(0, 1, 2, 3)),
      "a resumed stream must fold exactly the appended segments")
    // caught-up restart: no batch re-applies
    val marker = new org.apache.hadoop.fs.Path(s"$root/summary.parquet/_applied_batch")
    val lastBatch = { val in = fs.open(marker); try in.readLong() finally in.close() }
    run()
    assert(summary() === expect(Seq(0, 1, 2, 3)))
    val lastBatch2 = { val in = fs.open(marker); try in.readLong() finally in.close() }
    assert(lastBatch2 === lastBatch, "no new batch may apply on a caught-up restart")
    // a segment whose name sorts BEFORE consumed ones would renumber
    // committed offsets: the poll refuses BY NAME
    writeSegment(0, events.where(col("event_id") === 0), "a-bad.parquet")
    val e = intercept[Exception](run())
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " || " + chain(t.getCause)
    assert(chain(e).contains("monotone"), chain(e))
  }

  test("G29: a mutating MOR table is SUBSCRIBABLE — the graft-feed stream folds I/D images into the A50 rollup, resumes mid-segment after a crash, and applies nothing when caught up") {
    import graft.sources.GraftMor
    val base = graft.sources.GraftSink.scratchDir + "/feed_stream"
    val table = s"$base/t"
    val feed = s"$base/feed"
    val roll = s"$base/roll"
    val rollBatch = s"$base/roll_batch"
    val cp = s"$base/cp"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    spark.range(300).select(col("id").as("k"),
        (col("id") % 7).cast("string").as("grp"), (col("id") * 3L).as("v"))
      .repartition(2).write.parquet(table)
    // an unpublished feed refuses by name
    val e0 = intercept[Exception](
      spark.readStream.format("graft-feed").load(feed)
        .writeStream.option("checkpointLocation", cp)
        .format("noop").start())
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " || " + chain(t.getCause)
    assert(chain(e0).contains("publishMorFeed"), chain(e0))
    GraftMor.publishMorFeed(spark, table, feed) // seq 0: snapshot (300 I)
    GraftMor.morDelete(spark, table, col("k") % 10 === 3)
    GraftMor.publishMorFeed(spark, table, feed) // seq 1: 30 D images
    import spark.implicits._
    GraftMor.morUpsert(spark, table,
      spark.range(20).select(col("id").as("k"), lit("x").as("grp"),
        (col("id") * 1000L).as("v")),
      Seq("k"))
    GraftMor.publishMorFeed(spark, table, feed) // seq 2: D olds + I news
    val partial: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => df.groupBy("grp").agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(28,6)")).as("total_d"))
    def run(failAfterBatches: Int = -1): Unit = {
      var applied = 0
      val q = spark.readStream.format("graft-feed")
        .option("rowsPerBatch", "83").load(feed)
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
            if (failAfterBatches >= 0 && applied >= failAfterBatches)
              throw new RuntimeException("boom: injected mid-stream crash")
            applied += 1
            graft.streaming.Events.applyMorFeedFoldBatch(
              b, id, roll, Seq("grp"), partial)
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    // crash after two micro-batches — mid-segment (seq 0 is 300 rows at
    // 83/batch) — then resume: the fold must come out exact
    intercept[Exception](run(failAfterBatches = 2))
    run()
    def rollup() = spark.read.parquet(s"$roll/rollup.parquet")
      .orderBy("grp").collect().map(_.toSeq).toSeq
    val viaStream = rollup()
    val viaBatch = GraftMor.consumeMorFeed(spark, feed, rollBatch,
      Seq("grp"), partial).orderBy("grp").collect().map(_.toSeq).toSeq
    val recompute = partial(GraftMor.morRead(spark, table))
      .orderBy("grp").collect().map(_.toSeq).toSeq
    assert(viaStream === viaBatch,
      "the stream fold must equal the A50 batch consumer")
    assert(viaStream === recompute,
      "the stream fold must equal the recompute over the mutated table")
    // caught-up restart applies no batch
    val marker = new org.apache.hadoop.fs.Path(
      s"$roll/rollup.parquet/_applied_batch")
    val lastBatch = { val in = fs.open(marker); try in.readLong() finally in.close() }
    run()
    val lastBatch2 = { val in = fs.open(marker); try in.readLong() finally in.close() }
    assert(lastBatch2 === lastBatch,
      "no new batch may apply on a caught-up restart")
    // the NEXT mutation generation streams incrementally — exactly the
    // new segment, folded once
    GraftMor.morDelete(spark, table, col("k") === 1L)
    GraftMor.publishMorFeed(spark, table, feed) // seq 3: one D image
    run()
    assert(rollup() === partial(GraftMor.morRead(spark, table))
      .orderBy("grp").collect().map(_.toSeq).toSeq,
      "a resumed stream must fold exactly the fresh segment")
    // the durable index FOLDS at commit: after full consumption the
    // manifest is one #base line plus at most the tip segment — it
    // does not grow with the feed's lifetime (the G28 discipline)
    val manifestP = new org.apache.hadoop.fs.Path(
      s"$cp/sources/0/graft-feed-segments/index")
    val mBody = {
      val in = fs.open(manifestP)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val mLines = mBody.split("\n").filter(_.nonEmpty).toSeq
    assert(mLines.head.startsWith("#base\t"),
      s"consumed segments must fold to #base: $mLines")
    assert(mLines.size <= 2,
      s"the feed index must stay bounded by the unconsumed backlog: $mLines")
    // a feed-root RESET refuses even when the new tip reaches the
    // indexed sequence: the newest retained segment no longer matches
    // the recorded files (the sentinel check), so offsets can never
    // address wrong bytes
    fs.delete(new org.apache.hadoop.fs.Path(feed), true)
    (0 to 4).foreach { _ =>
      GraftMor.publishMorFeed(spark, table, feed) // fresh seq 0..4
    }
    val eReset = intercept[Exception](run())
    assert(chain(eReset).contains("reset"), chain(eReset))
  }

  test("G28 index compaction + retention: consumed segments fold to one #base entry (bounded manifest), offsets stay stable, and dropping segments refuses until they are folded") {
    val base = graft.sources.GraftSink.scratchDir + "/log_ret"
    val log = s"$base/ingest_log"
    val root = s"$base/summary"
    val cp = s"$base/cp"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val events = new graft.sources.GraftCatalog(spark, sfDir).table("events")
      .select("event_id", "event_type", "value")
    def writeSegment(df: org.apache.spark.sql.DataFrame, segName: String): Unit = {
      val tmp = s"$base/tmp_seg"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.endsWith(".parquet")).get
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$log/partition=0"))
      assert(fs.rename(part,
        new org.apache.hadoop.fs.Path(s"$log/partition=0/$segName")))
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    def run(): Unit = {
      val q = spark.readStream.format("graft-log")
        .option("rowsPerBatch", "97").load(log)
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
            graft.streaming.Events.applySummaryBatch(
              b.select("event_id", "event_type", "value"), id, root)
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    def expect(mods: Seq[Int]) = events
      .where((col("event_id") % 6).isin(mods: _*))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,6)")).as("total_d"))
      .orderBy("event_type").collect().map(_.toSeq).toSeq
    def summary() = spark.read.parquet(s"$root/summary.parquet")
      .orderBy("event_type").collect().map(_.toSeq).toSeq
    // Spark hands the source `<checkpoint>/sources/<i>` as its location
    def srcCp = s"$cp/sources/0"
    def manifest(): (Option[(Long, Long, String)], Seq[String]) = {
      val live = graft.sources.v2.GraftLogIndex.manifestPath(srcCp, 0)
      val in = fs.open(live)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val lines = body.split("\n").filter(_.nonEmpty).toSeq
      val b = lines.headOption.filter(_.startsWith("#base\t")).map { l =>
        val Array(_, c, r, _, n) = l.split("\t", 5); (c.toLong, r.toLong, n) }
      (b, lines.filterNot(_.startsWith("#")))
    }
    // grow the log over THREE rounds; after each full consumption the
    // manifest must stay BOUNDED (folded history is one #base line, the
    // live tail at most the final batch's segments), not grow with the
    // log's lifetime
    (0 to 2).foreach { round =>
      writeSegment(events.where(col("event_id") % 6 === round * 2),
        f"seg-${round * 2}%05d.parquet")
      writeSegment(events.where(col("event_id") % 6 === round * 2 + 1),
        f"seg-${round * 2 + 1}%05d.parquet")
      run()
      assert(summary() === expect(0 to (round * 2 + 1)),
        s"round $round summary must fold exactly the appended segments")
      val (b, live) = manifest()
      assert(b.nonEmpty, s"round $round: consumed segments must fold to #base")
      assert(live.size <= 1,
        s"round $round: the live index must stay bounded, got ${live.size} " +
          s"lines: $live")
      assert(b.get._1 + live.size === (round + 1) * 2L,
        "folded count + live lines must equal the segments written")
    }
    val (Some((_, foldedRows, foldPoint)), _) = manifest()
    // retention REFUSES past the fold point by name...
    val eRet = intercept[IllegalStateException](
      graft.sources.v2.GraftLogRetention.retire(
        spark, log, srcCp, 0, "seg-99999.parquet"))
    assert(eRet.getMessage.contains("not yet folded"), eRet.getMessage)
    // ...and physically drops everything at/below it
    val dropped = graft.sources.v2.GraftLogRetention.retire(
      spark, log, srcCp, 0, foldPoint)
    assert(dropped.nonEmpty, "retention past the fold point must drop files")
    // the stream survives retirement: offsets stable, caught-up restart
    // applies nothing, and a NEW segment streams exactly-once
    run()
    assert(summary() === expect(0 to 5), "retired history must not re-serve")
    writeSegment(events.where(col("event_id") % 6 === 0)
      .withColumn("value", col("value") * 0 + 1.0), "seg-00006.parquet")
    run()
    val (b2, live2) = manifest()
    assert(b2.get._2 >= foldedRows, "the fold point never regresses")
    assert(live2.size <= 1)
    // the new segment's rows (value=1.0 each) folded on top
    val extra = events.where(col("event_id") % 6 === 0).count()
    val totN = summary().map(_(1).asInstanceOf[Long]).sum
    val expN = expect(0 to 5).map(_(1).asInstanceOf[Long]).sum + extra
    assert(totN === expN, s"new-segment rows must fold exactly once")
    // a STRAGGLER whose name sorts INSIDE the folded committed range
    // but was never indexed refuses BY NAME — the per-segment fold
    // markers keep the name set the #base line dropped, so the
    // monotonicity refusal survives folding AND retention (silently
    // skipping it would lose its rows)
    writeSegment(events.where(col("event_id") === 0), "seg-00004a.parquet")
    val eStraggler = intercept[Exception](run())
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " || " + chain(t.getCause)
    assert(chain(eStraggler).contains("INSIDE the folded committed range"),
      chain(eStraggler))
    assert(fs.delete(new org.apache.hadoop.fs.Path(
      s"$log/partition=0/seg-00004a.parquet"), false))
    run() // removing the violation heals the stream
    assert(summary().map(_(1).asInstanceOf[Long]).sum === expN)
  }

  test("G28 pre-marker checkpoints: the first post-upgrade fold SEEDS markers for on-disk folded history — a healthy stream never bricks on its own past") {
    val base = graft.sources.GraftSink.scratchDir + "/log_premark"
    val log = s"$base/ingest_log"
    val root = s"$base/summary"
    val cp = s"$base/cp"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val events = new graft.sources.GraftCatalog(spark, sfDir).table("events")
      .select("event_id", "event_type", "value")
    def writeSegment(df: org.apache.spark.sql.DataFrame, segName: String): Unit = {
      val tmp = s"$base/tmp_seg"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.endsWith(".parquet")).get
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$log/partition=0"))
      assert(fs.rename(part,
        new org.apache.hadoop.fs.Path(s"$log/partition=0/$segName")))
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    def run(): Unit = {
      val q = spark.readStream.format("graft-log")
        .option("rowsPerBatch", "97").load(log)
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
            graft.streaming.Events.applySummaryBatch(
              b.select("event_id", "event_type", "value"), id, root)
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    def totalN() = spark.read.parquet(s"$root/summary.parquet")
      .agg(sum("n")).head().getLong(0)
    // two segments consumed and folded, then simulate a checkpoint
    // written BEFORE fold markers existed: delete the marker dir (the
    // #base line keeps the fold, the per-name set is gone)
    writeSegment(events.where(col("event_id") % 4 === 0), "seg-00000.parquet")
    writeSegment(events.where(col("event_id") % 4 === 1), "seg-00001.parquet")
    run()
    val markerDir = new org.apache.hadoop.fs.Path(
      graft.sources.v2.GraftLogIndex.manifestPath(s"$cp/sources/0", 0)
        .toString + ".folded")
    assert(fs.exists(markerDir))
    fs.delete(markerDir, true) // the pre-upgrade checkpoint state
    val n2 = totalN()
    // the first post-upgrade fold recreates the marker dir; the two
    // EARLIER-folded segments are still on disk (retention never ran)
    // and sort inside the folded range — seeding must mark them as
    // legitimate history, or the next poll refuses a healthy stream
    writeSegment(events.where(col("event_id") % 4 === 2), "seg-00002.parquet")
    run()
    assert(totalN() > n2, "the new segment folds")
    run() // the poll that would brick without seeding: old names
          // in-range, dir exists, set must now contain them
    writeSegment(events.where(col("event_id") % 4 === 3), "seg-00003.parquet")
    run()
    assert(totalN() === events.count(),
      "all four segments fold exactly once across the marker upgrade")
    // the seeded markers keep the straggler refusal alive
    writeSegment(events.limit(5), "seg-00000a.parquet")
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " || " + chain(t.getCause)
    val e = intercept[Exception](run())
    assert(chain(e).contains("INSIDE the folded committed range"), chain(e))
  }

  test("table tail: readStream.table over the snapshot log — appends become batches, restart resumes, mutation and COW epochs refuse by name") {
    import org.apache.spark.sql.streaming.Trigger
    val wh = graft.sources.GraftSink.scratchDir + "/tail_spec_wh"
    val db = s"$wh/db"
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(wh), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(db))
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "grafttail")
    val tbl = s"$db/t.parquet"
    val ckpt = s"$wh/_ckpt"
    import spark.implicits._
    (0L until 100L).map(i => (i, i * 2)).toDF("k", "v")
      .coalesce(2).write.parquet(tbl)
    val cat = new graft.sources.GraftCatalog(spark, db)
    cat.publishSnapshot("t")
    val out = s"$wh/_out"
    def runOnce(): Unit = {
      val q = spark.readStream.table("grafttail.db.t")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(out); () }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def sunk(): org.apache.spark.sql.DataFrame = spark.read.parquet(out)
    // run 1: the whole published epoch becomes the first batch
    runOnce()
    assert(sunk().count() === 100L)
    // appended but UNPUBLISHED files stay invisible (publish is the
    // commit point, same as the batch snapshot surfaces)
    (100L until 150L).map(i => (i, i * 2)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(tbl)
    runOnce()
    assert(sunk().count() === 100L,
      "unpublished files must not stream")
    cat.invalidate("t"); cat.publishSnapshot("t")
    // run 3 with the SAME checkpoint: exactly the new epoch's rows
    runOnce()
    val served = sunk()
    assert(served.count() === 150L, "the resumed run emits the epoch diff")
    assert(served.agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0)
      === (0L until 150L).map(_ * 2).sum)
    // a mutation epoch refuses BY NAME, pointing at the A49 feed
    graft.sources.GraftMor.morDelete(spark, tbl,
      org.apache.spark.sql.functions.col("k") === 7L)
    cat.invalidate("t"); cat.publishSnapshot("t")
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " || " + chain(t.getCause)
    val e1 = intercept[Exception](runOnce())
    assert(chain(e1).contains("publishMorFeed"), chain(e1))
    // a COW rewrite between consumed epochs is NOT an append diff:
    // refuse pointing at a re-seed (fresh table — the mutation arm
    // above left an uncommitted WAL batch pinned at its epoch)
    val tbl2 = s"$db/t2.parquet"
    (0L until 60L).map(i => (i, i)).toDF("k", "v")
      .repartition(3).write.parquet(tbl2)
    cat.publishSnapshot("t2")
    def runTwo(): Unit = {
      val q = spark.readStream.table("grafttail.db.t2")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(s"$wh/_out2"); () }
        .option("checkpointLocation", s"$wh/_ckpt2")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runTwo()
    assert(spark.read.parquet(s"$wh/_out2").count() === 60L)
    graft.sources.GraftSink.compactTable(spark, tbl2)
    cat.invalidate("t2"); cat.publishSnapshot("t2")
    val e2 = intercept[Exception](runTwo())
    assert(chain(e2).contains("re-seed"), chain(e2))
  }

  test("tail checkpoints write through graft's local FileContext: no .crc sidecars") {
    import org.apache.spark.sql.streaming.Trigger
    val conf = spark.sessionState.newHadoopConf()
    assert(org.apache.hadoop.fs.AbstractFileSystem.get(new java.net.URI("file:///"), conf)
      .isInstanceOf[graft.sources.GraftLocalFs])
    val wh = graft.sources.GraftSink.scratchDir + "/tail_crc_wh"
    val root = new org.apache.hadoop.fs.Path(wh)
    root.getFileSystem(conf).delete(root, true)
    import spark.implicits._
    (0L until 30L).map(i => (i, i)).toDF("k", "v").coalesce(1)
      .write.parquet(s"$wh/db/t.parquet")
    new graft.sources.GraftCatalog(spark, s"$wh/db").publishSnapshot("t")
    val ckpt = s"$wh/_ckpt"
    var rows = 0L
    val q = spark.readStream.format("graft").load(s"$wh/db/t.parquet").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) => rows += df.count(); () }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(rows === 30L)
    // listed with java.nio: a checksummed FileSystem hides .crc files
    val files = {
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
      try w.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(_.getFileName.toString).toList
      finally w.close()
    }
    assert(files.exists(_ == "0"), s"the run committed no offset: $files")
    assert(!files.exists(_.endsWith(".crc")), files.mkString(", "))
  }
}
