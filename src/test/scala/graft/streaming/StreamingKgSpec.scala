package graft.streaming

import graft.SparkSpec
import graft.model.{TripleRow, Turn}
import graft.ops.{KgPipeline, RelationScoring, Transcripts}
import java.nio.file.Files
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.streaming.GroupStateTimeout

class StreamingKgSpec extends SparkSpec {

  private val gaz = Map(
    "svc_auth" -> "e_svc", "svc_billing" -> "e_svc", "svc_search" -> "e_svc",
    "job_etl" -> "e_svc", "agent_planner" -> "e_svc",
    "db_users" -> "e_res", "db_orders" -> "e_res", "idx_docs" -> "e_res",
    "topic_events" -> "e_res", "cache_main" -> "e_res")

  /** (doc_id, text) input for the dedup streams with no event time: `ts`
    * is read only under EventTimeTimeout, so a null never reaches it.
    */
  private def untimed(docs: Dataset[(Long, String)])
  : Dataset[(Long, String, java.sql.Timestamp)] = {
    import spark.implicits._
    docs.map { case (id, text) => (id, text, null: java.sql.Timestamp) }
  }

  test("streaming triples == batch triples on the same input") {
    import spark.implicits._
    val in = Files.createTempDirectory("skg_in").toString
    val out = Files.createTempDirectory("skg_out").toString
    val chk = Files.createTempDirectory("skg_chk").toString
    val turns = (0 until 20).flatMap { c =>
      (0 until 5).map(t => Transcripts.syntheticTurn(c, t, 42L))
    }
    // two "arrivals" of complete conversations
    turns.filter(_.conv_id < "conv_000010").toDS()
      .coalesce(1).write.mode("append").parquet(in)
    turns.filter(_.conv_id >= "conv_000010").toDS()
      .coalesce(1).write.mode("append").parquet(in)

    val cfg = KgPipeline.Config("r_uses", "e_svc", "e_res", window = 1, tokenizer = "generic")
    val q = StreamingKg.triplesStream(spark, in, out, chk, cfg, gaz)
    q.awaitTermination(120000)

    val streamed = spark.read.parquet(out)
      .select("conv_id", "key").as[(String, String)].collect().toSet
    val batch = KgPipeline.triples(turns.toDS(), cfg, None, gaz, None)
      .select("conv_id", "key").as[(String, String)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)

    // restart with same checkpoint: no new batches → no duplicate output
    val q2 = StreamingKg.triplesStream(spark, in, out, chk, cfg, gaz)
    q2.awaitTermination(60000)
    assert(spark.read.parquet(out).count() ==
      spark.read.parquet(out).select("conv_id", "key").distinct().count())
  }

  test("stateful cross-batch extraction: relation completes only when its turn arrives") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cfg = KgPipeline.Config("r", "op", "obj", window = 1, tokenizer = "generic")
    val g = Map("merge" -> "op", "table" -> "obj")
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Turn]
    // NoTimeout in the test: processing-time timeouts keep the query
    // running empty timeout-check batches, which drags test wall time
    val out = StreamingKg.triplesStateful(source.toDS(), cfg, g,
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())
    val q = out.writeStream.format("memory").queryName("stateful_triples")
      .outputMode("append").start()
    def turn(c: String, i: Int, text: String) =
      Turn(c, i, "user", text, None, new java.sql.Timestamp(1735689600000L + i))
    try {
      // batch 1: only the subject side of the cross-turn pair → nothing
      source.addData(turn("cA", 0, "please merge it"))
      q.processAllAvailable()
      assert(spark.table("stateful_triples").count() == 0)
      // batch 2: the object arrives one turn later (window=1) → emitted
      source.addData(turn("cA", 1, "into the table"))
      q.processAllAvailable()
      val after2 = spark.table("stateful_triples")
        .select("conv_id", "key").as[(String, String)].collect()
      assert(after2.length == 1 && after2.head._1 == "cA")
      // batch 3: duplicate redelivery + an unrelated turn → no re-emit
      source.addData(turn("cA", 1, "into the table"), turn("cA", 2, "thanks"))
      q.processAllAvailable()
      assert(spark.table("stateful_triples").count() == 1)
      // a second conversation is independent state
      source.addData(turn("cB", 0, "merge table now"))
      q.processAllAvailable()
      assert(spark.table("stateful_triples").count() == 2)
    } finally q.stop()
  }

  test("stateful rows == per-batch fold of processConversation minus earlier keys") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cfg = KgPipeline.Config("r_uses", "e_svc", "e_res", window = 1, tokenizer = "generic")
    // score = count of the subject's mentions in the conversation - 2.5:
    // a key stays open until its subject has been mentioned three times,
    // so its pairs score negative in early batches and positive later
    val w = new Array[Double](RelationScoring.Dims)
    w(RelationScoring.h("f_entity1_count")) = 1.0
    val model = RelationScoring.LinearModel(w, b = -2.5)
    def turn(c: String, i: Int, text: String) =
      Turn(c, i, "user", text, None, new java.sql.Timestamp(1735689600000L + i))
    val batches: Seq[Seq[Turn]] = Seq(
      // turn 2 arrives before turns 0 and 1
      Seq(turn("cA", 2, "svc_auth calls db_orders")),
      Seq(turn("cA", 0, "svc_auth reads db_users"),
        turn("cA", 1, "then svc_auth and job_etl wait"),
        turn("cB", 0, "job_etl updates cache_main")),
      // a re-delivered turn with other text: the first write wins
      Seq(turn("cA", 1, "svc_auth svc_auth queries idx_docs"),
        turn("cB", 1, "job_etl joins topic_events")),
      Seq(turn("cA", 3, "job_etl reads db_users and job_etl calls idx_docs"),
        turn("cB", 2, "job_etl writes cache_main")),
      Seq(turn("cB", 2, "job_etl writes cache_main")))

    // the fold: per batch, processConversation over each touched
    // conversation's accumulated turns, minus the keys emitted earlier
    val tagger: IndexedSeq[graft.model.Tok] => Seq[(String, Int, Int)] =
      toks => toks.flatMap(t => gaz.get(t.word.toLowerCase).map(c => (c, t.begin, t.end)))
    val acc = scala.collection.mutable.Map.empty[String, Vector[Turn]]
    val emitted = scala.collection.mutable.Map.empty[String, Set[String]]
    val opened = scala.collection.mutable.Set.empty[(String, String)]
    var reopened = Set.empty[(String, String)]
    val expected = batches.flatMap { b =>
      b.groupBy(_.conv_id).toSeq.sortBy(_._1).flatMap { case (c, ts) =>
        val prev = acc.getOrElse(c, Vector.empty)
        val merged = prev ++ ts.filterNot(t => prev.exists(_.turn_idx == t.turn_idx))
          .distinctBy(_.turn_idx)
        acc(c) = merged
        val done = emitted.getOrElse(c, Set.empty)
        val fresh = KgPipeline.processConversation(c, merged, cfg, tagger, Some(model))
          .filterNot(r => done(r.key))
        emitted(c) = done ++ fresh.map(_.key)
        reopened ++= fresh.map(r => (c, r.key)).filter(opened)
        opened ++= KgPipeline.processConversation(c, merged, cfg, tagger, None)
          .map(r => (c, r.key))
        fresh
      }
    }
    // the input exercises the case: some key was a candidate that scored
    // negative in an earlier batch and is emitted later
    assert(reopened.nonEmpty)

    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Turn]
    val q = StreamingKg.triplesStateful(source.toDS(), cfg, gaz, Some(model),
        timeout = GroupStateTimeout.NoTimeout())
      .writeStream.format("memory").queryName("stateful_fold")
      .outputMode("append").start()
    try {
      batches.foreach { b => source.addData(b: _*); q.processAllAvailable() }
      val got = spark.table("stateful_fold").as[TripleRow].collect().toSeq
      def order(rows: Seq[TripleRow]) = rows.sortBy(r => (r.conv_id, r.key, r.turn_idx))
      assert(order(got) == order(expected))
    } finally q.stop()
  }

  test("ConvState's schema is unchanged: existing checkpoints still restore") {
    assert(org.apache.spark.sql.Encoders.product[StreamingKg.ConvState].schema.simpleString ==
      "struct<turns:array<struct<conv_id:string,turn_idx:int,role:string,text:string," +
        "tool:string,ts:timestamp>>,emittedKeys:array<string>>")
  }

  test("streaming exact dedup: cross-batch rep assignment, exactly-once per doc") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = StreamingKg.exactDedupStream(untimed(source.toDS()))
      .toDF("doc_id", "rep_id", "is_dup")
      .writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    try {
      // batch 1: two distinct docs + one within-batch duplicate
      source.addData((10L, "alpha beta"), (11L, "gamma"), (12L, "alpha beta"))
      q.processAllAvailable()
      val b1 = spark.table("stream_dedup")
        .as[(Long, Long, Boolean)].collect().toSet
      assert(b1 == Set((10L, 10L, false), (11L, 11L, false), (12L, 10L, true)))
      // batch 2: a cross-batch duplicate of doc 10 + a fresh doc
      source.addData((20L, "alpha beta"), (21L, "delta"))
      q.processAllAvailable()
      val b2 = spark.table("stream_dedup")
        .as[(Long, Long, Boolean)].collect().toSet
      assert(b2 == b1 ++ Set((20L, 10L, true), (21L, 21L, false)))
      // parity with the batch operator on the full accumulated corpus
      val batch = graft.ops.Dedup.exact(
        Seq((10L, "alpha beta"), (11L, "gamma"), (12L, "alpha beta"),
          (20L, "alpha beta"), (21L, "delta")).toDF("doc_id", "text"))
        .as[(Long, Long, Boolean)].collect().toSet
      assert(batch.map(r => (r._1, r._2)) == b2.map(r => (r._1, r._2)))
      // batch 3: a SMALLER id than the representative arrives late —
      // streaming rep is FIRST-SEEN (append mode cannot retract emitted
      // rows), so doc 5 maps to 10; batch Dedup.exact would pick min=5
      source.addData((5L, "alpha beta"))
      q.processAllAvailable()
      val b3 = spark.table("stream_dedup")
        .as[(Long, Long, Boolean)].collect().toSet
      assert(b3 == b2 + ((5L, 10L, true)))
    } finally q.stop()
  }

  test("event-time stateful: watermark-based eviction drops state, late re-arrival re-extracts") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cfg = KgPipeline.Config("r", "op", "obj", window = 1, tokenizer = "generic")
    val g = Map("merge" -> "op", "table" -> "obj")
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Turn]
    // 1-minute lateness tolerance, 1-minute idle gap: a conversation is
    // evicted once the watermark proves nothing within its gap can arrive
    val out = StreamingKg.triplesStateful(source.toDS(), cfg, g,
      timeout = GroupStateTimeout.EventTimeTimeout(), idleMs = 60000L,
      watermarkDelay = "1 minute")
    val q = out.writeStream.format("memory").queryName("et_triples")
      .outputMode("append").start()
    val base = 1735689600000L
    def turn(c: String, i: Int, text: String, tsMs: Long) =
      Turn(c, i, "user", text, None, new java.sql.Timestamp(tsMs))
    try {
      // batch 1: complete pair at t=0s/30s → one triple
      source.addData(turn("cA", 0, "please merge it", base),
        turn("cA", 1, "into the table", base + 30000))
      q.processAllAvailable()
      assert(spark.table("et_triples").count() == 1)
      // batches 2+3: unrelated traffic pushes the watermark past cA's
      // timeout (30s + 60s gap); the timeout fires on the NEXT batch
      // after the watermark advances — cA's state is then removed
      source.addData(turn("cZ", 0, "noise", base + 600000))
      q.processAllAvailable()
      source.addData(turn("cZ", 1, "noise", base + 610000))
      q.processAllAvailable()
      assert(spark.table("et_triples").count() == 1) // eviction emits nothing
      // batch 4: the SAME conversation id re-appears with fresh event
      // times — evicted state means the emitted-keys memory is gone, so
      // the same canonical key is extracted again (exactly the re-open
      // semantics an idle-gap eviction implies)
      source.addData(turn("cA", 0, "please merge it", base + 700000),
        turn("cA", 1, "into the table", base + 701000))
      q.processAllAvailable()
      val rows = spark.table("et_triples")
        .select("conv_id", "key").as[(String, String)].collect()
      assert(rows.count(_._1 == "cA") == 2, "state must have been evicted")
      assert(rows.map(_._2).distinct.length == 1)
    } finally q.stop()
  }

  test("triplesStateful default processing-time eviction: idle state drops, re-arrival re-extracts") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cfg = KgPipeline.Config("r", "op", "obj", window = 1, tokenizer = "generic")
    val g = Map("merge" -> "op", "table" -> "obj")
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Turn]
    // the DEFAULT timeout (ProcessingTimeTimeout) with a 1 ms idle: any
    // later batch finds the conversation expired. processAllAvailable()
    // never returns under a processing-time timeout — poll the sink.
    val out = StreamingKg.triplesStateful(source.toDS(), cfg, g, idleMs = 1L)
    val q = out.writeStream.format("memory").queryName("pt_triples")
      .outputMode("append").start()
    def awaitRows(n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (spark.table("pt_triples").count() < n &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(spark.table("pt_triples").count() >= n, s"timed out waiting for $n rows")
    }
    def turn(c: String, i: Int, text: String) =
      Turn(c, i, "user", text, None, new java.sql.Timestamp(1735689600000L + i))
    try {
      source.addData(turn("cA", 0, "please merge it"), turn("cA", 1, "into the table"))
      awaitRows(1)
      Thread.sleep(200) // idle past the timeout; eviction fires on a later batch
      // the same turns again: evicted state forgot the emitted key, so the
      // same canonical key is extracted once more
      source.addData(turn("cA", 0, "please merge it"), turn("cA", 1, "into the table"))
      awaitRows(2)
      val rows = spark.table("pt_triples")
        .select("conv_id", "key").as[(String, String)].collect()
      assert(rows.count(_._1 == "cA") == 2, "state must have been evicted")
      assert(rows.map(_._2).distinct.length == 1)
    } finally q.stop()
  }

  test("only EventTimeTimeout installs a watermark, for every operator") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cfg = KgPipeline.Config("r", "op", "obj", window = 1, tokenizer = "generic")
    val turns = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Turn].toDS()
    val docs = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, java.sql.Timestamp)].toDS()
    def operators(timeout: GroupStateTimeout): Seq[(String, Dataset[_])] = Seq(
      "triplesStateful" -> StreamingKg.triplesStateful(turns, cfg, gaz, timeout = timeout),
      "exactDedupStream" -> StreamingKg.exactDedupStream(docs, timeout = timeout),
      "simhashPairsStream" -> StreamingKg.simhashPairsStream(docs, timeout = timeout),
      "minhashCandidatesStream" ->
        StreamingKg.minhashCandidatesStream(docs, timeout = timeout))
    def watermarks(ds: Dataset[_]): Int =
      ds.queryExecution.analyzed.collect { case w: EventTimeWatermark => w }.size
    for (timeout <- Seq(GroupStateTimeout.NoTimeout(),
      GroupStateTimeout.ProcessingTimeTimeout()); (name, ds) <- operators(timeout))
      assert(watermarks(ds) == 0, s"$name under $timeout has a watermark")
    for ((name, ds) <- operators(GroupStateTimeout.EventTimeTimeout()))
      assert(watermarks(ds) == 1, s"$name under EventTimeTimeout: ${watermarks(ds)}")
  }

  test("streaming simhash pairs == batch simhashPairs on the accumulated corpus") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val words = (0 until 40).map(i => s"tok$i")
    val d1 = words.mkString(" ")
    val d2 = d1 // exact dup, hamming 0
    val d3 = (words.updated(5, "CHANGED")).mkString(" ") // near-dup
    val d4 = (0 until 40).map(i => s"other$i").mkString(" ") // unrelated
    val corpus = Seq((1L, d1), (2L, d4), (3L, d2), (4L, d3))
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = StreamingKg.simhashPairsStream(untimed(source.toDS()), maxHamming = 16)
      .toDF("a", "b", "hamming")
      .writeStream.format("memory").queryName("stream_simhash")
      .outputMode("append").start()
    try {
      source.addData((1L, d1), (2L, d4)) // batch 1
      q.processAllAvailable()
      source.addData((3L, d2), (4L, d3)) // batch 2: cross-batch pairs
      q.processAllAvailable()
      // multi-block emissions of a pair land in the same batch →
      // set semantics restored by distinct (the sink-side dropDuplicates)
      val streamed = spark.table("stream_simhash")
        .as[(Long, Long, Int)].collect().toSet
      val batch = graft.ops.Dedup.simhashPairs(
        corpus.toDF("doc_id", "text"), maxHamming = 16)
        .as[(Long, Long, Int)].collect().toSet
      assert(streamed == batch)
      assert(streamed.exists { case (a, b, h) => a == 1L && b == 3L && h == 0 })
    } finally q.stop()
  }

  test("streaming minhash candidates == batch bandedBuckets candidates") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val words = (0 until 60).map(i => s"w$i")
    val corpus = Seq(
      (1L, words.mkString(" ")),
      (2L, words.updated(7, "CHANGED").mkString(" ")), // near-dup of 1
      (3L, (0 until 60).map(i => s"z$i").mkString(" ")), // unrelated
      (4L, words.mkString(" "))) // exact dup of 1
    // batch candidate set: the same bucket arithmetic, self-joined
    val shingled = corpus.toDF("doc_id", "text").as[(Long, String)]
      .map { case (id, text) =>
        (id, graft.nlp.Hashes.shingles(
          text.split("\\s+").toIndexedSeq, 3).toArray)
      }.toDF("doc_id", "shingles")
    val banded = graft.ops.Dedup.bandedBuckets(shingled, numPerm = 64, bands = 16)
    val batchCands = banded
      .join(banded.select($"doc_id".as("b"), $"bucket"), Seq("bucket"))
      .filter($"doc_id" < $"b")
      .select($"doc_id".as("a"), $"b").distinct()
      .as[(Long, Long)].collect().toSet
    assert(batchCands.contains((1L, 4L)) && batchCands.contains((1L, 2L)))
    // streamed across two batches
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = StreamingKg.minhashCandidatesStream(untimed(source.toDS()))
      .toDF("a", "b")
      .writeStream.format("memory").queryName("stream_minhash")
      .outputMode("append").start()
    try {
      source.addData(corpus(0), corpus(2))
      q.processAllAvailable()
      source.addData(corpus(1), corpus(3))
      q.processAllAvailable()
      val streamed = spark.table("stream_minhash")
        .as[(Long, Long)].collect().toSet
      assert(streamed == batchCands)
    } finally q.stop()
  }

  test("streaming exact dedup: idle eviction drops the bucket, re-ingest restarts the group") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    // 1 ms idle: any later batch finds the bucket expired (the timeout
    // check runs on every batch for every key). NOTE: with a
    // processing-time timeout registered, the engine ALWAYS schedules
    // another timeout-check batch, so processAllAvailable() never sees a
    // quiescent stream and would block forever — poll the sink instead.
    val q = StreamingKg.exactDedupStream(untimed(source.toDS()),
        timeout = GroupStateTimeout.ProcessingTimeTimeout(), idleMs = 1L)
      .toDF("doc_id", "rep_id", "is_dup")
      .writeStream.format("memory").queryName("evict_dedup")
      .outputMode("append").start()
    def awaitRows(n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (spark.table("evict_dedup").count() < n &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(spark.table("evict_dedup").count() >= n, s"timed out waiting for $n rows")
    }
    try {
      source.addData((1L, "same text"), (2L, "same text"))
      awaitRows(2)
      assert(spark.table("evict_dedup").as[(Long, Long, Boolean)].collect().toSet ==
        Set((1L, 1L, false), (2L, 1L, true)))
      Thread.sleep(200) // idle past the timeout; eviction fires on a later batch
      // the SAME text re-ingested after eviction: fresh group, own rep
      source.addData((9L, "same text"))
      awaitRows(3)
      val rows = spark.table("evict_dedup").as[(Long, Long, Boolean)].collect().toSet
      assert(rows.contains((9L, 9L, false)), s"state must have been evicted: $rows")
    } finally q.stop()
  }

  test("exact dedup under RocksDBStateStoreProvider: parity with default store") {
    // the "at scale back the store with RocksDB" promise as a TESTED mode:
    // the provider ships with Spark (zero egress), is enabled by one conf
    // line, and must not change any emitted row. The rocksdb* custom
    // metrics in the query progress prove the provider actually ran (a
    // typo'd class name would throw at start; metrics guard silent
    // fallback regressions).
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      val q = StreamingKg.exactDedupStream(untimed(source.toDS()))
        .toDF("doc_id", "rep_id", "is_dup")
        .writeStream.format("memory").queryName("rocks_dedup")
        .outputMode("append").start()
      try {
        // same arrivals as the default-store scenario above
        source.addData((10L, "alpha beta"), (11L, "gamma"), (12L, "alpha beta"))
        q.processAllAvailable()
        source.addData((20L, "alpha beta"), (21L, "delta"), (5L, "alpha beta"))
        q.processAllAvailable()
        val rocks = spark.table("rocks_dedup")
          .as[(Long, Long, Boolean)].collect().toSet
        assert(rocks == Set((10L, 10L, false), (11L, 11L, false),
          (12L, 10L, true), (20L, 10L, true), (21L, 21L, false),
          (5L, 10L, true)))
        val custom = q.lastProgress.stateOperators.flatMap(
          _.customMetrics.keySet().toArray.map(_.toString))
        assert(custom.exists(_.startsWith("rocksdb")),
          s"RocksDB provider not in effect; metrics: ${custom.mkString(",")}")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("minhash candidates: hot-bucket cap bounds emissions on a boilerplate corpus") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // 40 IDENTICAL docs: every band bucket is maximally hot. Uncapped,
    // doc k emits k-1 pairs per band (O(n²) total); with maxBucket=4
    // only the first 4 docs are stored, so every later arrival emits
    // exactly 4 pairs per band — the distinct pair set is {(i, j):
    // i ∈ first 4 stored, j later}, NOT all C(40,2) pairs.
    val text = (0 until 30).map(i => s"boiler$i").mkString(" ")
    val docs = (1L to 40L).map(id => (id, text))
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = StreamingKg.minhashCandidatesStream(untimed(source.toDS()), maxBucket = 4)
      .toDF("a", "b")
      .writeStream.format("memory").queryName("capped_minhash")
      .outputMode("append").start()
    try {
      source.addData(docs: _*)
      q.processAllAvailable()
      val pairs = spark.table("capped_minhash").as[(Long, Long)].collect().toSet
      val expected = (for { i <- 1L to 4L; j <- (i + 1) to 40L } yield (i, j)).toSet
      assert(pairs == expected, s"got ${pairs.size}, want ${expected.size}")
      // bounded: far below the uncapped C(40,2) = 780 pair universe
      assert(pairs.size == 150)
    } finally q.stop()
  }

  test("simhash pairs: hot-bucket cap bounds emissions") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val text = (0 until 30).map(i => s"tok$i").mkString(" ")
    val docs = (1L to 30L).map(id => (id, text))
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = StreamingKg.simhashPairsStream(untimed(source.toDS()), maxHamming = 3,
        maxBucket = 5)
      .toDF("a", "b", "hamming")
      .writeStream.format("memory").queryName("capped_simhash")
      .outputMode("append").start()
    try {
      source.addData(docs: _*)
      q.processAllAvailable()
      val pairs = spark.table("capped_simhash")
        .select("a", "b").as[(Long, Long)].collect().toSet
      val expected = (for { i <- 1L to 5L; j <- (i + 1) to 30L } yield (i, j)).toSet
      assert(pairs == expected)
    } finally q.stop()
  }

  test("minhashDedupStream: end-to-end verified pairs == batch minhashLsh") {
    import spark.implicits._
    val in = Files.createTempDirectory("mmd_in").toString
    val out = Files.createTempDirectory("mmd_out").toString
    val chk = Files.createTempDirectory("mmd_chk").toString
    val store = Files.createTempDirectory("mmd_store").toString
    val words = (0 until 60).map(i => s"w$i")
    val corpus = Seq(
      (1L, words.mkString(" ")),
      (2L, words.updated(7, "CHANGED").mkString(" ")), // near-dup of 1
      (3L, (0 until 60).map(i => s"z$i").mkString(" ")), // unrelated
      (4L, words.mkString(" ")), // exact dup of 1 (cross-batch)
      (5L, words.updated(3, "ALSO").mkString(" "))) // near-dup, batch 2
    // batch 1: docs 1-3; batch 2: docs 4-5 (cross-batch pairs 1-4, 1-5...)
    corpus.take(3).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(in)
    corpus.drop(3).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(in)
    val q = StreamingKg.minhashDedupStream(spark, in, out, chk, store,
      shingleN = 3, numPerm = 64, bands = 16, threshold = 0.5)
    q.awaitTermination(120000)
    val streamed = spark.read.option("basePath", out).parquet(out)
      .select("a", "b", "jaccard").distinct()
      .as[(Long, Long, Double)].collect().toSet
    val batch = graft.ops.Dedup.minhashLsh(corpus.toDF("doc_id", "text"),
        shingleN = 3, numPerm = 64, bands = 16, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    // the cross-batch exact dup and both near-dups were found
    assert(streamed.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 1.0))
    assert(streamed.exists(p => p._1 == 1L && p._2 == 2L))
    assert(streamed.exists(p => p._1 == 1L && p._2 == 5L))
    // restart on the same checkpoint with no new data: nothing re-emits
    val rowsBefore = spark.read.option("basePath", out).parquet(out).count()
    val q2 = StreamingKg.minhashDedupStream(spark, in, out, chk, store,
      shingleN = 3, numPerm = 64, bands = 16, threshold = 0.5)
    q2.awaitTermination(60000)
    assert(spark.read.option("basePath", out).parquet(out).count() == rowsBefore)
    // a third batch arrives after the restart: only its incremental pairs
    // appear, still equal to batch semantics over the grown corpus
    val extra = (6L, words.updated(11, "NEW").mkString(" ")) // near-dup of 1
    Seq(extra).toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val q3 = StreamingKg.minhashDedupStream(spark, in, out, chk, store,
      shingleN = 3, numPerm = 64, bands = 16, threshold = 0.5)
    q3.awaitTermination(60000)
    val streamed2 = spark.read.option("basePath", out).parquet(out)
      .select("a", "b", "jaccard").distinct()
      .as[(Long, Long, Double)].collect().toSet
    val batch2 = graft.ops.Dedup.minhashLsh(
        (corpus :+ extra).toDF("doc_id", "text"),
        shingleN = 3, numPerm = 64, bands = 16, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed2 == batch2)
    assert(streamed2.exists(p => p._1 == 1L && p._2 == 6L))
  }

  test("event-time exact dedup: watermark evicts the bucket, re-ingest restarts the group") {
    // the replay-correct horizon discipline: a bucket is evicted only
    // when the WATERMARK proves no doc within idleMs (event time) can
    // still arrive — wall-clock idleness is meaningless when history
    // replays fast. Pre-eviction rows must match the PT/batch semantics.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 1735689600000L
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = StreamingKg.exactDedupStream(source.toDS(),
        timeout = GroupStateTimeout.EventTimeTimeout(), idleMs = 60000L,
        watermarkDelay = "1 minute")
      .toDF("doc_id", "rep_id", "is_dup")
      .writeStream.format("memory").queryName("et_dedup")
      .outputMode("append").start()
    try {
      source.addData((1L, "same text", ts(base)),
        (2L, "same text", ts(base + 1000)), (3L, "other", ts(base + 2000)))
      q.processAllAvailable()
      // pre-eviction parity with the batch operator (ascending ids)
      assert(spark.table("et_dedup").as[(Long, Long, Boolean)].collect().toSet ==
        Set((1L, 1L, false), (2L, 1L, true), (3L, 3L, false)))
      // noise far ahead in event time pushes the watermark past the gap;
      // the timeout fires on the batch AFTER the watermark advances
      source.addData((50L, "noise a", ts(base + 600000)))
      q.processAllAvailable()
      source.addData((51L, "noise b", ts(base + 610000)))
      q.processAllAvailable()
      // the SAME text re-ingested after eviction: fresh group, own rep
      source.addData((9L, "same text", ts(base + 700000)))
      q.processAllAvailable()
      val rows = spark.table("et_dedup").as[(Long, Long, Boolean)].collect().toSet
      assert(rows.contains((9L, 9L, false)), s"bucket must have been evicted: $rows")
    } finally q.stop()
  }

  test("event-time dedup horizon: a late-but-valid arrival must not shrink it") {
    // the eviction horizon is anchored on the max event time EVER seen by
    // the bucket (state-carried) — re-arming from the current batch alone
    // would let a late arrival pull the timeout BACKWARD and evict while
    // a doc inside the true horizon can still arrive
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 1735689600000L
    def ts(sec: Long) = new java.sql.Timestamp(base + sec * 1000)
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = StreamingKg.exactDedupStream(source.toDS(),
        timeout = GroupStateTimeout.EventTimeTimeout(), idleMs = 60000L,
        watermarkDelay = "10 minutes")
      .toDF("doc_id", "rep_id", "is_dup")
      .writeStream.format("memory").queryName("et_horizon")
      .outputMode("append").start()
    try {
      source.addData((1L, "same", ts(600)))          // anchor at t=600s
      q.processAllAvailable()
      source.addData((2L, "same", ts(60)))           // LATE valid arrival
      q.processAllAvailable()
      // noise pushes the watermark past (late + gap) but NOT past
      // (anchor + gap): a shrunk horizon would evict here
      source.addData((50L, "noise a", ts(720)))
      q.processAllAvailable()
      source.addData((51L, "noise b", ts(780)))
      q.processAllAvailable()
      // within 60 s of the ANCHOR: must still be a duplicate of doc 1
      source.addData((3L, "same", ts(640)))
      q.processAllAvailable()
      val rows = spark.table("et_horizon").as[(Long, Long, Boolean)].collect().toSet
      assert(rows.contains((2L, 1L, true)))
      assert(rows.contains((3L, 1L, true)),
        s"late arrival shrank the horizon — bucket was evicted: $rows")
    } finally q.stop()
  }

  test("event-time simhash horizon: a late-but-valid arrival must not shrink it") {
    // the same horizon rule for a state whose per-group body rebuilds the
    // state from scratch: the carried max must survive the rebuild
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 1735689600000L
    def ts(sec: Long) = new java.sql.Timestamp(base + sec * 1000)
    val text = (0 until 40).map(i => s"t$i").mkString(" ")
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = StreamingKg.simhashPairsStream(source.toDS(),
        timeout = GroupStateTimeout.EventTimeTimeout(), idleMs = 60000L,
        watermarkDelay = "10 minutes")
      .toDF("a", "b", "hamming")
      .writeStream.format("memory").queryName("et_simhash_horizon")
      .outputMode("append").start()
    try {
      source.addData((1L, text, ts(600)))            // anchor at t=600s
      q.processAllAvailable()
      source.addData((2L, text, ts(60)))             // LATE valid arrival
      q.processAllAvailable()
      // noise pushes the watermark past (late + gap) but NOT past
      // (anchor + gap): a shrunk horizon would evict here
      source.addData((50L, "noise a", ts(720)))
      q.processAllAvailable()
      source.addData((51L, "noise b", ts(780)))
      q.processAllAvailable()
      source.addData((3L, text, ts(640)))
      q.processAllAvailable()
      val pairs = spark.table("et_simhash_horizon").select("a", "b").distinct()
        .as[(Long, Long)].collect().toSet
      assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)),
        s"late arrival shrank the horizon — buckets were evicted: $pairs")
    } finally q.stop()
  }

  test("event-time minhash candidates: batch parity within the horizon, eviction beyond it") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 1735689600000L
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val words = (0 until 60).map(i => s"w$i")
    val corpus = Seq(
      (1L, words.mkString(" ")),
      (2L, words.updated(7, "CHANGED").mkString(" ")),
      (3L, (0 until 60).map(i => s"z$i").mkString(" ")),
      (4L, words.mkString(" ")))
    val shingled = corpus.toDF("doc_id", "text").as[(Long, String)]
      .map { case (id, text) =>
        (id, graft.ops.Dedup.docShingles(text, 3))
      }.toDF("doc_id", "shingles")
    val banded = graft.ops.Dedup.bandedBuckets(shingled, numPerm = 64, bands = 16)
    val batchCands = banded
      .join(banded.select($"doc_id".as("b"), $"bucket"), Seq("bucket"))
      .filter($"doc_id" < $"b")
      .select($"doc_id".as("a"), $"b").distinct()
      .as[(Long, Long)].collect().toSet
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = StreamingKg.minhashCandidatesStream(source.toDS(),
        timeout = GroupStateTimeout.EventTimeTimeout(), idleMs = 60000L,
        watermarkDelay = "1 minute")
      .toDF("a", "b")
      .writeStream.format("memory").queryName("et_minhash")
      .outputMode("append").start()
    try {
      // all four docs inside one event-time horizon, two arrivals
      source.addData((corpus(0)._1, corpus(0)._2, ts(base)),
        (corpus(2)._1, corpus(2)._2, ts(base + 1000)))
      q.processAllAvailable()
      source.addData((corpus(1)._1, corpus(1)._2, ts(base + 2000)),
        (corpus(3)._1, corpus(3)._2, ts(base + 3000)))
      q.processAllAvailable()
      assert(spark.table("et_minhash").as[(Long, Long)].collect().toSet ==
        batchCands)
      // watermark passes the horizon → buckets evict; an exact dup of
      // doc 1 arriving after eviction finds EMPTY buckets: no pair
      source.addData((90L, (0 until 60).map(i => s"q$i").mkString(" "), ts(base + 600000)))
      q.processAllAvailable()
      source.addData((91L, (0 until 60).map(i => s"r$i").mkString(" "), ts(base + 610000)))
      q.processAllAvailable()
      source.addData((99L, words.mkString(" "), ts(base + 700000)))
      q.processAllAvailable()
      val after = spark.table("et_minhash").as[(Long, Long)].collect().toSet
      assert(!after.exists(p => p._2 == 99L),
        s"bucket state must have been evicted before doc 99: $after")
    } finally q.stop()
  }

  test("event-time simhash pairs: pair within the horizon, none after eviction") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 1735689600000L
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val text = (0 until 40).map(i => s"t$i").mkString(" ")
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = StreamingKg.simhashPairsStream(source.toDS(),
        timeout = GroupStateTimeout.EventTimeTimeout(), idleMs = 60000L,
        watermarkDelay = "1 minute")
      .toDF("a", "b", "hamming")
      .writeStream.format("memory").queryName("et_simhash")
      .outputMode("append").start()
    try {
      source.addData((1L, text, ts(base)), (2L, text, ts(base + 1000)))
      q.processAllAvailable()
      assert(spark.table("et_simhash").select("a", "b").distinct()
        .as[(Long, Long)].collect().toSet == Set((1L, 2L)))
      source.addData((50L, "noise x", ts(base + 600000)))
      q.processAllAvailable()
      source.addData((51L, "noise y", ts(base + 610000)))
      q.processAllAvailable()
      source.addData((9L, text, ts(base + 700000)))
      q.processAllAvailable()
      val after = spark.table("et_simhash").select("a", "b").distinct()
        .as[(Long, Long)].collect().toSet
      assert(after == Set((1L, 2L)),
        s"evicted buckets must not pair with doc 9: $after")
    } finally q.stop()
  }

  test("minhashDedupStream: part-partitioned stores, a batch reads only its own parts") {
    // the r5 scale shape: stores are partitioned by pmod(xxhash64(key),
    // numParts) and each micro-batch's joins read ONLY the part dirs its
    // own keys hash into (readStoreParts — path-level pruning, which is
    // exactly what the operator calls). Evidence: for a 1-doc batch the
    // pruned band read touches strictly fewer files than the full store,
    // and pruned rows ≡ full-scan rows restricted to those parts.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val in = Files.createTempDirectory("mpp_in").toString
    val out = Files.createTempDirectory("mpp_out").toString
    val chk = Files.createTempDirectory("mpp_chk").toString
    val store = Files.createTempDirectory("mpp_store").toString
    val base = (1L to 30L).map(i =>
      (i, (0 until 40).map(j => s"w${i}_$j").mkString(" ")))
    val lone = (99L, (0 until 40).map(j => s"w1_$j").mkString(" ")) // near-dup of 1
    base.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    // batch 2 is ONE doc — its 16 band buckets hash into a strict subset
    // of the 64 parts, so its store read must skip most directories
    Seq(lone).toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val q = StreamingKg.minhashDedupStream(spark, in, out, chk, store,
      shingleN = 3, numPerm = 64, bands = 16, threshold = 0.5)
    q.awaitTermination(120000)
    // the dup pair surfaced through the pruned joins
    val pairs = spark.read.option("basePath", out).parquet(out)
      .select("a", "b").distinct().as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 99L)), s"pairs=$pairs")
    // reconstruct the 1-doc batch's band parts with the operator's own
    // arithmetic and measure the file footprint of its store read
    val loneBands = graft.ops.Dedup.bandedBuckets(
      Seq((lone._1, graft.ops.Dedup.docShingles(lone._2, 3)))
        .toDF("doc_id", "shingles"), 64, 16)
    val parts = loneBands
      .select(StreamingKg.storePart(col("bucket"), 64).as("p"))
      .distinct().as[Long].collect().toSet
    assert(parts.size < 64, s"1 doc must not cover all parts: ${parts.size}")
    val pruned = StreamingKg.readStoreParts(spark, s"$store/bands", parts)
    val full = spark.read.option("basePath", s"$store/bands")
      .parquet(s"$store/bands")
    assert(pruned.inputFiles.length < full.inputFiles.length,
      s"pruned=${pruned.inputFiles.length} full=${full.inputFiles.length}")
    // pruning must lose NOTHING in the requested parts
    val prunedRows = pruned.select("doc_id", "bucket")
      .as[(Long, Long)].collect().toSet
    val fullRows = full
      .filter(StreamingKg.storePart(col("bucket"), 64).isin(parts.toSeq: _*))
      .select("doc_id", "bucket").as[(Long, Long)].collect().toSet
    assert(prunedRows == fullRows && prunedRows.nonEmpty)
  }

  test("turnRates: watermarked windowed counts per role") {
    import spark.implicits._
    val turns = (0 until 12).map { i =>
      Turn(f"c$i", 0, if (i % 2 == 0) "user" else "assistant", "x", None,
        new java.sql.Timestamp(1735689600000L + i * 10000L))
    }.toDF()
    val got = StreamingKg.turnRates(turns).collect()
    assert(got.map(_.getLong(2)).sum == 12)
    assert(got.forall(_.getLong(2) == 3)) // 2 windows × 2 roles × 3 turns
  }

  test("streaming sessionization == batch partitioning; eviction opens fresh sessions") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 1735689600000L
    def t(ms: Long) = new java.sql.Timestamp(base + ms)
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, Long)]
    // 1-minute gap, 1-minute lateness tolerance
    val q = StreamingKg.sessionizeStream(source.toDS(), gapMinutes = 1,
      watermarkDelay = "1 minute")
      .toDF("event_id", "user_id", "session_start_us", "is_start")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // batch 1: user 1 opens a session (two events 10s apart); user 2 one event
      source.addData((1L, t(0), 1L), (2L, t(10000), 1L), (3L, t(0), 2L))
      q.processAllAvailable()
      // batch 2: user 1 continues within the gap CROSS-batch, then a
      // 90s silence opens a second session
      source.addData((4L, t(40000), 1L), (5L, t(40000 + 90000), 1L))
      q.processAllAvailable()
      val stream = spark.table("sessions")
        .as[(Long, Long, Long, Boolean)].collect()
      val batch = graft.ops.Events.sessionize(
        Seq((1L, t(0), 1L), (2L, t(10000), 1L), (3L, t(0), 2L),
          (4L, t(40000), 1L), (5L, t(130000), 1L))
          .toDF("event_id", "ts", "user_id"), gapMinutes = 1)
        .as[(Long, Long, Long, Boolean)].collect()
      // is_start agrees per event
      assert(stream.map(r => r._1 -> r._4).toMap ==
        batch.map(r => r._1 -> r._4).toMap)
      // the induced PARTITION of events into sessions agrees (stream
      // keys sessions by start micros, batch by per-user ordinal)
      def parts(rows: Array[(Long, Long, Long, Boolean)]): Set[Set[Long]] =
        rows.groupBy(r => (r._2, r._3)).values.map(_.map(_._1).toSet).toSet
      assert(parts(stream) == parts(batch))
      assert(parts(stream) == Set(Set(1L, 2L, 4L), Set(5L), Set(3L)))
      // a NULL event time must be dropped at ingest (documented
      // batch/stream divergence), never crash the query
      source.addData((99L, null.asInstanceOf[java.sql.Timestamp], 1L))
      q.processAllAvailable()
      assert(!spark.table("sessions").as[(Long, Long, Long, Boolean)]
        .collect().exists(_._1 == 99L))
      // push the watermark far past user 2's gap with unrelated traffic
      // (the timeout fires on the batch after the watermark advances)
      source.addData((6L, t(600000), 9L))
      q.processAllAvailable()
      source.addData((7L, t(610000), 9L))
      q.processAllAvailable()
      // user 2 re-appears after eviction: a fresh session (is_start,
      // new start key) — and batch agrees, because the gap is exceeded
      source.addData((8L, t(700000), 2L))
      q.processAllAvailable()
      val after = spark.table("sessions")
        .as[(Long, Long, Long, Boolean)].collect()
      val e8 = after.find(_._1 == 8L).get
      assert(e8._4 && e8._3 != after.find(_._1 == 3L).get._3)
      // the gap rule alone would also produce that output — pin that
      // the EVENT-TIME TIMEOUT actually fired (state rows were removed),
      // or per-user state grows forever on idle users
      val removed = q.recentProgress
        .flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .map(_.numRowsRemoved).sum
      assert(removed > 0, "event-time timeout never evicted any state")
    } finally q.stop()
  }
}
