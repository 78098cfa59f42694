package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.model.{TripleRow, Turn}
import graft.ops.{Dedup, GazetteerTagger, KgPipeline, RelationScoring}

/** Structured Streaming surface: incremental KG construction over a
  * growing transcripts table (the reference is batch-only; our
  * incremental story is landing-zone file streams + the same fused
  * extraction per micro-batch, checkpointed by the streaming engine).
  *
  *  - [[triplesStream]]: readStream (file source) → foreachBatch running
  *    KgPipeline on each micro-batch and appending to the triples table.
  *    Conversations are assumed batch-contained (a conversation's turns
  *    arrive together); cross-batch merge is the downstream MERGE's job.
  *  - [[turnRates]]: event-time windowed counts with a watermark — the
  *    classic late-data-tolerant throughput monitor.
  */
object StreamingKg {

  /** Incremental triple extraction with exactly-once sink semantics via
    * the streaming checkpoint + idempotent parquet append per batchId.
    */
  def triplesStream(spark: SparkSession, inputDir: String, outputDir: String,
                    checkpointDir: String, cfg: KgPipeline.Config,
                    gaz: Map[String, String],
                    scorer: Option[RelationScoring.LinearModel] = None,
                    availableNow: Boolean = true): StreamingQuery = {
    import spark.implicits._
    parquetBatches(spark, inputDir, org.apache.spark.sql.Encoders.product[Turn].schema,
      checkpointDir, availableNow) { (batch, batchId) =>
      KgPipeline.triples(batch.as[Turn], cfg, None, gaz, scorer)
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(outputDir)
    }
  }

  /** The file-source stream of both sink operators ([[triplesStream]],
    * [[minhashDedupStream]]): parquet files arriving under `inputDir`,
    * read with `schema`, each micro-batch handed to `sink` with its batch
    * id, progress kept under `checkpointDir`. With `availableNow` the
    * query processes what is there and stops.
    */
  private def parquetBatches(spark: SparkSession, inputDir: String, schema: StructType,
                             checkpointDir: String, availableNow: Boolean)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val writer = spark.readStream.schema(schema).parquet(inputDir).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(sink)
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** Per-conversation state for [[triplesStateful]]: the turns seen so
    * far (conversations are bounded — transcripts end) and the canonical
    * keys already emitted (cross-batch dedup).
    */
  final case class ConvState(turns: Seq[Turn], emittedKeys: Set[String])

  /** Stateful incremental extraction for conversations whose turns
    * arrive ACROSS micro-batches — `flatMapGroupsWithState` over
    * conv_id (the custom-state streaming op the batch-only reference has
    * no analogue for):
    *
    *  - state = accumulated turns (deduped on turn_idx, first write
    *    wins) + already-emitted triple keys,
    *  - each batch runs the pure per-conversation extraction over the
    *    accumulated turns but scores only pairs of keys that are still
    *    open: the emitted keys feed the positive-key short-circuit, so
    *    only new keys come out (append-mode-safe, exactly-once per key
    *    under the streaming checkpoint),
    *  - idle conversations are evicted under `timeout` ([[evicting]]):
    *    by default after `idleMs` of processing time, so state is
    *    bounded by ACTIVE conversations × bounded turns; under
    *    `EventTimeTimeout` once the watermark on `ts` passes the
    *    conversation's last turn plus `idleMs`. Back the state store
    *    with RocksDB at scale — a TESTED mode: one conf line,
    *    `spark.sql.streaming.stateStore.providerClass =
    *    ...state.RocksDBStateStoreProvider`, ships with Spark; output
    *    parity + provider-in-effect pinned in StreamingKgSpec.
    */
  def triplesStateful(turns: Dataset[Turn], cfg: KgPipeline.Config,
                      gaz: Map[String, String],
                      scorer: Option[RelationScoring.LinearModel] = None,
                      timeout: GroupStateTimeout =
                        GroupStateTimeout.ProcessingTimeTimeout(),
                      idleMs: Long = DefaultIdleMs,
                      watermarkDelay: String = "10 minutes"): Dataset[TripleRow] = {
    val spark = turns.sparkSession
    import spark.implicits._
    val bcGaz = spark.sparkContext.broadcast(gaz)
    val bcLin = spark.sparkContext.broadcast(scorer)
    evicting(watermarked(turns, "ts", timeout, watermarkDelay)
      .groupByKey(_.conv_id), timeout, idleMs)(
      // the stored turns themselves carry the horizon
      (s: ConvState) => s.turns.iterator.map(_.ts.getTime).foldLeft(0L)(math.max),
      (_: Turn) => 0L, (s: ConvState, _: Long) => s) {
      (convId, newTurns, state) =>
        mergeAndExtract(convId, newTurns, state, cfg, bcGaz.value, bcLin.value)
    }
  }

  /** Per-group body of [[triplesStateful]]: merge the arriving turns
    * into the accumulated state (first write per turn_idx wins), run the
    * pure per-conversation extraction with the already-emitted keys fed
    * into its positive-key short-circuit (their pairs are never scored,
    * so every row it returns is new), and update the state.
    */
  private def mergeAndExtract(convId: String, newTurns: Seq[Turn],
                              state: GroupState[ConvState],
                              cfg: KgPipeline.Config,
                              gaz: Map[String, String],
                              scorer: Option[RelationScoring.LinearModel])
  : Iterator[TripleRow] = {
    val prev = state.getOption.getOrElse(ConvState(Nil, Set.empty))
    val seen = prev.turns.map(_.turn_idx).toSet
    val merged = prev.turns ++
      newTurns.filterNot(t => seen(t.turn_idx)).distinctBy(_.turn_idx)
    val fresh = KgPipeline.processConversation(convId, merged, cfg,
      GazetteerTagger.sentenceTagger(gaz), scorer, decided = prev.emittedKeys)
    state.update(ConvState(merged, prev.emittedKeys ++ fresh.map(_.key)))
    fresh.iterator
  }

  /** Default `idleMs` of every operator: 30 minutes. */
  private final val DefaultIdleMs = 30L * 60 * 1000

  /** `rows` with an event-time watermark on `tsCol` — installed ONLY
    * under `EventTimeTimeout`, the one policy that reads it. The other
    * policies get their input plan untouched.
    */
  private def watermarked[T](rows: Dataset[T], tsCol: String,
                             timeout: GroupStateTimeout,
                             watermarkDelay: String): Dataset[T] =
    if (timeout == GroupStateTimeout.EventTimeTimeout())
      rows.withWatermark(tsCol, watermarkDelay)
    else rows

  /** The ONE eviction discipline of every stateful operator here; each
    * operator supplies only its per-group `body` (which updates the
    * state). `timeout` selects the policy:
    *
    *  - `NoTimeout`: state is kept forever (bounded by the key space);
    *  - `ProcessingTimeTimeout`: a group idle for `idleMs` of wall clock
    *    is evicted;
    *  - `EventTimeTimeout`: a group is evicted once the WATERMARK passes
    *    its max event time plus `idleMs`, i.e. only when the stream
    *    PROVES nothing within the horizon can still arrive — the
    *    discipline for REPLAYED or historical input, where wall-clock
    *    idleness says nothing about event-time adjacency and
    *    processing-time eviction races real late arrivals. The input
    *    must carry a watermark ([[watermarked]]).
    *
    * A timed-out group is removed and emits nothing; a key re-appearing
    * after eviction starts from empty state. Under event time the
    * horizon is the max event time EVER seen by the group — this batch's
    * arrivals (`eventMs`) and the state before and after `body`
    * (`lastMs`), written back through `stamp` — so a late-but-valid
    * arrival can never shrink it. The timeout is re-armed on every batch
    * to max(horizon + idleMs, watermark + 1 ms): the +1 floor keeps the
    * call legal when a group's events are already far behind the
    * watermark (Spark requires a strictly-future timeout).
    */
  private def evicting[K, V, S: Encoder, R: Encoder](
      groups: KeyValueGroupedDataset[K, V], timeout: GroupStateTimeout,
      idleMs: Long)(
      lastMs: S => Long, eventMs: V => Long, stamp: (S, Long) => S)(
      body: (K, Seq[V], GroupState[S]) => Iterator[R]): Dataset[R] = {
    val eventTime = timeout == GroupStateTimeout.EventTimeTimeout()
    val idle = timeout == GroupStateTimeout.ProcessingTimeTimeout()
    groups.flatMapGroupsWithState(OutputMode.Append(), timeout) {
      (key: K, rows: Iterator[V], state: GroupState[S]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          val seq = rows.toSeq
          val seenMs =
            if (!eventTime) 0L
            else math.max(seq.iterator.map(eventMs).foldLeft(0L)(math.max),
              state.getOption.fold(0L)(lastMs))
          val out = body(key, seq, state)
          if (idle) state.setTimeoutDuration(idleMs)
          else if (eventTime) state.getOption.foreach { s =>
            val last = math.max(seenMs, lastMs(s))
            state.update(stamp(s, last))
            state.setTimeoutTimestamp(
              math.max(last + idleMs, state.getCurrentWatermarkMs() + 1))
          }
          out
        }
    }
  }

  /** State for [[exactDedupStream]]: the representative (first-seen
    * minimal) doc_id and its text for each content hash, plus the
    * bucket's max event time (event-time eviction only).
    */
  final case class DedupState(repId: Long, text: String,
                              lastEventMs: Long = 0L)

  /** Streaming EXACT dedup at ingest — the incremental counterpart of
    * `Dedup.exact` for a landing-zone (doc_id, text, ts) stream:
    * documents are keyed by a 64-bit content hash (fnv1a64 — the
    * engine-owned hash, callable per-key in groupByKey; the batch
    * operator uses Catalyst's xxhash64 column — both are only BUCKETING,
    * exactness comes from the text comparison, so the choice is
    * invisible in the output), per-hash state holds the representative
    * (id + text for collision verification), and every arriving document
    * is emitted exactly once as (doc_id, rep_id, is_dup) — is_dup = an
    * earlier-arriving document had identical text. A 64-bit hash
    * collision with DIFFERENT text falls back to "not a duplicate":
    * never a false merge; the rare colliding text stays its own
    * representative on every occurrence (conservative direction — a
    * missed dedup, ~2⁻⁶⁴ per pair, not a lost document).
    *
    * Representative semantics differ from batch BY NECESSITY: batch
    * assigns rep = min doc_id over the whole group; a stream cannot
    * retract rows already emitted in append mode, so rep = FIRST-SEEN
    * (within one micro-batch, the minimal id — arrivals are processed in
    * ascending id order; across batches, arrival order wins). The parity
    * test feeds ascending ids, where the two coincide.
    *
    * State is bounded by distinct content hashes. `timeout` bounds it
    * further in TIME ([[evicting]]): `ProcessingTimeTimeout` evicts a
    * hash bucket idle longer than `idleMs` (state tracks the
    * RECENTLY-SEEN corpus), `EventTimeTimeout` evicts once the watermark
    * on `ts` passes the bucket's last document plus `idleMs` (the dedup
    * horizon in event time, for replayed corpora); `ts` is read only
    * then. A text re-ingested AFTER its bucket was evicted starts a
    * fresh group (it becomes its own representative again — pinned in
    * StreamingKgSpec); `NoTimeout` (default) is append-only. At scale
    * back the store with RocksDB (tested mode — see [[triplesStateful]]).
    */
  def exactDedupStream(docs: Dataset[(Long, String, java.sql.Timestamp)],
                       timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout(),
                       idleMs: Long = DefaultIdleMs,
                       watermarkDelay: String = "10 minutes")
  : Dataset[(Long, Long, Boolean)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    evicting(watermarked(docs, docs.columns(2), timeout, watermarkDelay)
      // engine-owned stable hash (graft invariant: never JVM hashCode)
      .groupByKey(r => graft.nlp.Hashes.fnv1a64(r._2)), timeout, idleMs)(
      (s: DedupState) => s.lastEventMs, _._3.getTime,
      (s: DedupState, ms: Long) => s.copy(lastEventMs = ms)) {
      (_, rows, state) => exactDedupGroup(rows.map(r => (r._1, r._2)), state)
    }
  }

  /** Per-group body of [[exactDedupStream]] — dedup semantics only. */
  private def exactDedupGroup(rowSeq: Seq[(Long, String)],
                              state: GroupState[DedupState])
  : Iterator[(Long, Long, Boolean)] = {
    val out = Vector.newBuilder[(Long, Long, Boolean)]
    var cur = state.getOption
    // deterministic within-batch order: ascending doc_id
    rowSeq.sortBy(_._1).foreach { case (id, text) =>
      cur match {
        case Some(s) if s.text == text =>
          out += ((id, s.repId, true))
        case Some(s) =>
          // hash collision, different text: keep as its own doc
          out += ((id, id, false))
        case None =>
          cur = Some(DedupState(id, text))
          out += ((id, id, false))
      }
    }
    cur.foreach(state.update)
    out.result().iterator
  }

  /** State for [[simhashPairsStream]]: every (doc_id, simhash) seen so
    * far in one 16-bit block bucket, plus the bucket's max event time.
    */
  final case class BlockState(entries: List[(Long, Long)],
                              lastEventMs: Long = 0L)

  /** Streaming NEAR-dup detection at ingest — the incremental form of
    * `Dedup.simhashPairs`: each arriving document fans out to its four
    * 16-bit SimHash blocks; per-(block-id, block-value) state keeps the
    * (doc_id, simhash) of every document seen in that bucket, and the
    * arrival emits (a, b, hamming) for each stored document within
    * `maxHamming`. The pigeonhole argument is the batch operator's: any
    * pair within hamming 3 of 64 bits shares at least one identical
    * block, so the union over the four block streams covers every
    * qualifying pair — a pair sharing MULTIPLE blocks is emitted once per
    * shared block, and all of its emissions land in the SAME micro-batch
    * (both fan-outs of a document ride with the document), so a per-batch
    * `dropDuplicates` in the sink restores set semantics (parity with
    * the batch operator is tested). Assumes unique doc_ids (the batch
    * operator's contract).
    *
    * State grows with corpus size per bucket; two bounds: `timeout`
    * evicts idle buckets exactly like [[exactDedupStream]] (re-ingested
    * docs after eviction re-emit their pairs; under event time the
    * watermark goes AFTER the fan-out — a typed flatMap between it and
    * the grouping would strip the event-time tag), and `maxBucket` caps
    * the entries a hot bucket STORES: arrivals beyond the cap still
    * compare against the stored entries but are not added, so a
    * boilerplate bucket emits O(cap) pairs per arrival instead of
    * O(bucket) — with the cap the result is an explicit candidate SUBSET
    * on hot buckets, the same recall trade Dedup.ngramJaccard makes with
    * its document-frequency filter (bounded-emission behavior pinned in
    * StreamingKgSpec). At scale back the store with RocksDB (tested
    * mode — see [[triplesStateful]]).
    *
    * NOTE `maxHamming` > 3: the 4×16-bit block fanout GUARANTEES a
    * shared block only for hamming ≤ 3 (pigeonhole over 4 blocks);
    * larger values return a candidate subset, not every qualifying pair
    * — identical to the batch operator's blocking, so batch/stream
    * parity still holds at any setting.
    */
  def simhashPairsStream(docs: Dataset[(Long, String, java.sql.Timestamp)],
                         maxHamming: Int = 3,
                         timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout(),
                         idleMs: Long = DefaultIdleMs,
                         watermarkDelay: String = "10 minutes",
                         maxBucket: Int = Int.MaxValue): Dataset[(Long, Long, Int)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // (block bucket, doc_id, simhash, ts)
    val blocks = docs.flatMap { case (id, text, ts) =>
      val h = Dedup.docSimhash(text)
      Dedup.simhashBlocks(h).map(k => (k, id, h, ts))
    }
    evicting(watermarked(blocks, "_4", timeout, watermarkDelay)
      .groupByKey(_._1), timeout, idleMs)(
      (s: BlockState) => s.lastEventMs, _._4.getTime,
      (s: BlockState, ms: Long) => s.copy(lastEventMs = ms)) {
      (_, rows, state) =>
        simhashGroup(rows.map(r => (r._2, r._3)), state, maxHamming, maxBucket)
    }
  }

  /** Per-group body of [[simhashPairsStream]]: `rowSeq` = (doc_id,
    * simhash) arrivals for one block bucket.
    */
  private def simhashGroup(rowSeq: Seq[(Long, Long)],
                           state: GroupState[BlockState],
                           maxHamming: Int, maxBucket: Int)
  : Iterator[(Long, Long, Int)] = {
    val out = Vector.newBuilder[(Long, Long, Int)]
    var entries = state.getOption.map(_.entries).getOrElse(Nil)
    var size = entries.size // ≤ maxBucket by construction
    // deterministic within-batch order: ascending doc_id
    rowSeq.sortBy(_._1).foreach { case (id, h) =>
      entries.foreach { case (pid, ph) =>
        if (pid != id) {
          val d = graft.nlp.Hashes.hamming(ph, h)
          if (d <= maxHamming)
            out += ((math.min(pid, id), math.max(pid, id), d))
        }
      }
      if (size < maxBucket) { entries = (id, h) :: entries; size += 1 }
    }
    state.update(BlockState(entries))
    out.result().iterator
  }

  /** State for [[minhashCandidatesStream]]: doc ids seen in one band
    * bucket — ids ONLY, the same payload-free contract as the batch
    * operator's band rows — plus the bucket's max event time.
    */
  final case class BucketState(ids: List[Long], lastEventMs: Long = 0L)

  /** Streaming MinHash-LSH near-dup CANDIDATES at ingest — the
    * incremental form of the batch `Dedup.bandedBuckets` candidate
    * generation: each arriving document fans out to its `bands` bucket
    * keys (`Dedup.docShingles` + `Dedup.docBuckets`, the batch
    * operator's own per-doc fold, so the candidate sets are EQUAL by
    * construction — and tested), per-bucket state keeps doc ids only,
    * and an arrival emits (a, b) for every id already in the bucket.
    * Like the batch operator, candidates are a superset of the true
    * near-dups: exact-Jaccard verification joins the id pairs back to a
    * persisted (doc_id, shingles) table — in a stream that's the
    * downstream foreachBatch join ([[minhashDedupStream]]), keeping
    * shingle payloads out of both the shuffle AND the state store. A
    * pair sharing several bands emits once per shared band, all in the
    * batch where the later doc arrives — per-batch dropDuplicates in the
    * sink restores set semantics.
    *
    * Same operational caveats and bounds as [[simhashPairsStream]]:
    * assumes unique doc_ids (a re-ingested id would re-emit its pairs in
    * a LATER batch, beyond per-batch dedup); `timeout`/`idleMs` evict
    * idle buckets (event-time watermark after the fan-out), `maxBucket`
    * caps stored ids per bucket so a hot boilerplate bucket emits O(cap)
    * candidates per arrival instead of O(bucket) — an explicit candidate
    * subset on hot buckets; exact-Jaccard verification downstream keeps
    * precision regardless.
    */
  def minhashCandidatesStream(docs: Dataset[(Long, String, java.sql.Timestamp)],
                              shingleN: Int = 3, numPerm: Int = 64,
                              bands: Int = 16,
                              timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout(),
                              idleMs: Long = DefaultIdleMs,
                              watermarkDelay: String = "10 minutes",
                              maxBucket: Int = Int.MaxValue): Dataset[(Long, Long)] = {
    require(numPerm % bands == 0)
    val spark = docs.sparkSession
    import spark.implicits._
    // (band bucket, doc_id, ts)
    val banded = docs.flatMap { case (id, text, ts) =>
      Dedup.docBuckets(Dedup.docShingles(text, shingleN), numPerm, bands)
        .iterator.map(b => (b, id, ts))
    }
    evicting(watermarked(banded, "_3", timeout, watermarkDelay)
      .groupByKey(_._1), timeout, idleMs)(
      (s: BucketState) => s.lastEventMs, _._3.getTime,
      (s: BucketState, ms: Long) => s.copy(lastEventMs = ms)) {
      (_, rows, state) => minhashGroup(rows.map(_._2), state, maxBucket)
    }
  }

  /** Per-group body of [[minhashCandidatesStream]]: `idSeq` = doc ids
    * arriving in one band bucket.
    */
  private def minhashGroup(idSeq: Seq[Long], state: GroupState[BucketState],
                           maxBucket: Int): Iterator[(Long, Long)] = {
    val out = Vector.newBuilder[(Long, Long)]
    var ids = state.getOption.map(_.ids).getOrElse(Nil)
    var size = ids.size // ≤ maxBucket by construction
    idSeq.sorted.foreach { id =>
      ids.foreach { pid =>
        if (pid != id) out += ((math.min(pid, id), math.max(pid, id)))
      }
      if (size < maxBucket) { ids = id :: ids; size += 1 }
    }
    state.update(BucketState(ids))
    out.result().iterator
  }

  /** END-TO-END streaming MinHash dedup — the packaged form of the
    * "exact-Jaccard verification = downstream foreachBatch join" pattern
    * the candidate operators document. Per micro-batch of documents:
    *
    *  1. the batch's hashed shingle sets and band rows are appended to
    *     parquet stores under `storeDir`, one `batch_id=<id>` directory
    *     per batch written with overwrite — a REPLAYED batch after a
    *     failure rewrites its own directory, so the stores are
    *     idempotent under the streaming checkpoint's retry semantics;
    *  2. the batch's band rows join the FULL band-row store (which now
    *     includes the batch itself) on bucket — each unordered candidate
    *     pair surfaces exactly once, in the batch where its LATER member
    *     arrives (intra-batch pairs via self-inclusion + a < b);
    *  3. candidate id-pairs join BACK to the shingle store on both sides
    *     for exact-Jaccard verification (the same candidates-then-
    *     join-back shape as batch [[graft.ops.Dedup.minhashLsh]] — band
    *     rows and candidates stay payload-free), and verified pairs land
    *     in `outputDir/batch_id=<id>` (idempotent like the stores).
    *
    * Identical shingle/signature/bucket arithmetic to the batch operator
    * (Dedup.docShingles + Dedup.docBuckets), so the accumulated output
    * over any prefix of batches EQUALS batch `minhashLsh` over the
    * accumulated corpus (parity tested). Assumes
    * unique doc_ids across the stream (the batch operator's contract).
    * Output rows are SET-semantic: a batch replayed after later batches
    * already ran re-joins against the grown store and may duplicate
    * pairs across batch_id directories (never lose any) — read the
    * output `.distinct()`, exactly like the candidate streams' sinks.
    *
    * Scale shape (r5 — the r4 form re-read the FULL band store each
    * batch, O(accumulated corpus) IO per micro-batch): both stores are
    * PARTITIONED by a hash-derived `part` key (`part =
    * pmod(xxhash64(join key), numParts)` — bucket for bands, doc_id for
    * shingles), and each batch reads ONLY the part directories its own
    * join keys hash into ([[readStoreParts]] — deterministic path-level
    * pruning, not optimizer-dependent). A trickle batch touches a few
    * directories of a corpus-sized store; the needed-part sets are
    * collected driver-side but are ≤ numParts ints by construction.
    * Pruning evidence (files read, pruned ≡ full-scan-filtered) is
    * pinned in StreamingKgSpec.
    */
  def minhashDedupStream(spark: SparkSession, inputDir: String,
                         outputDir: String, checkpointDir: String,
                         storeDir: String,
                         shingleN: Int = 3, numPerm: Int = 64,
                         bands: Int = 16, threshold: Double = 0.5,
                         numParts: Int = 64,
                         availableNow: Boolean = true): StreamingQuery = {
    import spark.implicits._
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    parquetBatches(spark, inputDir, schema, checkpointDir, availableNow) {
      (batch, batchId) =>
        val shingled = batch.select(col("doc_id"), col("text"))
          .as[(Long, String)]
          .map { case (id, text) => (id, Dedup.docShingles(text, shingleN)) }
          .toDF("doc_id", "shingles")
          .persist()
        if (shingled.limit(1).count() > 0) {
          shingled.withColumn("part", storePart(col("doc_id"), numParts))
            .write.mode("overwrite").partitionBy("part")
            .parquet(s"$storeDir/shingles/batch_id=$batchId")
          val batchBands = Dedup.bandedBuckets(shingled, numPerm, bands).persist()
          batchBands.withColumn("part", storePart(col("bucket"), numParts))
            .write.mode("overwrite").partitionBy("part")
            .parquet(s"$storeDir/bands/batch_id=$batchId")
          // the parts THIS batch's buckets hash into — ≤ numParts ints
          val bandParts = batchBands
            .select(storePart(col("bucket"), numParts).as("part"))
            .distinct().as[Long].collect().toSet
          val allBands = readStoreParts(spark, s"$storeDir/bands", bandParts)
            .select("doc_id", "bucket")
          val cand = batchBands
            .join(allBands.select(col("doc_id").as("b"), col("bucket")),
              Seq("bucket"))
            .select(least(col("doc_id"), col("b")).as("a"),
              greatest(col("doc_id"), col("b")).as("b"))
            .filter(col("a") < col("b")).distinct()
            .persist()
          // shingle parts for the candidates' two id sides only
          val candParts = cand
            .select(explode(array(col("a"), col("b"))).as("doc_id"))
            .select(storePart(col("doc_id"), numParts).as("part"))
            .distinct().as[Long].collect().toSet
          val verified =
            if (candParts.isEmpty)
              // candidate-free batch: still write the (empty) output dir
              // so replays stay idempotent, exactly like the r4 form
              Seq.empty[(Long, Long, Double)].toDF("a", "b", "jaccard")
            else Dedup.verifiedPairs(cand,
              readStoreParts(spark, s"$storeDir/shingles", candParts), threshold)
          verified.write.mode("overwrite")
            .parquet(s"$outputDir/batch_id=$batchId")
          cand.unpersist(false)
          batchBands.unpersist(false)
        }
        shingled.unpersist(false)
    }
  }

  /** `part` assignment shared by [[minhashDedupStream]]'s store writers
    * and pruned readers — both sides MUST use the same arithmetic or
    * pruning silently loses rows.
    */
  private[streaming] def storePart(key: Column, numParts: Int): Column =
    pmod(xxhash64(key), lit(numParts.toLong))

  /** Read ONLY the `part=<p>` directories of a batch-versioned store
    * (`root/batch_id=N/part=p`) whose part value is in `parts` —
    * deterministic path-level pruning: the file listing never touches a
    * directory outside the requested part set, so per-batch IO is
    * proportional to the batch's OWN key footprint, not the accumulated
    * store ([[minhashDedupStream]] scale shape). One listing RPC per
    * batch directory; empty selection → empty frame.
    */
  private[streaming] def readStoreParts(spark: SparkSession, root: String,
                                        parts: Set[Long]): DataFrame = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val dirs: Seq[String] =
      if (parts.isEmpty || !fs.exists(rootPath)) Nil
      else fs.listStatus(rootPath).toSeq.filter(_.isDirectory).flatMap { b =>
        fs.listStatus(b.getPath).toSeq.map(_.getPath).filter { p =>
          val n = p.getName
          n.startsWith("part=") &&
            scala.util.Try(n.stripPrefix("part=").toLong).toOption
              .exists(parts.contains)
        }.map(_.toString)
      }
    // callers only request parts derived from keys they just wrote (or
    // that earlier batches wrote), so an empty listing means a corrupted
    // or foreign store — fail loudly rather than silently drop pairs
    if (dirs.isEmpty)
      throw new IllegalStateException(
        s"no part directories under $root for parts=$parts")
    spark.read.option("basePath", root).parquet(dirs: _*)
  }

  /** State for [[sessionizeStream]]: the user's current session (start
    * micros — the session's stable identity) and the max event time
    * ever seen (the gap horizon, state-carried so a late-but-valid
    * arrival cannot shrink it — the [[evicting]] discipline).
    */
  final case class SessState(lastUs: Long, startUs: Long)

  /** Streaming SESSIONIZATION — the incremental form of
    * [[graft.ops.Events.sessionize]]: per-user state carries the gap
    * horizon and the open session's start; each arriving event joins
    * the current session or opens a new one under the SAME strict-> gap
    * rule in integer event-time microseconds. Emits (event_id, user_id,
    * session_start_us, is_start) — the session is identified by its
    * FIRST event's micros rather than a per-user ordinal, so state
    * eviction can never renumber later sessions (an ordinal dies with
    * the state; the start-time key is stable by construction; the batch
    * operator's ordinal and this key induce the same PARTITION of
    * events into sessions, which is what the parity test compares).
    * Within a micro-batch rows are processed in (ts, event_id) order —
    * the batch window order — so in-order arrival across batches yields
    * exactly the batch partitioning; an event arriving LATE after a
    * newer event advanced the horizon may split differently than the
    * batch sort (the inherent streaming/batch divergence of any online
    * sessionizer on late data; the watermark bounds how late that can
    * be). State evicts on event time once the watermark passes last
    * event + gap — semantically free for partitioning: any later event
    * exceeds the gap and opens a new session anyway. NULL event times
    * are DROPPED at ingest: a timeless event cannot be positioned
    * against an event-time horizon (and the engine's late-data
    * predicate would pass such a row through to a task-killing NPE);
    * the batch operator instead carries null-ts rows with a null
    * is_start — the one documented batch/stream divergence, pinned in
    * StreamingKgSpec.
    */
  def sessionizeStream(events: Dataset[(Long, java.sql.Timestamp, Long)],
                       gapMinutes: Int = 30,
                       watermarkDelay: String = "10 minutes")
  : Dataset[(Long, Long, Long, Boolean)] = {
    require(gapMinutes > 0)
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    def us(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    val timed = events.toDF("event_id", "ts", "user_id")
      .filter(col("ts").isNotNull)
      .withWatermark("ts", watermarkDelay)
      .as[(Long, java.sql.Timestamp, Long)]
    // ceiling division (r6, ADVICE r5): flooring micros->millis could
    // evict up to 999µs before last_event_time + gap, so a boundary event
    // (still in-session under the strict-> rule) could meet evicted state
    // and wrongly open a new session
    evicting(timed.groupByKey(_._3), GroupStateTimeout.EventTimeTimeout(),
      gapMinutes.toLong * 60000L)(
      (s: SessState) => (s.lastUs + 999L) / 1000L,
      (_: (Long, java.sql.Timestamp, Long)) => 0L, (s: SessState, _: Long) => s) {
      (userId, rows, state) =>
        var st = state.getOption.orNull
        val out = rows.sortBy(r => (us(r._2), r._1)).map { case (eid, t, _) =>
          val u = us(t)
          val isStart = (st eq null) || u - st.lastUs > gapUs
          st = if (isStart) SessState(u, u)
          else SessState(math.max(st.lastUs, u), st.startUs)
          (eid, userId, st.startUs, isStart)
        }
        if (st ne null) state.update(st)
        out.iterator
    }
  }

  /** Event-time turn-rate monitor: 1-minute windows, 2-minute watermark
    * (late turns beyond the watermark are dropped from their window).
    */
  def turnRates(turns: DataFrame): DataFrame =
    turns
      .withWatermark("ts", "2 minutes")
      .groupBy(window(col("ts"), "1 minute"), col("role"))
      .agg(count(lit(1)).as("n_turns"))
      .select(col("window.start").as("window_start"), col("role"), col("n_turns"))
}
