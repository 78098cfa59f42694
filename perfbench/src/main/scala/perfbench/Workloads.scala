package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout
import graft.model.Turn
import graft.ops.{GazetteerTagger, KgPipeline, RelationScoring, Segmentation,
  Stages, Transcripts}
import graft.streaming.StreamingKg

/** What one benchmark process works with. */
final case class Env(spark: SparkSession, work: String, input: String, warm: String,
    oracle: String)

/** One measured rep. `wallS` covers exactly the measured call; `batchS`
  * are its unit latencies (micro-batches, or the rep itself); `layer`
  * holds the rep's per-layer numbers.
  */
final case class RepOut(wallS: Double, batchS: Seq[Double], failures: Seq[String],
    layer: Map[String, Double] = Map.empty, spans: Seq[(String, Long, Long)] = Nil)

trait Workload {
  def name: String
  /** Input turns one rep processes; known after `prepare`. */
  def turns: Long
  /** Untimed: the expected output digests. */
  def prepare(env: Env): Unit
  /** Part of set-up: one rep over the small warm-up input. */
  def warmup(env: Env): Unit
  def rep(env: Env, i: Int): RepOut
  /** Fused-extractor config, tagger dictionary and scorer the traced
    * replay uses, and the conversations it replays.
    */
  def replayConfig: (KgPipeline.Config, Map[String, String], Option[RelationScoring.LinearModel])
  def replayInput(env: Env, convs: Int): Seq[(String, Seq[Turn])]
  /** Extra per-layer work of a traced run, outside the measured reps. */
  def tracedExtra(env: Env): Option[RepOut] = None
}

object Workloads {

  val OutCols: Seq[String] = Seq("conv_id", "turn_idx", "pred", "subj", "obj", "key")
  val ConvKey: Seq[String] = Seq("conv_id", "key")
  val StageNames: Seq[String] = Seq("transcripts", "mentions", "edges", "triples",
    "nodes", "crf_mentions", "scored", "dup_pairs", "dup_clusters", "splits", "curation")

  /** All-positive linear model: every candidate pays the full scoring cost. */
  def allPositive: Option[RelationScoring.LinearModel] =
    Some(RelationScoring.LinearModel(new Array[Double](RelationScoring.Dims), b = 1.0))

  // planted vocabulary of Transcripts.synthetic, and its dictionary
  val Subjects: Seq[String] = Seq("svc_auth", "svc_billing", "svc_search", "job_etl", "agent_planner")
  val Verbs: Seq[String] = Seq("calls", "reads", "updates", "queries", "joins")
  val Objects: Seq[String] = Seq("db_users", "db_orders", "idx_docs", "topic_events", "cache_main")
  val ChatGaz: Map[String, String] =
    Subjects.map(_ -> "e_svc").toMap ++ Objects.map(_ -> "e_res").toMap
  val ChatCfg: KgPipeline.Config = KgPipeline.Config("r_uses", "e_svc", "e_res",
    window = 1, tokenizer = "generic")
  // the kg_scored shape
  val DocsCfg: KgPipeline.Config = KgPipeline.Config("r_op_obj", GazetteerTagger.OpClass,
    GazetteerTagger.ObjClass, window = 0, tokenizer = "tmvar")

  def byName(name: String): Workload = name match {
    case "chat_sparse" => new ChatSparse
    case "docs_dense" => new DocsDense
    case "stage_chain" => new StageChain
    case "stream_stateful" => new StreamStateful
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def readTurns(spark: SparkSession, path: String): Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(path).as[Turn]
  }

  def docTurns(spark: SparkSession, dir: String): Dataset[Turn] =
    Segmentation.turns(Transcripts.fromDocuments(spark, dir))

  def firstConvs(ds: Dataset[Turn], convs: Int): Seq[(String, Seq[Turn])] = {
    val ids = ds.select("conv_id").distinct().orderBy("conv_id").limit(convs)
    ds.join(ids, "conv_id").as(ds.encoder).collect().toSeq
      .groupBy(_.conv_id).toSeq.sortBy(_._1)
  }

  private val nanoMinusMillis = System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** A wall-clock millisecond time in the `System.nanoTime` base spans use. */
  def epochMsToNano(ms: Long): Long = ms * 1000000L + nanoMinusMillis

  def mismatch(what: String, got: Checks.Digest, want: Checks.Digest): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, expected $want")

  /** Seeded synthetic chat turns, materialized once per (seed, size). */
  def generateChat(spark: SparkSession, path: String, convs: Int, seed: Long): Unit = {
    if (!new File(path, "_SUCCESS").exists())
      Transcripts.synthetic(spark, convs, Transcripts.TurnsPerConv, seed)
        .write.mode("overwrite").parquet(path)
  }
}

import Workloads._

/** Fused `KgPipeline.triples` over synthetic chat turns, window=1. */
final class ChatSparse extends Workload {
  val name = "chat_sparse"
  private var expected: Checks.Digest = _
  private var nTurns = 0L

  def turns: Long = nTurns

  def prepare(env: Env): Unit = {
    val in = env.spark.read.parquet(env.input)
    nTurns = in.count()
    expected = Checks.digest(Checks.plantedChatKeys(in, ChatCfg.relType, ChatCfg.class1,
      ChatCfg.class2, Subjects, Verbs, Objects), ConvKey)
  }

  private def run(env: Env, path: String): (Checks.Digest, Checks.Digest) =
    Checks.digest2(KgPipeline.triples(readTurns(env.spark, path), ChatCfg, None, ChatGaz,
      allPositive).toDF(), OutCols :+ "score", ConvKey)

  def warmup(env: Env): Unit = run(env, env.warm)

  def rep(env: Env, i: Int): RepOut = {
    val ((_, keys), s) = timed(run(env, env.input))
    RepOut(s, Seq(s), mismatch("chat (conv_id, key) set", keys, expected))
  }

  def replayConfig = (ChatCfg, ChatGaz, allPositive)
  def replayInput(env: Env, convs: Int): Seq[(String, Seq[Turn])] =
    firstConvs(readTurns(env.spark, env.input), convs)
}

/** Fused `KgPipeline.triples` in the kg_scored shape over a generated
  * documents corpus: one long sentence per turn, dense mentions.
  */
final class DocsDense extends Workload {
  val name = "docs_dense"
  private var expected: Checks.Digest = _
  private var nTurns = 0L

  def turns: Long = nTurns

  def prepare(env: Env): Unit = {
    nTurns = env.spark.read.parquet(s"${env.input}/documents.parquet").count()
    expected = Checks.digest(env.spark.read.parquet(s"${env.oracle}/kg_scored.parquet"), OutCols)
  }

  private def run(env: Env, dir: String): (Checks.Digest, Checks.Digest) =
    Checks.digest2(KgPipeline.triples(docTurns(env.spark, dir), DocsCfg, None,
      GazetteerTagger.gazetteer, allPositive).toDF(), OutCols :+ "score", OutCols)

  def warmup(env: Env): Unit = run(env, env.warm)

  def rep(env: Env, i: Int): RepOut = {
    val ((_, rows), s) = timed(run(env, env.input))
    RepOut(s, Seq(s), mismatch("kg_scored rows vs DuckDB", rows, expected))
  }

  def replayConfig = (DocsCfg, GazetteerTagger.gazetteer, allPositive)
  def replayInput(env: Env, convs: Int): Seq[(String, Seq[Turn])] =
    firstConvs(docTurns(env.spark, env.input), convs)

  /** The stage chain over the same corpus: a warm-up chain, then one
    * chain whose per-stage numbers and output checks join the traced
    * run. Its `scored` stage reuses the fused extractor timed above.
    */
  override def tracedExtra(env: Env): Option[RepOut] = {
    val chain = new StageChain
    // the chain's cost is mostly per-stage overhead: a small corpus warms it
    val small = s"${env.work}/chain_warm_docs"
    env.spark.read.parquet(s"${env.warm}/documents.parquet").orderBy("doc_id").limit(60)
      .write.mode("overwrite").parquet(s"$small/documents.parquet")
    chain.warmup(env.copy(warm = small))
    chain.prepare(env)
    Some(chain.rep(env, 0))
  }
}

/** `Stages.materializeAll` then `Stages.materializeCuration` into a fresh
  * root. Per-stage numbers come from outside: `_SUCCESS` times, the
  * `_lineage` table and the stage directories.
  */
final class StageChain extends Workload {
  val name = "stage_chain"
  private var expTriples: Checks.Digest = _
  private var expScored: Checks.Digest = _
  private var nTurns = 0L

  def turns: Long = nTurns

  def prepare(env: Env): Unit = {
    nTurns = env.spark.read.parquet(s"${env.input}/documents.parquet").count()
    expTriples = Checks.digest(env.spark.read.parquet(s"${env.oracle}/kg_triples.parquet"), OutCols)
    expScored = Checks.digest(env.spark.read.parquet(s"${env.oracle}/kg_scored.parquet"), OutCols)
  }

  private def chain(env: Env, dir: String, root: String): Seq[Stages.RunReport] =
    Stages.materializeAll(env.spark, dir, root) ++
      Stages.materializeCuration(env.spark, dir, root)

  def warmup(env: Env): Unit = {
    val root = s"${env.work}/chain_warm"
    chain(env, env.warm, root)
    deleteTree(new File(root))
  }

  def rep(env: Env, i: Int): RepOut = {
    val root = s"${env.work}/chain_$i"
    val startMs = System.currentTimeMillis()
    val (reports, s) = timed(chain(env, env.input, root))
    // stage st ran from the previous stage's _SUCCESS to its own
    val done = StageNames.map(st => new File(s"$root/$st/_SUCCESS").lastModified())
    val bounds = StageNames.zip(startMs +: done).zip(done).map { case ((st, a), b) => (st, a, b) }
    val layer = stageNumbers(env.spark, root, bounds)
    val spans = ("stages.chain", startMs, done.last) +:
      bounds.map { case (st, a, b) => (s"stages.$st", a, b) }
    val spark = env.spark
    val failures =
      (if (reports.map(_.stage) == StageNames && reports.forall(!_.skipped)) Nil
       else Seq(s"stages run: ${reports.map(r => r.stage + (if (r.skipped) "(skipped)" else ""))}")) ++
      mismatch("triples stage vs DuckDB kg_triples",
        Checks.digest(spark.read.parquet(s"$root/triples"), OutCols), expTriples) ++
      mismatch("scored stage vs DuckDB kg_scored",
        Checks.digest(spark.read.parquet(s"$root/scored"), OutCols), expScored)
    deleteTree(new File(root))
    RepOut(s, Seq(s), failures, layer,
      spans.map { case (n, a, b) => (n, epochMsToNano(a), epochMsToNano(b)) })
  }

  /** Stage wall time from `_SUCCESS` times (`bounds`: stage, start ms,
    * end ms); rows, partitions and per-partition wall skew from
    * `_lineage`; bytes from each stage directory.
    */
  private def stageNumbers(spark: SparkSession, root: String,
      bounds: Seq[(String, Long, Long)]): Map[String, Double] = {
    val lineage = spark.read.parquet(s"$root/_lineage")
      .select("stage", "partition_id", "output_rows", "wall_ms").collect()
      .groupBy(_.getString(0))
    val perStage = bounds.flatMap { case (st, a, b) =>
      val rows = lineage.getOrElse(st, Array.empty)
      val walls = rows.map(_.getLong(3).toDouble).toSeq
      Seq(
        s"stages.${st}_s" -> (b - a) / 1e3,
        s"stages.${st}_rows" -> rows.map(_.getLong(2)).sum.toDouble,
        s"stages.${st}_parts" -> rows.length.toDouble,
        s"stages.${st}_write_mb" -> dirBytes(new File(s"$root/$st")) / 1e6,
        s"stages.${st}_skew" -> (if (walls.isEmpty) 1.0
          else walls.max / math.max(Stats.median(walls), 1.0)))
    }.toMap
    perStage + ("stages.lineage_skew" -> StageNames.map(st => perStage(s"stages.${st}_skew")).max)
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length()

  def replayConfig = (DocsCfg, GazetteerTagger.gazetteer, allPositive)
  def replayInput(env: Env, convs: Int): Seq[(String, Seq[Turn])] =
    firstConvs(docTurns(env.spark, env.input), convs)

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

/** Each conversation's turns arrive one per micro-batch through a
  * `MemoryStream` into `StreamingKg.triplesStateful` (NoTimeout). Closed
  * loop, one client: the next batch is added only after
  * `processAllAvailable()` returns.
  */
final class StreamStateful extends Workload {
  val name = "stream_stateful"
  private var expected: Checks.Digest = _
  private var batches: Seq[Seq[Turn]] = Nil
  private var warmBatches: Seq[Seq[Turn]] = Nil
  private var queries = 0

  def turns: Long = batches.map(_.length.toLong).sum

  private def byTurn(spark: SparkSession, path: String): Seq[Seq[Turn]] =
    readTurns(spark, path).collect().toSeq.groupBy(_.turn_idx).toSeq.sortBy(_._1).map(_._2)

  def prepare(env: Env): Unit = {
    batches = byTurn(env.spark, env.input)
    expected = Checks.digest(KgPipeline.triples(readTurns(env.spark, env.input), ChatCfg,
      None, ChatGaz, allPositive).toDF(), ConvKey)
  }

  private def stream(env: Env, tag: String, input: Seq[Seq[Turn]])
  : (Seq[Double], DataFrame, Array[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    val spark = env.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Turn]
    val table = s"perfbench_stream_$tag"
    queries += 1
    val q = StreamingKg.triplesStateful(source.toDS(), ChatCfg, ChatGaz, allPositive,
        timeout = GroupStateTimeout.NoTimeout())
      .writeStream.format("memory").queryName(table).outputMode("append")
      .option("checkpointLocation", s"${env.work}/checkpoint_$queries")
      .start()
    try {
      val lat = input.map { b =>
        timed { source.addData(b); q.processAllAvailable() }._2
      }
      (lat, spark.table(table), q.recentProgress)
    } finally q.stop()
  }

  def warmup(env: Env): Unit = {
    if (warmBatches.isEmpty) warmBatches = byTurn(env.spark, env.warm)
    stream(env, "warm", warmBatches)
    env.spark.catalog.dropTempView("perfbench_stream_warm")
  }

  def rep(env: Env, i: Int): RepOut = {
    val (lat, out, progress) = stream(env, s"r$i", batches)
    val got = Checks.digest(out, ConvKey)
    val distinct = out.select("conv_id", "key").distinct().count()
    val failures = mismatch("streamed (conv_id, key) vs batch KgPipeline.triples", got, expected) ++
      (if (distinct == got.rows) Nil else Seq(s"${got.rows - distinct} keys emitted twice"))
    env.spark.catalog.dropTempView(s"perfbench_stream_r$i")
    val loaded = progress.filter(_.numInputRows > 0)
    val ops = loaded.flatMap(_.stateOperators.headOption)
    val convs = batches.headOption.map(_.length).getOrElse(0)
    val layer = Map(
      // the final batch re-extracts the most turns against the largest state
      "streaming.last_batch_s" -> lat.last,
      "streaming.state_rows" -> ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.state_mb" -> ops.lastOption.map(_.memoryUsedBytes / 1e6).getOrElse(0.0),
      "streaming.state_commit_s" -> ops.map(_.commitTimeMs).sum / 1e3,
      // every batch re-extracts each conversation's accumulated turns
      "streaming.turns_reextracted" -> batches.indices.map(b => convs.toDouble * (b + 1)).sum,
      "streaming.batch_rows_per_s" ->
        (if (loaded.isEmpty) 0.0 else Stats.median(loaded.map(_.processedRowsPerSecond).toSeq)))
    RepOut(lat.sum, lat, failures, layer)
  }

  def replayConfig = (ChatCfg, ChatGaz, allPositive)
  def replayInput(env: Env, convs: Int): Seq[(String, Seq[Turn])] =
    firstConvs(readTurns(env.spark, env.input), convs)
}
