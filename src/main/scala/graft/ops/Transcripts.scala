package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.model.Turn

/** Builders for the engine's primary input table: multi-turn transcripts
  * (conv_id, turn_idx, role, text, tool, ts) per BASELINE.json input_hint.
  *
  * Two sources:
  *  - [[fromDocuments]]: a deterministic, SQL-expressible derivation from
  *    the driver-provided `documents` parquet (used by the DuckDB-oracled
  *    driver queries — text passes through byte-identically, exercising
  *    the per-turn text invariant).
  *  - [[synthetic]]: a seeded generator with entity surface forms planted
  *    at known offsets (used by unit tests and the Bench harness; no
  *    external data, timestamps passed in — never wall-clock).
  */
object Transcripts {

  val TurnsPerConv = 5
  val EpochSeconds = 1735689600L // 2025-01-01T00:00:00Z, fixed

  /** The documents table as its generators write it: columns in file
    * order, nullable as Parquet schema inference reads them.
    */
  val DocumentsSchema: StructType =
    StructType.fromDDL("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")

  /** `<sfDir>/documents.parquet` read with [[DocumentsSchema]] — the engine's
    * one read of it. A declared schema skips inference, which runs a
    * footer-reading job on every call.
    */
  def documents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.schema(DocumentsSchema).parquet(s"$sfDir/documents.parquet")

  /** [[fromDocuments]] of `<sfDir>`'s [[documents]]. */
  def fromDocuments(spark: SparkSession, sfDir: String): DataFrame =
    fromDocuments(documents(spark, sfDir))

  /** documents(doc_id, text, ...) → transcripts. conv_id groups 5
    * consecutive doc_ids; text is carried through untouched.
    */
  def fromDocuments(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(
      concat(lit("conv_"),
        lpad(($"doc_id" / TurnsPerConv).cast("long").cast("string"), 6, "0"))
        .as("conv_id"),
      ($"doc_id" % TurnsPerConv).cast("int").as("turn_idx"),
      when($"doc_id" % 3 === 0, "user")
        .when($"doc_id" % 3 === 1, "assistant")
        .otherwise("tool").as("role"),
      $"text",
      when($"doc_id" % 3 === 2,
        concat(lit("tool_"), ($"doc_id" % 7).cast("string"))).as("tool"),
      timestamp_seconds(lit(EpochSeconds) + $"doc_id" * 60).as("ts")
    )
  }

  /** DuckDB formulation of [[fromDocuments]] — the shared prefix of every
    * oracle query (`WITH transcripts AS (...)`).
    */
  val duckdbCte: String =
    s"""SELECT 'conv_' || lpad(CAST(doc_id // $TurnsPerConv AS VARCHAR), 6, '0') AS conv_id,
       |  CAST(doc_id % $TurnsPerConv AS INT) AS turn_idx,
       |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
       |  text,
       |  CASE WHEN doc_id % 3 = 2 THEN 'tool_' || CAST(doc_id % 7 AS VARCHAR) END AS tool,
       |  make_timestamp(($EpochSeconds + doc_id * 60) * 1000000) AS ts
       |FROM documents""".stripMargin

  /** Seeded synthetic transcripts: `nConvs` conversations × `turns` turns,
    * sentences built from a fixed vocabulary with entity surface forms
    * planted deterministically. Pure function of (seed, ids) — safe to
    * regenerate identically on any executor.
    */
  def synthetic(spark: SparkSession, nConvs: Int, turns: Int, seed: Long = 42L): org.apache.spark.sql.Dataset[Turn] = {
    import spark.implicits._
    val nParts = math.max(spark.sparkContext.defaultParallelism, 1)
    spark.range(0, nConvs.toLong * turns, 1, nParts).as[Long].map { i =>
      val conv = (i / turns).toInt
      val turn = (i % turns).toInt
      syntheticTurn(conv, turn, seed)
    }
  }

  private val verbs = Vector("calls", "reads", "updates", "queries", "joins")
  private val subjects = Vector("svc_auth", "svc_billing", "svc_search", "job_etl", "agent_planner")
  private val objects = Vector("db_users", "db_orders", "idx_docs", "topic_events", "cache_main")
  private val fillers = Vector("Please check the logs.", "That looks fine to me.",
    "Retrying with backoff now.", "The latency went up slightly.")

  /** Deterministic turn content: 2-4 sentences, one planted
    * (subject, verb, object) fact sentence per turn.
    */
  def syntheticTurn(conv: Int, turn: Int, seed: Long): Turn = {
    val h = graft.nlp.Hashes.mix64(seed ^ (conv.toLong << 20) ^ turn.toLong)
    def pick[T](v: Vector[T], salt: Int): T =
      v((math.abs(graft.nlp.Hashes.mix64(h ^ salt)) % v.length).toInt)
    val subj = pick(subjects, 1)
    val verb = pick(verbs, 2)
    val obj = pick(objects, 3)
    val fact = s"$subj $verb $obj."
    val pre = pick(fillers, 4)
    val post = pick(fillers, 5)
    val nSent = 2 + (math.abs(h) % 3).toInt
    val text = nSent match {
      case 2 => s"$pre $fact"
      case 3 => s"$pre $fact $post"
      case _ => s"$pre $fact $post ${pick(fillers, 6)}"
    }
    val role = (turn % 3) match {
      case 0 => "user"; case 1 => "assistant"; case 2 => "tool"
    }
    Turn(
      conv_id = f"conv_$conv%06d",
      turn_idx = turn,
      role = role,
      text = text,
      tool = if (role == "tool") Some("tool_" + (math.abs(h) % 4)) else None,
      ts = new java.sql.Timestamp((EpochSeconds + conv.toLong * 3600 + turn * 60) * 1000L)
    )
  }
}
