package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics over the (event_id, ts, user_id, event_type,
  * value, props) events table — the batch counterparts of the
  * streaming extraction's session semantics
  * (graft.streaming.StreamingKg.sessionizeStream evicts on exactly the
  * same event-time gap rule).
  */
object Events {

  /** Gap-based SESSIONIZATION: per user, events ordered by event time
    * belong to one session until the gap to the previous event EXCEEDS
    * `gapMinutes` (strictly — a gap of exactly the threshold stays in
    * session, the same boundary the streaming extractor's event-time
    * timeout uses). Output: one row per event — (event_id, user_id,
    * session_idx [1-based per user], is_start). Arithmetic is integer
    * microseconds end to end (epoch micros in both engines), so the
    * boundary decision is exact — no timestamp-to-double drift.
    *
    * Scale shape: ONE shuffle — the per-user window (lag + running sum
    * over (ts, event_id) order). Per-user event counts bound the
    * partition-local sort; user skew is the operator's inherent hot key
    * and arrives as f rows for an f-event user, never f². This is the
    * textbook sessionization plan; nothing cheaper exists because the
    * session rule is a running dependency within the user's timeline.
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    require(gapMinutes > 0)
    // NULLS LAST pins the window order to DuckDB's ASC default (Spark's
    // ASC is NULLS FIRST) — a null-ts row must see the same lag
    // neighbors in both engines or the oracle diverges the moment the
    // data grows nulls
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc_nulls_last, col("event_id").asc_nulls_last)
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    events
      .select(col("event_id"), col("user_id"), col("ts"))
      // parquet event times arrive as TIMESTAMP_NTZ; the cast re-types
      // to TIMESTAMP under the pinned-UTC session, so the micros match
      // DuckDB's naive epoch_us exactly
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
      .withColumn("is_start",
        col("prev_us").isNull || (col("ts_us") - col("prev_us")) > gapUs)
      .withColumn("session_idx",
        sum(col("is_start").cast("long")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("event_id"), col("user_id"), col("session_idx"),
        col("is_start"))
  }

  /** FUNNEL analysis — per user, the greedy matched DEPTH through an
    * ordered step sequence: walking the user's events in (event time,
    * event_id) order, an event whose type equals the NEXT unmatched
    * step advances the depth; everything else is ignored. Greedy prefix
    * matching is optimal here (matching a step later can never enable a
    * deeper prefix), so depth = the longest step prefix the user
    * completed in order. Output: (user_id, depth ∈ 0..steps.length),
    * one row per user — users with no step events report 0.
    *
    * Scale shape: non-step events are FILTERED OUT before anything
    * groups (they can never advance the depth) — on a realistic corpus
    * that drops most of the volume before the one user-keyed shuffle.
    * Each user's remaining step events collect into one sorted array
    * walked by a codegen'd `aggregate` HOF; the array is bounded by the
    * user's own step-event count (the same per-user bound sessionize's
    * window carries). The full user list rejoins at the end so silent
    * users keep a row.
    */
  def funnel(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty && steps.distinct == steps,
      s"steps must be non-empty and distinct, got $steps")
    val sid = steps.zipWithIndex.foldLeft(lit(0)) { case (acc, (s, i)) =>
      when(col("event_type") === s, lit(i + 1)).otherwise(acc)
    }
    val depths = events
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"), sid.as("sid"))
      // a NULL event time cannot be ordered against the funnel walk —
      // drop it here exactly as the oracle does (Spark's struct sort is
      // null-FIRST, DuckDB's ORDER BY is null-LAST: carrying such rows
      // would diverge the greedy fold the moment the data grows nulls);
      // users with only null-ts step events still report 0 via the
      // unfiltered user rejoin below
      .filter(col("sid") > 0 && col("ts_us").isNotNull)
      .select(col("user_id"),
        struct(col("ts_us"), col("event_id"), col("sid")).as("e"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(col("e"))).as("es"))
      .select(col("user_id"),
        aggregate(transform(col("es"), e => e.getField("sid")), lit(0),
          (d, s) => when(s === d + 1, d + 1).otherwise(d))
          .cast("bigint").as("depth"))
    events.select(col("user_id")).distinct()
      .join(depths, Seq("user_id"), "left")
      .select(col("user_id"), coalesce(col("depth"), lit(0L)).as("depth"))
  }

  /** Cohort RETENTION matrix — users grouped by the hour of their FIRST
    * event (the cohort), counted distinctly at each whole-hour offset
    * they were active again: (cohort_hour, offset_hours, n_users).
    * Offset 0 is the cohort's own size; a user appears once per
    * (cohort, offset) regardless of how many events landed in that
    * hour. The standard product-analytics retention table, computed
    * exactly.
    *
    * Scale shape: first-seen is a user-keyed min aggregate (map-side
    * partials); the events then join the user-count-sized cohort table
    * on user_id and reduce by (cohort, offset) — distinct-user
    * expansion applies as in [[windowAgg]] (the price of exactness; an
    * HLL variant would pre-combine).
    */
  def retention(events: DataFrame): DataFrame = {
    val first = events
      .select(col("user_id"),
        date_trunc("hour", col("ts")).as("h"))
      .groupBy("user_id").agg(min("h").as("cohort_hour"))
    events
      .select(col("user_id"), date_trunc("hour", col("ts")).as("h"))
      .join(first, Seq("user_id"))
      .select(col("user_id"), col("cohort_hour"),
        // `div` = integral division on longs (`/` would promote to
        // double); both sides are hour-truncated so the diff is an
        // exact multiple of 3.6e9 micros
        expr("(unix_micros(cast(h as timestamp)) - " +
          "unix_micros(cast(cohort_hour as timestamp))) div 3600000000")
          .as("offset_hours"))
      .groupBy("cohort_hour", "offset_hours")
      .agg(countDistinct("user_id").as("n_users"))
  }

  /** Tumbling-WINDOW aggregation: event counts, value sum and distinct
    * users per (event_type, hour bucket) — the batch form of the
    * streaming rate monitor. Output: (event_type, window_start, n_events,
    * sum_value [rounded 6dp], n_users).
    *
    * Scale shape: counts and sums pre-combine map-side, but EXACT
    * distinct-user counting cannot — Catalyst expands it to a first
    * aggregate keyed (type, window, user), so the shuffle carries the
    * distinct key combos, not windows × types (measured 2.07 MB for a
    * 3.6k-row result at sf0.1). That is the inherent price of exactness
    * (and what the oracle checks); at lake scale pass
    * `approxUsers = true` to count users with HLL sketches instead —
    * sketch partials pre-combine map-side and reducer traffic drops to
    * windows × types (the Linking.nodes exact-vs-HLL precedent).
    */
  def windowAgg(events: DataFrame, approxUsers: Boolean = false): DataFrame =
    events
      .select(col("event_type"),
        date_trunc("hour", col("ts")).as("window_start"),
        col("value"), col("user_id"))
      .groupBy("event_type", "window_start")
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 6).as("sum_value"),
        (if (approxUsers) approx_count_distinct("user_id")
         else countDistinct("user_id")).as("n_users"))
}
