package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession, functions => F}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery, Trigger}

/** Structured-Streaming surface over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference has no streaming (SURVEY.md §2B) — this is the green-field
  * extension: the same windowed-aggregation dataflow is exposed twice, once
  * over a batch DataFrame (oracle-checkable) and once as a readStream
  * pipeline with watermarking (late-data bound) — identical logic, so batch
  * results validate the streaming plan.
  */
object EventStreams {

  /** Tumbling-window counts/sums per event_type. Works on batch or
    * streaming input unchanged. */
  def windowedAgg(events: DataFrame, window: String = "1 hour"): DataFrame =
    events
      .groupBy(F.window(F.col("ts"), window).as("w"), F.col("event_type"))
      .agg(F.count(F.lit(1)).as("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .select(F.col("w.start").as("wstart"), F.col("event_type"),
        F.col("n"), F.col("total"))

  /** Sliding-window per-user activity. */
  def slidingUserActivity(events: DataFrame, window: String = "1 hour",
      slide: String = "30 minutes"): DataFrame =
    events
      .groupBy(F.window(F.col("ts"), window, slide).as("w"), F.col("user_id"))
      .agg(F.count(F.lit(1)).as("n"))
      .select(F.col("w.start").as("wstart"), F.col("user_id"), F.col("n"))

  /** Session windows per user (gap-based). */
  def sessionized(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(F.session_window(F.col("ts"), gap).as("w"), F.col("user_id"))
      .agg(F.count(F.lit(1)).as("n"),
        // decimal-exact sum (stable across engines), surfaced as double
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .select(F.col("w.start").as("session_start"),
        F.col("w.end").as("session_end"), F.col("user_id"), F.col("n"),
        F.col("total"))

  /** Typed view for custom-state operators. */
  final case class UserEvent(user_id: Long, value: Double)
  final case class UserTotals(user_id: Long, n: Long, total: Double)

  /** Per-user running totals with EXPLICIT state (mapGroupsWithState) —
    * the custom-state path for logic window aggregation can't express.
    * State is one (n, total) pair per user: O(users) state, no timeline
    * buffering, so it scales with key cardinality not event volume. On a
    * batch Dataset the same code degenerates to a per-group fold. */
  def runningUserTotals(events: Dataset[UserEvent]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[(Long, Double), UserTotals](
        GroupStateTimeout.NoTimeout()) {
        case (user, evs, state: GroupState[(Long, Double)]) =>
          val (n0, t0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var t = t0
          evs.foreach { e => n += 1; t += e.value }
          state.update((n, t))
          UserTotals(user, n, t)
      }
  }

  /** Stream-static enrichment: attach dimension attributes to each event
    * by key. Identical code runs on batch or streaming input — on a
    * stream, the static side is re-planned per micro-batch at its current
    * snapshot, and Catalyst broadcasts it when small (the standard
    * pattern for slowly-changing dimensions). Left join keeps events with
    * no dimension row. */
  def enrich(events: DataFrame, dim: DataFrame, eventKey: String,
      dimKey: String): DataFrame =
    events.join(dim, events(eventKey) === dim(dimKey), "left_outer")
      .drop(dim(dimKey))

  /** Watermarked stream-stream interval join: each purchase joins the
    * same user's clicks from the preceding `horizon` (click-through
    * attribution). Both sides carry watermarks and the join condition
    * bounds event time on BOTH sides, so each side's buffered state is
    * evicted once the watermark passes `horizon` — bounded state, the
    * requirement for an unbounded 100 TB/day stream. On batch inputs the
    * watermark is a no-op and this is a plain interval join (the oracle
    * twin, q_events_attributed). */
  def attributed(clicks: DataFrame, purchases: DataFrame,
      horizon: String = "1 hour", watermark: String = "2 hours"): DataFrame = {
    val c = clicks.select(F.col("event_id").as("click_id"),
        F.col("user_id").as("cu"), F.col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val p = purchases.select(F.col("event_id").as("purchase_id"),
        F.col("user_id").as("pu"), F.col("ts").as("purchase_ts"),
        F.col("value"))
      .withWatermark("purchase_ts", watermark)
    c.join(p, F.col("cu") === F.col("pu") &&
        F.col("purchase_ts") >= F.col("click_ts") &&
        F.col("purchase_ts") <= F.col("click_ts") + F.expr(s"INTERVAL $horizon"))
      .select(F.col("click_id"), F.col("purchase_id"),
        F.col("cu").as("user_id"), F.col("value"))
  }

  /** Streaming exact dedup: drop events whose key was already seen within
    * the watermark horizon — the streaming twin of a training pipeline's
    * exact dedup stage. `dropDuplicatesWithinWatermark` bounds the state
    * to keys newer than the horizon (plain dropDuplicates on a stream
    * would grow state forever); duplicates arriving later than the
    * horizon are by contract possible, which is the standard
    * at-least-once-dedup tradeoff. Batch twin: Dedup.exactDedup. */
  def dedupWithinWatermark(events: DataFrame, keyCols: Seq[String],
      watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Streaming dedup pipeline: parquet dir → watermarked key dedup →
    * in-memory sink (append — each surviving event exactly once). */
  def startDedupStream(spark: SparkSession, dir: String,
      queryName: String, keyCols: Seq[String],
      watermark: String = "2 hours"): StreamingQuery = {
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    dedupWithinWatermark(stream, keyCols, watermark).writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming session windows: parquet dir → watermark → session_window
    * aggregation. State is the set of open merged windows per user,
    * bounded by the gap and evicted as the watermark passes. */
  def startSessionStream(spark: SparkSession, dir: String,
      queryName: String, gap: String = "30 minutes",
      watermark: String = "2 hours"): StreamingQuery = {
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val agg = sessionized(stream.withWatermark("ts", watermark), gap)
    // session-window streaming aggregations support append (finalized
    // sessions only) or complete; complete mirrors the batch twin
    agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** The streaming variant: parquet dir → watermarked windowed agg →
    * in-memory sink (synchronous for tests via processAllAvailable).
    * In production the sink would be a parquet/Kafka writeStream. */
  def startWindowedStream(spark: SparkSession, dir: String,
      queryName: String, window: String = "1 hour",
      watermark: String = "2 hours"): StreamingQuery = {
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val agg = windowedAgg(stream.withWatermark("ts", watermark), window)
    agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
