package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import T._

/** Structured Streaming surface (SURVEY.md §2.10): the events table replayed
  * as a file stream through a windowed aggregation. Locally the stream is
  * driven to completion synchronously (`replay`: memory sink +
  * awaitTermination); in production the same plan runs continuously with
  * `Trigger.AvailableNow` + a real sink and a watermark bounding state.
  */
object StreamingQ {

  /** Streaming checkpoint root on tmpfs when available. Without an explicit
    * location every stateful query checkpoints its offset/commit logs and
    * per-partition state-store deltas to a temp dir on the shared system
    * disk — with 32 shuffle partitions a single replayed micro-batch
    * performs hundreds of small synchronous writes+renames there, and that
    * disk I/O (not the join/aggregation) dominated the replay harness's
    * wall-clock in round 5. See [[graft.TempRoot]] for why tmpfs stands in
    * for per-executor local storage; on a real cluster the checkpoint lives
    * on each executor's local disk + a durable store, both of which scale
    * with the cluster.
    */
  private lazy val ckptBase: java.nio.file.Path = graft.TempRoot("graft-stream-ckpt")

  /** Run `f` with a fresh checkpoint dir; the dir is deleted afterwards (the
    * memory sink holds the results in the driver, so nothing outlives it).
    */
  private def withCkpt[A](f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(ckptBase, "q")
    try f(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  /** State-partition sizing for the replayed stream (guide §2.2 — fewer,
    * larger partitions — applied to state stores). Every stateful operator
    * instantiates one state store PER shuffle partition PER batch, and each
    * store pays fixed open/commit/delta-write costs; at the replay's state
    * volume (~10⁵ rows) those fixed costs dominate the row work, so sizing
    * partitions to the session core count (32) made every stateful query
    * 1.5-2x slower than 8 partitions (measured A/B on the s05 join: 12.7s @
    * 32, 10.1s @ 16, 7.0s @ 8, 7.8s @ 4 — batch-1's no-data eviction pass
    * alone dropped 3.5s -> 0.9s). Partition count does not affect any
    * result: state operators are key-partitioned and the watermark is
    * global. On a real cluster size this to keep per-store state in the
    * 10⁴-10⁶-row band.
    */
  private val StateParts = "8"

  /** Replay the events table as a file stream (one file per trigger) through
    * the plan `build` makes from it, run to completion into a memory sink,
    * and return the sink's rows. `build` gets the replay session and an
    * `events()` source factory (call it once per independent source).
    *
    * The stream runs on a session of its own: the caller's modifiable SQL
    * settings (session time zone included) are copied in and the shuffle
    * partitions set to [[StateParts]], so the caller's session conf is never
    * touched (no set/restore race under concurrent use) and the sink's temp
    * view lands in the replay session's catalog, not the caller's.
    */
  private def replay(spark: SparkSession, dir: String, outputMode: String)(
      build: (SparkSession, () => DataFrame) => DataFrame): DataFrame = {
    val ss = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      if (spark.conf.isModifiable(k)) ss.conf.set(k, v)
    }
    ss.conf.set("spark.sql.shuffle.partitions", StateParts)
    val schema = load(ss, dir, "events").schema
    val events = () => ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    val name = "graft_stream"
    withCkpt { ckpt =>
      build(ss, events).writeStream
        .outputMode(outputMode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    ss.table(name)
  }

  /** Hourly tumbling-window counts computed by a streaming query; returns the
    * final (complete-mode) result as a batch DataFrame. Batch twin: q17.
    *
    * DEMO SHAPE, deliberately: complete mode retains every window in state
    * and the memory sink collects to the driver — correct on the finite
    * replay, unbounded on an endless stream. The production variant is s03
    * (watermark + append: closed-window state dropped, bounded sink); s01
    * exists to pin the window-aggregation semantics against the q17 batch
    * oracle end-to-end.
    */
  def s01StreamHourly(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir, "complete") { (_, events) =>
      events()
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dbl(sum(dec(col("value")))).as("sum_value"))
    }.select(col("window.start").as("hour"), col("event_type"), col("n"), col("sum_value"))
      .orderBy("hour", "event_type")

  /** Watermarked append-mode stream: hourly windows emitted only once the
    * 2-hour event-time watermark passes the window end — the bounded-state
    * production shape (state for closed windows is dropped). On the finite
    * replay the tail windows inside the watermark horizon are withheld,
    * exactly as they would be mid-stream; the oracle applies the same
    * cutoff: window_end <= max(ts) - 2h.
    */
  def s03WatermarkAppend(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir, "append") { (_, events) =>
      events()
        // event-time watermarks require TIMESTAMP (table stores NTZ; session TZ is UTC)
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
    }.select(col("window.start").as("hour"), col("event_type"), col("n"))
      .orderBy("hour", "event_type")

  /** Streaming dedup: the replayed stream is artificially DOUBLED (each
    * event emitted twice) and `dropDuplicatesWithinWatermark` over event_id
    * removes the copies — the streaming analog of the training-pipeline
    * exact-dedup stage. WithinWatermark is the state-BOUNDED variant: plain
    * `dropDuplicates("event_id")` only evicts state when the event-time
    * column is part of the dedup key, so on an endless stream its state
    * grows without bound; the WithinWatermark form expires each key once
    * the watermark passes its event time, which is exactly the guarantee
    * needed here (duplicates of an event arrive at the same event time).
    * Hourly counts after dedup equal the batch aggregation over the
    * original events, with the same watermark cutoff as s03 (windows
    * inside the horizon are withheld on a finite replay, exactly as they
    * would be mid-stream).
    */
  def s04StreamDedup(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir, "append") { (_, events) =>
      events()
        .withColumn("ts", col("ts").cast("timestamp"))
        .withColumn("copy", explode(array(lit(1), lit(2)))) // plant duplicates
        .drop("copy")
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
    }.select(col("window.start").as("hour"), col("event_type"), col("n"))
      .orderBy("hour", "event_type")

  /** Stateful stream: per-user running event count + last event type,
    * computed by the ACTUAL streaming execution path — groupByKey +
    * mapGroupsWithState over the replayed stream (update mode, memory sink,
    * AvailableNow). State per user is (count, latest (ts, event_id), its
    * event_type); each trigger folds its batch into the state and emits the
    * updated row. The final read takes each user's highest-count update
    * (counts are strictly monotone per key), so the surface is correct for
    * any trigger slicing; multi-trigger incremental state is additionally
    * pinned by StreamingSpec. Batch twin of the state transition: the q16
    * session window's ordering rule.
    */
  def s02UserState(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    replay(spark, dir, "update") { (_, events) =>
      events()
        .select(col("user_id").cast("long"),
          unix_micros(col("ts").cast("timestamp")).as("tsu"),
          col("event_id").cast("long"), col("event_type"))
        .as[(Long, Long, Long, String)]
        .groupByKey(_._1)
        .mapGroupsWithState[(Long, Long, Long, String), (Long, Long, String)](
          GroupStateTimeout.NoTimeout) { case (uid, it, state) =>
          var (n, bestTs, bestId, bestType) =
            state.getOption.getOrElse((0L, Long.MinValue, Long.MinValue, ""))
          it.foreach { case (_, tsu, eid, et) =>
            n += 1
            if (tsu > bestTs || (tsu == bestTs && eid > bestId)) {
              bestTs = tsu; bestId = eid; bestType = et
            }
          }
          state.update((n, bestTs, bestId, bestType))
          (uid, n, bestType)
        }.toDF()
    }.toDF("user_id", "n_events", "last_event_type")
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"),
        max_by(col("last_event_type"), col("n_events")).as("last_event_type"))
      .orderBy("user_id")
  }

  /** Stream-stream interval join: each click matched to the same user's
    * purchases within the following hour — two independently-watermarked
    * streams joined on key + event-time range, the attribution-join shape.
    * Watermarks on BOTH sides plus the time-range condition are what let
    * Spark expire join state (a click's bucket is droppable once the
    * purchase watermark passes click_ts + 1h) — without them an endless
    * stream's join state grows without bound. Inner join: matches emit as
    * found, nothing is withheld at termination, so the finite-replay result
    * equals the batch interval join (the oracle).
    */
  def s05StreamJoin(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir, "append") { (_, events) =>
      def src(): DataFrame = events().withColumn("ts", col("ts").cast("timestamp"))
      val clicks = src().filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "2 hours")
      val purchases = src().filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"), col("value"))
        .withWatermark("purchase_ts", "2 hours")
      clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("interval 1 hour"))
    }.select(col("user_id"), col("click_id"), col("purchase_id"), col("value"))
      .orderBy("click_id", "purchase_id")

  /** Stream-static broadcast enrichment: the event stream joined to a
    * BATCH-computed per-type dimension (average value, exact decimal sum /
    * count so the double is order-independent) with an explicit
    * `broadcast()` — the stateless stream-side lookup shape (no watermark
    * needed: nothing is stateful). Emits above-average events; the final
    * read re-aggregates per type. At scale the static side is a small dim
    * refreshed per trigger epoch; the stream side never shuffles.
    */
  def s06StreamEnrich(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir, "append") { (ss, events) =>
      val typeStats = load(ss, dir, "events").groupBy(col("event_type"))
        .agg((dbl(sum(dec(col("value")))) / count(lit(1))).as("type_avg"))
      events()
        .join(broadcast(typeStats), "event_type")
        .filter(col("value") > col("type_avg"))
    }.groupBy(col("event_type"), col("type_avg"))
      .agg(count(lit(1)).as("n_above"))
      .select(col("event_type"), col("n_above"), col("type_avg"))
      .orderBy("event_type")

  /** Session-window streaming aggregation (s07): per-user sessions with a
    * 30-minute inactivity gap computed by Spark's native `session_window`
    * under watermark + append mode — the bounded-state sessionization a
    * clickstream pipeline runs continuously (a session's state is dropped
    * and the row emitted once the watermark passes its end). Two exactness
    * notes the oracle mirrors: (1) merge semantics are end-EXCLUSIVE — an
    * event exactly 30 minutes after its predecessor starts a NEW session
    * (`>= gap` in the oracle; q16's batch surface deliberately keeps the
    * strict-> convention, a distinct operator); (2) Spark tracks event-time
    * watermarks in MILLISECONDS, so with microsecond timestamps the cutoff
    * is floor-to-ms(max ts) - 2h, not max ts - 2h — the oracle floors the
    * same way. On the finite replay the tail sessions inside the horizon
    * are withheld exactly as they would be mid-stream.
    */
  def s07SessionWindow(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir, "append") { (_, events) =>
      events()
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "2 hours")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
    }.select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start")
}
