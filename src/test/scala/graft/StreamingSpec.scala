package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming coverage (SURVEY.md §2.10): windowed aggregation via
  * the query surface, plus genuine custom state with mapGroupsWithState —
  * the per-user running state the reference keeps in its checkpoint store
  * (runner.py:251-306) re-expressed as stream state.
  */
class StreamingSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("streaming hourly agg equals the batch twin") {
    // normalize the hour to a string: the streaming window and the batch
    // date_trunc agree on values but surface different timestamp classes
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("cast(hour as string) AS hour", "event_type", "n", "sum_value")
        .collect().toSeq
    val streamed = norm(queries.StreamingQ.s01StreamHourly(spark, dir))
    val batch = norm(queries.Relational.q17EventsHourly(spark, dir))
    assert(streamed == batch)
  }

  test("a streaming query leaves the caller's catalog and shuffle partitions unchanged") {
    // a caller with a partition count of its own, which the replay runs
    // with and must leave as it found it
    val caller = spark.newSession()
    val key = "spark.sql.shuffle.partitions"
    caller.conf.set(key, "3")
    def tables() = caller.catalog.listTables().collect().map(_.name).toSet
    val tablesBefore = tables()
    assert(queries.StreamingQ.s03WatermarkAppend(caller, dir).count() > 0)
    assert(tables() -- tablesBefore == Set.empty[String])
    assert(caller.conf.get(key) == "3")
  }

  test("replays on one session add at most one streaming listener bus each") {
    // Spark's stream execution registers one per query; every bus above
    // that is dispatched each Spark event for the rest of the JVM's life
    def buses() = org.apache.spark.ListenerCount.streamingBuses(spark.sparkContext)
    queries.StreamingQ.s01StreamHourly(spark, dir).collect()
    val before = buses()
    (1 to 3).foreach(_ => queries.StreamingQ.s01StreamHourly(spark, dir).collect())
    val added = buses() - before
    assert(added <= 4, s"3 replays added $added streaming listener buses")
  }

  test("mapGroupsWithState accumulates per-user state across micro-batches") {
    import spark.implicits._
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val updateFn: (Long, Iterator[Ev], GroupState[UserAgg]) => UserAgg =
      (uid, evs, state) => {
        val prior = state.getOption.getOrElse(UserAgg(uid, 0L, 0.0))
        var n = prior.n
        var tot = prior.total
        evs.foreach { e => n += 1; tot += e.value }
        val next = UserAgg(uid, n, tot)
        state.update(next)
        next
      }
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .select(col("user_id"), col("event_type"), col("value"))
      .as[Ev]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(updateFn)
    val name = "graft_state_test"
    val q = stream.writeStream
      .outputMode(OutputMode.Update())
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table(name)
      .groupBy("user_id")
      .agg(max("n").as("n"))
      .orderBy("user_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = spark.read.parquet(s"$dir/events.parquet")
      .groupBy("user_id").count().orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == expected.toSeq)
  }

  test("s07 session windows match an independent sessionization (>= gap, ms-floored watermark)") {
    val evs = spark.read.parquet(s"$dir/events.parquet")
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val gapUs = 1800000000L
    val cutoff = (evs.map(_._2).max / 1000L) * 1000L - 7200000000L
    val expected = evs.groupBy(_._1).toSeq.flatMap { case (uid, rows) =>
      val sorted = rows.sortBy(r => (r._2, r._3))
      val sessions = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var start = sorted.head._2; var last = start; var n = 0L
      sorted.foreach { case (_, us, _) =>
        if (n > 0 && us - last >= gapUs) {
          sessions += ((start, last + gapUs, n)); start = us; n = 0L
        }
        last = us; n += 1
      }
      sessions += ((start, last + gapUs, n))
      sessions.filter(_._2 <= cutoff).map(s => (uid, s._1, s._2, s._3))
    }.sortBy(t => (t._1, t._2))
    val got = queries.StreamingQ.s07SessionWindow(spark, dir)
      .select(col("user_id"),
        unix_micros(col("session_start")).as("s"),
        unix_micros(col("session_end")).as("e"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == expected)
    assert(expected.exists(_._4 >= 2), "no multi-event session — the gap merge is untested")
  }

  test("s07 sessions merge across micro-batches (split replay between in-session events)") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    // find a consecutive same-user pair under 30 min apart and split exactly
    // between them: the session must be assembled from state across triggers
    val pairs = ev.select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).values.flatMap { rows =>
        rows.map(_._2).sorted.sliding(2).collect {
          case Array(a, b) if b - a < 1800000000L && b > a => (a, b)
        }
      }.toSeq
    assert(pairs.nonEmpty, "no in-session event pair to straddle")
    val (a, b) = pairs.head
    val splitUs = a + (b - a) / 2
    scratch { tmp =>
      val usCol = unix_micros(col("ts").cast("timestamp"))
      ev.filter(usCol <= splitUs).coalesce(1).write.parquet(s"$tmp/f1")
      ev.filter(usCol > splitUs).coalesce(1).write.parquet(s"$tmp/f2")
      // the file source replays oldest-mtime first; pin the order so f2 can
      // never be processed before f1 (which would make f1's data late)
      def touch(d: String, t: Long): Unit =
        new java.io.File(d).listFiles().foreach(_.setLastModified(t))
      touch(s"$tmp/f1", System.currentTimeMillis() - 60000)
      touch(s"$tmp/f2", System.currentTimeMillis())
      // one file per trigger, in mtime order: f1's batch puts the open session
      // into state, f2's batch must MERGE into it, not start a fresh session
      val schema = ev.schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
        .parquet(s"$tmp/f*")
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "2 hours")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
      val q = stream.writeStream.outputMode("append").format("memory")
        .queryName("graft_s07_split").trigger(Trigger.AvailableNow()).start()
      // the memory sink registers a temp view in the session every suite
      // shares: drop it, and stop the query if an assertion cut it short
      val split = try {
        q.awaitTermination()
        spark.table("graft_s07_split")
          .select(col("user_id"), unix_micros(col("session_window.start")).as("s"),
            unix_micros(col("session_window.end")).as("e"), col("n_events"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .sortBy(t => (t._1, t._2))
      } finally {
        if (q.isActive) q.stop()
        spark.catalog.dropTempView("graft_s07_split")
      }
      val whole = queries.StreamingQ.s07SessionWindow(spark, dir)
        .select(col("user_id"), unix_micros(col("session_start")).as("s"),
          unix_micros(col("session_end")).as("e"), col("n_events"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2))
      assert(split.toSeq == whole.toSeq)
      assert(!spark.catalog.tableExists("graft_s07_split"))
    }
  }

  test("stream-stream interval join equals the batch interval join") {
    val streamed = queries.StreamingQ.s05StreamJoin(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("cts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
        col("ts").as("pts"), col("value"))
    val batch = c.join(p, col("user_id") === col("pu") &&
        col("pts") >= col("cts") &&
        col("pts") <= col("cts") + expr("interval 1 hour"))
      .select(col("user_id"), col("click_id"), col("purchase_id"), col("value"))
      .orderBy("click_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
  }

  test("stream-static enrichment equals the batch above-average count") {
    val streamed = queries.StreamingQ.s06StreamEnrich(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val avgStats = ev.groupBy(col("event_type"))
      .agg((queries.T.dbl(sum(queries.T.dec(col("value")))) / count(lit(1))).as("type_avg"))
    val batch = ev.join(avgStats, "event_type")
      .filter(col("value") > col("type_avg"))
      .groupBy(col("event_type"), col("type_avg"))
      .agg(count(lit(1)).as("n_above"))
      .select(col("event_type"), col("n_above"), col("type_avg"))
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
  }
}

/** Top-level (encoder-friendly) row types for the stateful streaming spec. */
final case class Ev(user_id: Long, event_type: String, value: Double)
final case class UserAgg(user_id: Long, n: Long, total: Double)
