package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{SparkEntry, SparkSpec}

/** Streaming semantics:
  *  - the finite-replay queries equal their batch equivalents;
  *  - append mode + watermark over a MemoryStream with controlled batch
  *    boundaries: windows flush only once the watermark passes them,
  *    and late data behind the watermark is dropped.
  */
class StreamingSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("streaming windowed counts equal the batch computation") {
    val streamed = StreamingQueries.windowedCounts(spark, sfDir).collect()
    val batch = graft.queries.Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("window_start"),
              col("event_type"), col("n"))
      .orderBy("window_start", "event_type")
      .collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("streaming session windows equal the batch session_window computation") {
    val streamed = StreamingQueries.sessions(spark, sfDir).collect()
    val batch = graft.queries.Tables.events(spark, sfDir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_ts"))
      .select(col("user_id"),
              unix_micros(col("session_window.start")).as("session_start_us"),
              unix_micros(col("last_ts")).as("last_event_us"),
              col("n_events"))
      .orderBy("user_id", "session_start_us")
      .collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("stateful flatMapGroupsWithState agg equals the batch aggregation") {
    val streamed = StreamingQueries.statefulUserAgg(spark, sfDir).collect()
    val batch = graft.queries.Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
           max(unix_micros(col("ts"))).as("last_event_us"))
      .orderBy("user_id")
      .collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("file-sink ETL equals the batch filter+aggregate") {
    val streamed = StreamingQueries.fileSinkEtl(spark, sfDir).collect()
    val batch = graft.queries.Tables.events(spark, sfDir)
      .where(col("event_type").isin("click", "view", "error"))
      .groupBy(col("event_type"),
               datediff(to_date(col("ts")), to_date(lit("1970-01-01"))).as("day0"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type", "day0")
      .collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("file sink restart resumes from the checkpoint exactly once") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_ckpt_test")
    val sink = base.resolve("data").toString
    val ck = base.resolve("ck").toString
    val input = MemoryStream[Long]
    def start() = input.toDF().toDF("v")
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ck)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()

    // run 1: two batches land
    val q1 = start()
    input.addData(1L, 2L); q1.processAllAvailable()
    input.addData(3L); q1.processAllAvailable()
    q1.stop()
    assert(spark.read.parquet(sink).as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 3L))

    // data arriving while the query is DOWN
    input.addData(4L, 5L)

    // run 2: a NEW query on the same checkpoint+sink picks up where
    // run 1 committed — the offline data lands exactly once, nothing
    // from run 1 is re-emitted
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    assert(spark.read.parquet(sink).as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("append mode: watermark gates window emission and drops late data") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val agg = input.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("w"), col("k"), col("n"))
    val q = agg.writeStream.format("memory").queryName("wm_test")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

    // batch 1: two events in hour 10, one in hour 11
    input.addData((ts(10, 5), "a"), (ts(10, 40), "a"), (ts(11, 5), "b"))
    q.processAllAvailable()
    // watermark after batch 1 = 11:05 - 10min = 10:55 < 11:00 → nothing emitted
    assert(spark.table("wm_test").count() === 0)

    // batch 2: event at 12:30 pushes watermark to 12:20 → hour-10 and
    // hour-11 windows flush
    input.addData((ts(12, 30), "c"))
    q.processAllAvailable()
    val emitted = spark.table("wm_test").as[(Long, String, Long)].collect()
    assert(emitted.map(t => (t._2, t._3)).toSet === Set(("a", 2L), ("b", 1L)))

    // batch 3: a late event in hour 10 (behind the 12:20 watermark) is dropped
    input.addData((ts(10, 50), "a"))
    q.processAllAvailable()
    assert(spark.table("wm_test").count() === 2) // unchanged

    q.stop()
  }

  test("watermarked dedup of a double feed equals the single-copy batch counts") {
    val streamed = StreamingQueries.dedupWatermark(spark, sfDir).collect()
    val batch = graft.queries.Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type")
      .collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("event-time timers fire exactly when the watermark passes the " +
       "idle deadline — not a batch earlier") {
    // Controlled MemoryStream replay of the SessionTimers processor:
    // pins the timer/watermark interaction at exact instants, which the
    // jittery events replay can't.
    val sub = spark.newSession()
    sub.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    sub.conf.set("spark.sql.shuffle.partitions", "2")
    import sub.implicits._
    implicit val ctx = sub.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val out = input.toDF().toDF("ts", "user_id")
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new SessionTimers(1800000000L),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
      .toDF("user_id", "n_events", "last_us")
    val q = out.writeStream.format("memory").queryName("timer_fire_test")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

    // batch 1: user 1's session (10:00, 10:10) → idle deadline 10:40
    input.addData((ts(10, 0), 1L), (ts(10, 10), 1L))
    q.processAllAvailable()
    assert(sub.table("timer_fire_test").count() === 0)

    // batch 2: user 2 at 10:45 advances the watermark to 10:35 — still
    // BELOW user 1's 10:40 deadline (processAllAvailable drains the
    // follow-up watermark batch, so this asserts the comparison itself,
    // not batch plumbing) → nothing may fire.
    input.addData((ts(10, 45), 2L))
    q.processAllAvailable()
    assert(sub.table("timer_fire_test").count() === 0,
      "timer fired before the watermark passed its deadline")

    // batch 3: user 3 at 11:30 → watermark 11:20, past BOTH user 1's
    // 10:40 and user 2's 11:15 deadlines → exactly those two sessions
    // close, with their event counts and last-seen times; user 3
    // (deadline 12:00) stays open.
    input.addData((ts(11, 30), 3L))
    q.processAllAvailable()
    val rows = sub.table("timer_fire_test")
      .select("user_id", "n_events", "last_us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSet === Set(
      (1L, 2L, ts(10, 10).getTime * 1000L),
      (2L, 1L, ts(10, 45).getTime * 1000L)),
      s"expected users 1 and 2 closed, got ${rows.mkString(",")}")

    q.stop()
  }

  test("session timers close exactly the gap sessions plus watermark-" +
       "expired finals") {
    import org.apache.spark.sql.expressions.Window
    val streamed = SparkEntry.queries("stream_session_timers")(spark, sfDir)
      .collect()
    val ev = graft.queries.Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
    val wmMs = ev.agg(max(col("us"))).head.getLong(0) / 1000 - 60000
    val w = Window.partitionBy("user_id").orderBy("us")
    val sess = ev
      .withColumn("boundary",
        when(lag(col("us"), 1).over(w).isNull ||
             col("us") - lag(col("us"), 1).over(w) > 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("boundary")).over(w))
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n_events"), max(col("us")).as("last_us"))
    val wfin = Window.partitionBy("user_id").orderBy(col("sid").desc)
    val closed = sess.withColumn("rfinal", row_number().over(wfin))
      .where(col("rfinal") > 1 ||
             expr("last_us div 1000") + 1800000L + 1L < wmMs)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_closed"),
           sum(col("n_events")).as("events_closed"),
           max(col("last_us")).as("last_closed_us"))
      .orderBy("user_id")
      .collect()
    assert(streamed.toSeq === closed.toSeq)
  }

  test("a finite stream that fails mid-run leaves no checkpoint dir behind") {
    import scala.jdk.CollectionConverters._
    def ckDirs(): Set[String] = {
      val ls = java.nio.file.Files.list(graft.queries.Scratch.root)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("ck_")).toSet
      finally ls.close()
    }
    val src = java.nio.file.Files.createTempDirectory("graft_failing_stream")
    spark.range(10).write.mode("overwrite").parquet(src.toString)
    val schema = spark.read.parquet(src.toString).schema
    val before = ckDirs()
    intercept[Exception] {
      StreamingQueries.runToCompletion(spark,
        sub => sub.readStream.schema(schema).parquet(src.toString)
          .select(assert_true(col("id") < 0).as("never")),
        "append")
    }
    assert(ckDirs().diff(before).isEmpty)
    graft.queries.Scratch.deleteRec(src)
  }

  test("transformWithState running counts reach the batch per-user totals") {
    val streamed = StreamingQueries.runningCount(spark, sfDir).collect()
    val batch = graft.queries.Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        max(floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long"))
          .as("max_value_us"))
      .orderBy("user_id")
      .collect()
    assert(streamed.toSeq === batch.toSeq)
  }
}
