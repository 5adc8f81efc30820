package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.queries.Query

/** Structured Streaming over the `events` table: the same parquet data
  * replayed through `readStream` (file source), windowed/sessionized
  * with streaming state, run to completion with `Trigger.AvailableNow`
  * into a memory sink and returned as a DataFrame.
  *
  * Complete output mode makes the finite-replay result exactly equal to
  * the batch computation (append mode would hold back windows newer
  * than the watermark at end-of-stream — the append/watermark path is
  * exercised deterministically in StreamingSpec with a MemoryStream
  * whose batch boundaries we control). At scale the same pipelines run
  * unbounded: swap the trigger for a processing-time one, keep the
  * watermark, and the state store bounds memory; partitioning is by
  * the grouping key (window/user) exactly as in batch.
  */
object StreamingQueries {

  /** Streamed view of events.parquet, ts normalized to TIMESTAMP exactly
    * as in [[graft.queries.Tables.normalizeTs]] (handles both the
    * TIMESTAMP(NANOS)-as-long and the timestamp[us] generator vintages).
    */
  private def eventsStream(spark: SparkSession, sfDir: String,
                           copies: Int = 1, tag: String = "events",
                           maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/events.parquet"
    // The file source requires a DIRECTORY to monitor (in production
    // this is the landing dir new files arrive into); testdata ships a
    // single file, so stage symlink(s) to it in a per-sf temp dir.
    // `copies` > 1 stages the SAME file more than once — a controlled
    // duplicate feed for the streaming-dedup query.
    val src = java.nio.file.Paths.get(path).toAbsolutePath
    val dir = java.nio.file.Paths.get(
      graft.queries.Scratch.root.toString, "graft_stream",
      sfDir.replaceAll("[^A-Za-z0-9._-]", "_"), tag)
    java.nio.file.Files.createDirectories(dir)
    (1 to copies).foreach { i =>
      val link = dir.resolve(s"events_$i.parquet")
      // NOFOLLOW: a dangling symlink (target regenerated/moved) must be
      // detected and re-pointed, not mistaken for "absent".
      if (java.nio.file.Files.exists(link,
          java.nio.file.LinkOption.NOFOLLOW_LINKS) &&
          java.nio.file.Files.readSymbolicLink(link) != src)
        java.nio.file.Files.delete(link)
      if (!java.nio.file.Files.exists(link,
          java.nio.file.LinkOption.NOFOLLOW_LINKS))
        java.nio.file.Files.createSymbolicLink(link, src)
    }
    // Older stagings used a single "events.parquet" link name; remove
    // it so re-runs against an existing temp dir don't feed an extra
    // copy.
    val legacy = dir.resolve("events.parquet")
    if (java.nio.file.Files.exists(legacy,
        java.nio.file.LinkOption.NOFOLLOW_LINKS))
      java.nio.file.Files.delete(legacy)
    val schema = spark.read.parquet(path).schema
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    graft.queries.Tables.normalizeTs(spark, reader.parquet(dir.toString))
  }

  /** Query (and checkpoint dir) name unique across JVMs: the scratch
    * root is shared by every JVM on the host and may hold a crashed
    * run's leftovers, so a per-JVM counter let two runs pick the same
    * checkpoint dir.
    */
  private def uniqueName(prefix: String): String =
    prefix + "_" + java.util.UUID.randomUUID().toString.replace('-', '_')

  /** Run a finite streaming DataFrame to completion into a memory sink
    * and return the sink table.
    */
  /** Build the stream on an isolated cloned session (shared
    * SparkContext, own SQL conf) so the state-partition override can't
    * leak into — or race with — other queries on the caller's session.
    * Streaming state partition count is fixed at query start from
    * spark.sql.shuffle.partitions; the aggregate state here is tiny
    * (thousands of windows/users), so 8 partitions of state-store
    * machinery beat 32. An unbounded production deployment with large
    * state would keep the higher count instead.
    */
  private[graft] def runToCompletion(spark: SparkSession,
                                     build: SparkSession => DataFrame,
                                     mode: String): DataFrame = {
    val name = uniqueName("graft_stream")
    val sub = spark.newSession()
    sub.conf.set("spark.sql.shuffle.partitions", "8")
    // Explicit checkpoint under the scratch root (r15): without it Spark
    // creates the temporary checkpoint under java.io.tmpdir — the
    // contended block device the Scratch scaladoc measures. Deleted
    // after termination, failed or not, exactly as Spark deletes its
    // temp dir (the memory sink holds the result; the finite replay
    // never resumes).
    val ck = graft.queries.Scratch.root.resolve(s"ck_$name")
    try {
      build(sub).writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ck.toString)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    } finally graft.queries.Scratch.deleteRec(ck)
    sub.table(name) // memory-sink temp view is session-scoped
  }

  /** Hourly tumbling-window counts per event type — the canonical
    * streaming aggregation (state keyed by (window, event_type)).
    */
  def windowedCounts(spark: SparkSession, sfDir: String): DataFrame = {
    runToCompletion(spark, sub => eventsStream(sub, sfDir)
        .withWatermark("ts", "1 minute")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n")),
      "complete")
      .select(unix_timestamp(col("window.start")).as("window_start"),
              col("event_type"), col("n"))
      .orderBy("window_start", "event_type")
  }

  val windowedCountsOracle: String = """
SELECT (cast(floor(epoch(ts) / 3600) AS bigint) * 3600) AS window_start,
       event_type, count(*) AS n
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""

  /** Per-user sessionization with a 30-minute inactivity gap via the
    * native `session_window` streaming aggregation (merging session
    * state per user).
    */
  def sessions(spark: SparkSession, sfDir: String): DataFrame = {
    runToCompletion(spark, sub => eventsStream(sub, sfDir)
        .withWatermark("ts", "1 minute")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_ts")),
      "complete")
      .select(col("user_id"),
              unix_micros(col("session_window.start")).as("session_start_us"),
              unix_micros(col("last_ts")).as("last_event_us"),
              col("n_events"))
      .orderBy("user_id", "session_start_us")
  }

  /** Gaps-and-islands equivalent of session_window(gap=30min). */
  val sessionsOracle: String = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       epoch_us(min(ts)) AS session_start_us,
       epoch_us(max(ts)) AS last_event_us,
       count(*) AS n_events
FROM sess
GROUP BY user_id, sid
ORDER BY user_id, session_start_us
"""

  /** Arbitrary stateful processing via `flatMapGroupsWithState`: a
    * hand-rolled per-user accumulator (event count + latest event time
    * in µs) — the escape hatch for state machines the built-in
    * aggregates can't express. Update mode emits the running state each
    * micro-batch; both emitted values are monotone, so the post-sink
    * `max` collapse yields the final state regardless of how the
    * replay was batched (robust to maxFilesPerTrigger splits). At
    * scale the state store bounds memory per user and a timeout
    * (`GroupStateTimeout`) would expire idle users.
    */
  def statefulUserAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val updates = runToCompletion(spark, { sub =>
      import sub.implicits._
      eventsStream(sub, sfDir)
        .select(col("user_id"),
                unix_micros(col("ts")).as("ts_us"))
        .as[(Long, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(
          OutputMode.Update, GroupStateTimeout.NoTimeout)(
          (uid: Long, rows: Iterator[(Long, Long)],
           state: GroupState[(Long, Long)]) => {
            var (n, last) = state.getOption.getOrElse((0L, Long.MinValue))
            rows.foreach { case (_, us) =>
              n += 1
              if (us > last) last = us
            }
            state.update((n, last))
            Iterator.single((uid, n, last))
          })
        .toDF("user_id", "n_events", "last_event_us")
    }, "update")
    updates.groupBy("user_id")
      .agg(max(col("n_events")).as("n_events"),
           max(col("last_event_us")).as("last_event_us"))
      .orderBy("user_id")
  }

  val statefulUserAggOracle: String = """
SELECT user_id, count(*) AS n_events, epoch_us(max(ts)) AS last_event_us
FROM events GROUP BY user_id ORDER BY user_id
"""

  /** Streaming ETL to a real file sink: stateless filter+project,
    * append mode into parquet with a checkpoint — the production
    * landing-zone shape (exactly-once via sink manifest + checkpoint),
    * unlike the harness-only memory sink the other queries use. Sink
    * and checkpoint are wiped up front, so the graded result is one
    * deterministic full replay; an unbounded deployment keeps them and
    * restarts resume from the checkpoint instead. The verification
    * aggregate runs BATCH over the sink's parquet — proving the files
    * themselves, not the in-flight stream, carry the data.
    */
  def fileSinkEtl(spark: SparkSession, sfDir: String): DataFrame = {
    val base = java.nio.file.Paths.get(
      graft.queries.Scratch.root.toString, "graft_stream_sink",
      sfDir.replaceAll("[^A-Za-z0-9._-]", "_"))
    def wipe(p: java.nio.file.Path): Unit =
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    val sink = base.resolve("data"); val ck = base.resolve("checkpoint")
    wipe(sink); wipe(ck)
    val sub = spark.newSession()
    sub.conf.set("spark.sql.shuffle.partitions", "8")
    val q = eventsStream(sub, sfDir)
      .where(col("event_type").isin("click", "view", "error"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .writeStream.format("parquet")
      .option("path", sink.toString)
      .option("checkpointLocation", ck.toString)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.read.parquet(sink.toString)
      .groupBy(col("event_type"),
               datediff(to_date(col("ts")), to_date(lit("1970-01-01"))).as("day0"))
      .agg(count(lit(1)).as("n"),
           countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type", "day0")
  }

  val fileSinkEtlOracle: String = """
SELECT event_type, (ts::date - DATE '1970-01-01') AS day0,
       count(*) AS n, count(DISTINCT user_id) AS n_users
FROM events WHERE event_type IN ('click', 'view', 'error')
GROUP BY 1, 2 ORDER BY event_type, day0
"""

  /** Streaming deduplication: the events file is staged TWICE into the
    * monitored directory (every event arrives exactly two times) and
    * `dropDuplicates(event_id)` collapses the duplicates with keyed
    * state — the landing-zone guard against at-least-once upstream
    * delivery (replayed Kafka offsets, retried file drops). Append
    * mode: each event is emitted the first time it is seen. The graded
    * aggregate (counts per type over the deduped stream) equals the
    * batch counts over the ORIGINAL single copy — proving the operator
    * removed exactly the duplicates. Unbounded deployments bound the
    * seen-key state with `dropDuplicatesWithinWatermark` (same plan,
    * state evicted past the watermark) — here the keyspace is finite
    * and the exact variant keeps the gate deterministic.
    */
  def dedupCounts(spark: SparkSession, sfDir: String): DataFrame =
    runToCompletion(spark, sub =>
        eventsStream(sub, sfDir, copies = 2, tag = "events_dup")
          .withWatermark("ts", "1 minute")
          .dropDuplicates("event_id"),
      "append")
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy("event_type")

  val dedupCountsOracle: String = """
SELECT event_type, count(*) AS n FROM events GROUP BY 1 ORDER BY event_type
"""

  /** STREAM-STREAM inner join — the operator with state on BOTH
    * sides: clicks joined to purchases by the same user within the
    * following hour. Both sides carry watermarks and the join
    * condition bounds event time in both directions, which is what
    * lets Spark evict join state (otherwise both sides buffer
    * forever — the unbounded-state trap). The graded aggregate runs
    * BATCH over the append-mode sink, per the file-sink pattern;
    * with AvailableNow replay the inner join is complete, so it
    * equals the batch interval join exactly (which is the oracle —
    * and the same semantics q25's RangeBucketJoin rule optimizes in
    * batch).
    */
  def intervalJoin(spark: SparkSession, sfDir: String): DataFrame =
    runToCompletion(spark, { sub =>
        val clicks = eventsStream(sub, sfDir)
          .where(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"))
          .withWatermark("click_ts", "1 minute")
        val buys = eventsStream(sub, sfDir)
          .where(col("event_type") === "purchase")
          .select(col("user_id").as("buy_user"), col("ts").as("buy_ts"))
          .withWatermark("buy_ts", "1 minute")
        clicks.join(buys,
          col("user_id") === col("buy_user") &&
          col("buy_ts") >= col("click_ts") &&
          col("buy_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      }, "append")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"),
           unix_micros(max(col("buy_ts"))).as("last_buy_us"))
      .orderBy("user_id")

  val intervalJoinOracle: String = """
WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
SELECT c.user_id, count(*) AS n_pairs, epoch_us(max(p.ts)) AS last_buy_us
FROM c JOIN p ON p.user_id = c.user_id
             AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
GROUP BY c.user_id ORDER BY c.user_id
"""

  /** Stream-static join — dimension enrichment: the event stream joins
    * the STATIC customer table (no state, no watermark needed on the
    * static side; Spark re-plans the static side per micro-batch, so a
    * slowly-refreshed dim table picks up updates between batches).
    * user_id maps onto the customer keyspace by modulus — the graded
    * result counts events per customer market segment. The static side
    * is broadcast: the streaming side never shuffles.
    */
  def staticJoin(spark: SparkSession, sfDir: String): DataFrame =
    runToCompletion(spark, { sub =>
        val dim = broadcast(graft.queries.Tables.customer(sub, sfDir)
          .select(col("c_custkey"), col("c_mktsegment")))
        val nCust = dim.count()
        eventsStream(sub, sfDir)
          .select((col("user_id") % nCust + 1).as("c_custkey"),
                  col("event_type"), col("ts"))
          .withWatermark("ts", "1 minute")
          .join(dim, "c_custkey")
      }, "append")
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment", "event_type")

  val staticJoinOracle: String = """
WITH n AS (SELECT count(*) AS nc FROM customer)
SELECT c.c_mktsegment, e.event_type, count(*) AS n
FROM events e
JOIN customer c ON c.c_custkey = (e.user_id % (SELECT nc FROM n)) + 1
GROUP BY 1, 2 ORDER BY c_mktsegment, event_type
"""

  /** stream_late_data: watermark LATE-DROP semantics, graded. The
    * events table is replayed as three controlled micro-batches
    * (`maxFilesPerTrigger = 1`, file order pinned by mtime): batch 0 is
    * the NEWEST two hours of events, batch 1 an EMPTY spacer file,
    * batch 2 everything older — i.e. the old rows arrive after the
    * watermark has already advanced past them, the canonical late-data
    * scenario. Under append mode with a 1-minute watermark:
    *
    *  - batch 0 commits max event time; the watermark value
    *    `max(ts) − 1 min` becomes OPERATIVE one batch later (watermark
    *    propagation is delayed by one micro-batch — measured per
    *    batch, SCALE.md "Retired probes": without the spacer the late
    *    batch still runs with an inactive watermark and NOTHING is
    *    dropped), which is what the spacer batch absorbs;
    *  - batch 2: every row belongs to an hourly window whose end is
    *    below the watermark → DROPPED by the stateful operator
    *    (`numRowsDroppedByWatermark` > 0), never entering state;
    *  - emission: exactly the batch-0 windows with
    *    `window_end ≤ watermark` (newer windows stay unfinalized in
    *    state and are never emitted by the finite replay).
    *
    * The oracle replicates that emit/drop arithmetic from the raw
    * table, so a hash match PROVES the engine's watermark behavior —
    * not just its aggregation arithmetic. All cutoffs are derived from
    * `max(ts)` (µs arithmetic identical in both engines); the 1-minute
    * delay sits mid-window, so no window end ever equals the watermark
    * and the ≤/< boundary convention cannot flip the result.
    *
    * Scale: the same pipeline unbounded is the production shape
    * (watermark bounds state; late rows are dropped at the operator,
    * not buffered); the two-file staging is one narrow filtered write
    * each, coalesced to one file so batch composition is exact.
    */
  /** Stage a controlled-batch replay: each (predicate, name) becomes
    * one single-file micro-batch of `events.parquet` rows, file order
    * pinned by ascending mtime (consumed with `maxFilesPerTrigger=1`).
    * The staging dir is wiped first — stale files would change batch
    * layout. Returns the stage path.
    */
  /** Staged-replay memo (r15, guide §2.4 — the r14 "finding 1"
    * discipline extended to the stream inputs): each staged dir is a
    * pure function of (sfDir, tag) — the predicates are fixed per query
    * and the events/lineitem inputs are immutable for a session — yet
    * every invocation re-wiped and re-wrote it (2–4 filter+coalesce(1)
    * write jobs per call, ×9 staged queries ×3 bench reps). Memoized
    * per (session, sf, tag); first build per session is charged to the
    * additive `_prewarm_stream_stagings` bench row. The CONSUMING
    * stream stays fully per-invocation (fresh checkpoint, fresh state,
    * fresh maintained tables) — only the replay INPUT files are reused,
    * exactly like every other memoized derived table.
    * `stream_checkpoint_recovery` and `stream_state_reader` keep their
    * own staging: recovery MUTATES its input dir mid-run (file b lands
    * between the two runs), and the state reader's checkpoint IS the
    * graded artifact — neither input is invocation-independent.
    * Values are path strings (no pinned executor memory); bound 64 for
    * long-lived multi-(session, sf) services. */
  private val stageCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]()

  private def stagedDir(spark: SparkSession, sfDir: String, tag: String)(
      build: => String): String = {
    if (stageCache.size > 64) stageCache.clear()
    stageCache.computeIfAbsent((spark, s"$sfDir#$tag"), _ => build)
  }

  /** Build every memoized staged-replay dir once — the bench's additive
    * `_prewarm_stream_stagings` row (same accounting contract as the
    * other `_prewarm_*` rows: the build cost stays in the total, each
    * stream row then measures its OWN work). The nine stagings are
    * independent filter+write chains, so they overlap (guide §2.6).
    */
  def prewarmStagings(spark: SparkSession, sfDir: String): Unit =
    graft.queries.Par(
      () => { stageLateData(spark, sfDir); () },
      () => { stageOuterJoin(spark, sfDir); () },
      () => { stageUpdateMode(spark, sfDir); () },
      () => { stageCcInc(spark, sfDir); () },
      () => { stageCcDec(spark, sfDir); () },
      () => { stageFebUpsert(spark, sfDir); () },
      () => { stageSessionTimers(spark, sfDir); () },
      () => { stageChainedWindows(spark, sfDir); () },
      () => { stageProgressMetrics(spark, sfDir); () })

  private def stageLateData(spark: SparkSession, sfDir: String): String =
    stagedDir(spark, sfDir, "late_data") {
      val raw = graft.queries.Tables.events(spark, sfDir)
      val maxUs = raw.agg(max(unix_micros(col("ts")))).head().getLong(0)
      val splitUs = maxUs - 2L * 3600 * 1000000L
      stageBatchesBuild(spark, sfDir, "late_data", raw, Seq(
        (unix_micros(col("ts")) >= splitUs) -> "newest_first",
        lit(false) -> "spacer_empty",
        (unix_micros(col("ts")) < splitUs) -> "older_late"))
    }

  private def stageOuterJoin(spark: SparkSession, sfDir: String): String =
    stagedDir(spark, sfDir, "outer_join") {
      stageBatchesBuild(spark, sfDir, "outer_join",
        graft.queries.Tables.events(spark, sfDir), Seq(
          (lit(true): org.apache.spark.sql.Column) -> "all_events",
          lit(false) -> "spacer_empty"))
    }

  private def stageUpdateMode(spark: SparkSession, sfDir: String): String =
    stagedDir(spark, sfDir, "update_mode") {
      val raw = graft.queries.Tables.events(spark, sfDir)
      val maxUs = raw.agg(max(unix_micros(col("ts")))).head().getLong(0)
      val splitUs = maxUs - 2L * 3600 * 1000000L
      stageBatchesBuild(spark, sfDir, "update_mode", raw, Seq(
        (unix_micros(col("ts")) < splitUs) -> "older_first",
        (unix_micros(col("ts")) >= splitUs) -> "newest_second"))
    }

  private def stageCcInc(spark: SparkSession, sfDir: String): String =
    stagedDir(spark, sfDir, "cc_inc") {
      val li = graft.queries.Tables.lineitem(spark, sfDir)
        .where(col("l_quantity") >= 45)
        .select(col("l_orderkey"), col("l_partkey"))
      stageBatchesBuild(spark, sfDir, "cc_inc", li, Seq(
        (col("l_orderkey") % 10 =!= 7) -> "base_first",
        (col("l_orderkey") % 10 === 7) -> "delta_second"))
    }

  private def stageCcDec(spark: SparkSession, sfDir: String): String =
    stagedDir(spark, sfDir, "cc_dec") {
      val hq = graft.queries.Tables.lineitem(spark, sfDir)
        .where(col("l_quantity") >= 45)
        .select(col("l_orderkey"), col("l_partkey"))
      val raw = hq.withColumn("op", lit("add")).withColumn("tag", lit(1))
        .unionAll(hq.where(col("l_orderkey") % 10 === 3)
          .withColumn("op", lit("delete")).withColumn("tag", lit(2)))
      stageBatchesBuild(spark, sfDir, "cc_dec", raw, Seq(
        (col("tag") === 1) -> "adds_first",
        (col("tag") === 2) -> "deletes_second"))
    }

  private def stageFebUpsert(spark: SparkSession, sfDir: String): String =
    stagedDir(spark, sfDir, "feb_upsert") {
      val raw = graft.queries.Tables.events(spark, sfDir)
      val maxUs = raw.agg(max(unix_micros(col("ts")))).head().getLong(0)
      val splitUs = maxUs - 2L * 3600 * 1000000L
      stageBatchesBuild(spark, sfDir, "feb_upsert", raw, Seq(
        (unix_micros(col("ts")) < splitUs) -> "older_first",
        (unix_micros(col("ts")) >= splitUs) -> "newest_second"))
    }

  private def stageSessionTimers(spark: SparkSession, sfDir: String): String =
    stagedDir(spark, sfDir, "session_timers") {
      stageBatchesBuild(spark, sfDir, "session_timers",
        graft.queries.Tables.events(spark, sfDir), Seq(
          (lit(true): org.apache.spark.sql.Column) -> "all_events",
          lit(false) -> "spacer_empty"))
    }

  private def stageChainedWindows(spark: SparkSession, sfDir: String): String =
    stagedDir(spark, sfDir, "chained_windows") {
      stageBatchesBuild(spark, sfDir, "chained_windows",
        graft.queries.Tables.events(spark, sfDir), Seq(
          (lit(true): org.apache.spark.sql.Column) -> "all_events",
          lit(false) -> "spacer_empty_1",
          lit(false) -> "spacer_empty_2"))
    }

  private def stageProgressMetrics(spark: SparkSession, sfDir: String): String =
    stagedDir(spark, sfDir, "progress_metrics") {
      stageBatchesBuild(spark, sfDir, "progress_metrics",
        graft.queries.Tables.events(spark, sfDir), Seq(
          (lit(true): org.apache.spark.sql.Column) -> "all_events",
          lit(false) -> "spacer_empty"))
    }

  private def stageBatchesBuild(spark: SparkSession, sfDir: String, tag: String,
      raw: DataFrame,
      parts: Seq[(org.apache.spark.sql.Column, String)]): String = {
    val dir = java.nio.file.Paths.get(
      graft.queries.Scratch.root.toString, "graft_stream",
      sfDir.replaceAll("[^A-Za-z0-9._-]", "_"), tag)
    if (java.nio.file.Files.exists(dir)) {
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }
    val stage = dir.resolve("in")
    val now = System.currentTimeMillis()
    parts.zipWithIndex.foreach { case ((pred, name), i) =>
      val tmp = dir.resolve(s"tmp_$name")
      raw.where(pred).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.createDirectories(stage)
      val dst = stage.resolve(s"$name.parquet")
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(
          now - 60000L * (parts.length - 1 - i)))
    }
    stage.toString
  }

  def lateData(spark: SparkSession, sfDir: String): DataFrame = {
    // Normalized read (ts: TIMESTAMP); the staged replay files inherit
    // that type, so the stream side needs no further conversion.
    val raw = graft.queries.Tables.events(spark, sfDir)
    val stage = stageLateData(spark, sfDir)
    val schema = raw.schema
    runToCompletion(spark, sub =>
      sub.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
        .withWatermark("ts", "1 minute")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n")),
      "append")
      .select(unix_timestamp(col("window.start")).as("window_start"),
              col("event_type"), col("n"))
      .orderBy("window_start", "event_type")
  }

  /** Emit/drop arithmetic mirror: on-time rows are `ts ≥ max − 2 h`;
    * a window is emitted iff its end ≤ `max − 1 min`.
    */
  val lateDataOracle: String = """
WITH m AS (SELECT max(epoch_us(ts)) AS max_us FROM events),
on_time AS (
  SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start, event_type
  FROM events, m
  WHERE epoch_us(ts) >= m.max_us - 7200000000
)
SELECT window_start, event_type, count(*) AS n
FROM on_time, m
WHERE (window_start + 3600) * 1000000 <= m.max_us - 60000000
GROUP BY window_start, event_type, m.max_us
ORDER BY window_start, event_type
"""

  /** stream_outer_join: stream-stream LEFT OUTER interval join with
    * watermark-driven state eviction, graded. Clicks join purchases by
    * the same user within the following hour; a click with no purchase
    * must STILL be emitted (null-padded) — but only once the watermark
    * proves no future purchase can match, i.e. when
    * `click_ts + 1 h < watermark`. That eviction-time emission is the
    * semantics this query pins (the inner interval join is
    * stream_interval_join's).
    *
    * Replay is two controlled batches: all events, then an empty
    * spacer file — the spacer absorbs the one-micro-batch watermark
    * propagation delay (measured, see [[lateData]]),
    * so the final watermark — `least(max click_ts, max buy_ts) − 1 min`,
    * the MIN across the two watermarked sources, because the slowest
    * stream gates eviction — is OPERATIVE in a batch that can evict.
    * End state: matched pairs emitted in batch 0; unmatched clicks
    * whose `click_ts + 1 h` lies below that watermark emitted
    * null-padded in batch 1; younger unmatched clicks still sit in
    * state when the finite replay ends (exactly as unbounded operation
    * would leave them). The oracle replays that arithmetic relationally
    * (anti-join + age cutoff), so a hash match proves the engine's
    * outer-join eviction rule, not just join arithmetic. The 1-minute
    * delay lands strictly inside the event stream's microsecond
    * jitter, so the </≤ boundary convention cannot flip a row.
    *
    * Scale: state is bounded by the 1 h + 1 min horizon per side —
    * the production shape for unbounded feeds; both sides shuffle on
    * user_id once.
    */
  def outerJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = graft.queries.Tables.events(spark, sfDir)
    val stage = stageOuterJoin(spark, sfDir)
    val schema = raw.schema
    runToCompletion(spark, { sub =>
        def src() = sub.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(stage)
        val clicks = src().where(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"))
          .withWatermark("click_ts", "1 minute")
        val buys = src().where(col("event_type") === "purchase")
          .select(col("user_id").as("buy_user"), col("ts").as("buy_ts"))
          .withWatermark("buy_ts", "1 minute")
        clicks.join(buys,
          col("user_id") === col("buy_user") &&
          col("buy_ts") >= col("click_ts") &&
          col("buy_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
          "leftOuter")
      }, "append")
      .groupBy("user_id")
      .agg(count(col("buy_ts")).as("n_pairs"),
           sum(when(col("buy_ts").isNull, 1L).otherwise(0L)).as("n_expired"))
      .orderBy("user_id")
  }

  /** Relational mirror of the eviction rule: matched = the inner
    * interval join; expired = clicks with NO match whose join horizon
    * `click + 1 h` is strictly below the final watermark. With TWO
    * watermarked sources the global watermark is the MIN across them:
    * `least(max click_ts, max buy_ts) − 1 min` (the slowest stream
    * gates eviction — Spark's multi-source watermark policy).
    */
  val outerJoinOracle: String = """
WITH c AS (SELECT user_id, epoch_us(ts) AS cus FROM events
      WHERE event_type = 'click'),
p AS (SELECT user_id, epoch_us(ts) AS pus FROM events
      WHERE event_type = 'purchase'),
m AS (SELECT least((SELECT max(cus) FROM c), (SELECT max(pus) FROM p))
             AS max_us),
matched AS (
  SELECT c.user_id, count(*) AS n
  FROM c JOIN p ON p.user_id = c.user_id
              AND p.pus >= c.cus AND p.pus <= c.cus + 3600000000
  GROUP BY c.user_id
),
expired AS (
  SELECT c.user_id, count(*) AS n
  FROM c, m
  WHERE NOT EXISTS (
    SELECT 1 FROM p WHERE p.user_id = c.user_id
      AND p.pus >= c.cus AND p.pus <= c.cus + 3600000000)
    AND c.cus + 3600000000 < m.max_us - 60000000
  GROUP BY c.user_id
)
SELECT coalesce(ma.user_id, ex.user_id) AS user_id,
       coalesce(ma.n, 0) AS n_pairs,
       coalesce(ex.n, 0) AS n_expired
FROM matched ma FULL OUTER JOIN expired ex ON ex.user_id = ma.user_id
ORDER BY user_id
"""

  /** stream_update_mode: UPDATE output-mode semantics, graded. Append
    * emits a window once, complete re-emits everything; update emits
    * exactly the keys whose state CHANGED in each micro-batch — the
    * contract a downstream upsert sink (key-value store, OLAP upsert
    * table) depends on. Two controlled batches: the older events, then
    * the newest two hours. The memory sink in update mode appends each
    * trigger's changed rows, so the graded table is
    *
    *  - batch 0: every (hour, type) window of the older half, with
    *    half-time counts;
    *  - batch 1: ONLY the windows the newest slice touches — re-emitted
    *    with their updated (= final, since the replay ends) counts;
    *    untouched windows are NOT re-emitted (that silence is the
    *    update-mode contract, and what the oracle's second leg mirrors
    *    with its semi-join);
    *  - the final no-data batch emits nothing (no state change).
    *
    * A window spanning both halves therefore appears TWICE with
    * different counts — both rows graded. No watermark: update mode
    * emission is change-driven, not watermark-driven (the eviction
    * interaction is stream_late_data's and stream_outer_join's beat).
    *
    * Scale: identical state shape to stream_windowed_counts; update
    * mode bounds per-trigger output by the changed-key set, which is
    * what makes continuous upsert feeds viable at 100 TB/day.
    */
  def updateMode(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = graft.queries.Tables.events(spark, sfDir)
    val stage = stageUpdateMode(spark, sfDir)
    val schema = raw.schema
    runToCompletion(spark, sub =>
      sub.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n")),
      "update")
      .select(unix_timestamp(col("window.start")).as("window_start"),
              col("event_type"), col("n"))
      .orderBy("window_start", "event_type", "n")
  }

  /** Mirror: batch-0 rows are the older half's windows at half-time
    * counts; batch-1 rows are the FINAL counts of exactly the windows
    * the newest slice touches.
    */
  val updateModeOracle: String = """
WITH m AS (SELECT max(epoch_us(ts)) AS max_us FROM events),
ev AS (
  SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start, event_type,
         epoch_us(ts) AS us
  FROM events
),
h0 AS (
  SELECT window_start, event_type, count(*) AS n
  FROM ev, m WHERE us < m.max_us - 7200000000
  GROUP BY 1, 2
),
touched AS (
  SELECT DISTINCT window_start, event_type
  FROM ev, m WHERE us >= m.max_us - 7200000000
),
tot AS (
  SELECT window_start, event_type, count(*) AS n FROM ev GROUP BY 1, 2
)
SELECT window_start, event_type, n FROM h0
UNION ALL
SELECT t.window_start, t.event_type, t.n
FROM tot t JOIN touched u
  ON u.window_start = t.window_start AND u.event_type = t.event_type
ORDER BY window_start, event_type, n
"""

  /** stream_dedup_watermark: the BOUNDED-STATE twin of stream_dedup —
    * `dropDuplicatesWithinWatermark` keeps a key's dedup state only
    * until the watermark passes its event time, which is what makes
    * landing-zone dedup viable on an unbounded 100 TB/day feed (the
    * exact variant's seen-key set grows forever). Replay: the events
    * file staged TWICE, `maxFilesPerTrigger = 1` forcing the copies
    * into SEPARATE micro-batches, so the operator's two watermark roles
    * both fire across a batch boundary:
    *
    *  - batch 0 (copy 1): watermark not yet operative — every event is
    *    first-seen, emitted, and keyed into state;
    *  - batch 1 (copy 2): the watermark `max(ts) − 1 min` is now
    *    operative — duplicates older than it are dropped by the LATE
    *    filter before the store is consulted; the youngest minute's
    *    duplicates hit surviving state and dedup there. Either path
    *    kills the duplicate, which the gate proves: counts over the
    *    deduped stream equal the batch counts over ONE copy.
    *
    * Scale: state is bounded by keys-per-watermark-horizon instead of
    * total keys — the only version of streaming dedup that survives
    * unbounded operation.
    */
  def dedupWatermark(spark: SparkSession, sfDir: String): DataFrame =
    runToCompletion(spark, sub =>
        eventsStream(sub, sfDir, copies = 2, tag = "events_dup",
                     maxFilesPerTrigger = Some(1))
          .withWatermark("ts", "1 minute")
          .dropDuplicatesWithinWatermark("event_id"),
      "append")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
           countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type")

  val dedupWatermarkOracle: String = """
SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1 ORDER BY event_type
"""

  /** stream_running_count: ARBITRARY typed state via Spark 4's
    * `transformWithState` (the StatefulProcessor API that supersedes
    * flatMapGroupsWithState — stream_stateful_agg exercises the old
    * one): a per-user ValueState carrying (event count, running max
    * value), emitting one row per INPUT row with the state after that
    * row. The per-row emission makes the gate batching-invariant:
    * whatever micro-batch sizes or in-batch orders the replay
    * produces, `max(n_seen)` per user is that user's total event count
    * and `max(max_value_us)` the true maximum — both graded against
    * the batch rollup.
    *
    * Runs on the RocksDB state-store provider (required by the API,
    * and the store that spills state to disk instead of executor heap
    * — the 100 TB-state configuration). TTLConfig.NONE here because
    * the replay is finite; an unbounded deployment sets a TTL and the
    * store evicts idle users without a watermark.
    *
    * Scale: state is one 16-byte tuple per user, partitioned by the
    * grouping key; emission volume equals input volume (append mode) —
    * the same shape as any enrich-with-state pass.
    */
  def runningCount(spark: SparkSession, sfDir: String): DataFrame =
    runToCompletion(spark, { sub =>
        import sub.implicits._
        sub.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        eventsStream(sub, sfDir)
          .select(col("user_id"),
            floor(col("value") * lit(1000000.0) + lit(0.5)).cast("bigint")
              .as("value_us"))
          .as[(Long, Long)]
          .groupByKey(_._1)
          .transformWithState(new RunningUserStats(),
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Append())
          .toDF("user_id", "n_seen", "max_value_us")
      }, "append")
      .groupBy("user_id")
      .agg(max(col("n_seen")).as("n_events"),
           max(col("max_value_us")).as("max_value_us"))
      .orderBy("user_id")

  val runningCountOracle: String = """
SELECT user_id, count(*) AS n_events,
       max(cast(floor(value * 1000000.0 + 0.5) AS bigint)) AS max_value_us
FROM events GROUP BY 1 ORDER BY user_id
"""

  /** stream_mapstate_modes: transformWithState with MAP-typed state —
    * the composite state primitive stream_running_count's ValueState
    * doesn't exercise: a per-user MapState[event_type → count]
    * maintained across micro-batches, each input row emitting the
    * post-row snapshot (total rows, distinct types, modal type with
    * count-desc/lexicographic tie-break). MapState is the shape
    * per-entity feature maps take in production (per-user per-category
    * counters on RocksDB, point-updated — not a re-serialized blob,
    * which is what the same logic in a ValueState[Map] would cost).
    * The final per-user snapshot depends only on the input multiset, so
    * `max_by(_, n_seen)` over the per-row emissions is batching- and
    * order-invariant — graded against the batch modal rollup.
    *
    * Scale: state is |active users| × |types| point entries in the
    * RocksDB store; per-row work scans the user's own ≤|types| map
    * entries. Emission volume equals input volume, same as any
    * enrich-with-state pass.
    */
  def mapStateModes(spark: SparkSession, sfDir: String): DataFrame =
    runToCompletion(spark, { sub =>
        import sub.implicits._
        sub.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        eventsStream(sub, sfDir)
          .select(col("user_id"), col("event_type"))
          .as[(Long, String)]
          .groupByKey(_._1)
          .transformWithState(new UserTypeModes(),
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Append())
          .toDF("user_id", "n_seen", "n_types", "mode_type", "mode_n")
      }, "append")
      .groupBy("user_id")
      .agg(max(col("n_seen")).as("n_events"),
        expr("max_by(n_types, n_seen)").as("n_types"),
        expr("max_by(mode_type, n_seen)").as("mode_type"),
        expr("max_by(mode_n, n_seen)").as("mode_n"))
      .orderBy("user_id")

  val mapStateModesOracle: String = """
WITH pc AS (SELECT user_id, event_type, count(*) AS n
            FROM events GROUP BY 1, 2),
m AS (SELECT user_id, event_type, n,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY n DESC, event_type) AS rn,
             sum(n) OVER (PARTITION BY user_id) AS tot,
             count(*) OVER (PARTITION BY user_id) AS ntypes
      FROM pc)
SELECT user_id, CAST(tot AS BIGINT) AS n_events,
       CAST(ntypes AS BIGINT) AS n_types,
       event_type AS mode_type, CAST(n AS BIGINT) AS mode_n
FROM m WHERE rn = 1 ORDER BY user_id
"""

  /** stream_liststate_median: transformWithState with LIST-typed state
    * — completing the state-primitive trio next to
    * stream_running_count's ValueState and stream_mapstate_modes'
    * MapState. Per-user ListState buffers every observed value; each
    * input row emits the post-row snapshot (count, LOWER MEDIAN, sum).
    * The median is the computation that forces a list: it needs the
    * full value multiset, not a fold — a ValueState running aggregate
    * cannot produce it. ListState appends are O(1) point-writes to
    * RocksDB (vs rewriting a ValueState[Array] blob per event, which
    * is quadratic bytes over a user's lifetime).
    *
    * The final per-user snapshot depends only on the multiset (lower
    * median = sorted index (n−1)/2, deterministic under duplicates),
    * so `max_by(_, n_seen)` over per-row emissions is batching- and
    * order-invariant. Scale: per-user state is that user's event
    * count; the per-row O(n log n) re-sort is bounded by per-entity
    * volume (not corpus volume) — the production variant of this
    * pattern evicts via TTL or timer-driven compaction, exercised by
    * stream_session_timers.
    */
  def listStateMedian(spark: SparkSession, sfDir: String): DataFrame =
    runToCompletion(spark, { sub =>
        import sub.implicits._
        sub.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        eventsStream(sub, sfDir)
          .select(col("user_id"),
            expr("cast(floor(value * 1000000.0 + 0.5) as bigint)").as("vus"))
          .as[(Long, Long)]
          .groupByKey(_._1)
          .transformWithState(new UserValueBuffer(),
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Append())
          .toDF("user_id", "n_seen", "median_us", "sum_us")
      }, "append")
      .groupBy("user_id")
      .agg(max(col("n_seen")).as("n_events"),
        expr("max_by(median_us, n_seen)").as("median_us"),
        expr("max_by(sum_us, n_seen)").as("sum_us"))
      .orderBy("user_id")

  val listStateMedianOracle: String = """
WITH v AS (SELECT user_id,
                  cast(floor(value * 1000000.0 + 0.5) AS bigint) AS vus
           FROM events),
r AS (SELECT user_id, vus,
             row_number() OVER (PARTITION BY user_id ORDER BY vus) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n,
             sum(vus) OVER (PARTITION BY user_id) AS s
      FROM v)
SELECT user_id, CAST(n AS BIGINT) AS n_events, vus AS median_us,
       CAST(s AS BIGINT) AS sum_us
FROM r WHERE rn = (n + 1) // 2 ORDER BY user_id
"""

  /** stream_cc_incremental: the flagship operator composed with the
    * `foreachBatch` MERGE-sink pattern — connected-component labels
    * MAINTAINED by a streaming sink as edge deltas arrive, never
    * re-solving the full graph per trigger. This is the production
    * shape of the reference's operator (ConnectedComponent.scala:42-103
    * run once nightly) turned into continuous maintenance: batch 1
    * (high-quantity co-purchase orders with `l_orderkey % 10 != 7`)
    * bootstraps the label table with a full solve; batch 2 (the
    * remaining orders) runs the incremental algebra of
    * [[graft.queries.GraphQueries.ccIncremental]] against the STORED
    * table — delta endpoints contract through current labels, the
    * fixpoint runs on the label-level graph only (orders of magnitude
    * smaller than the corpus), and the result rebases the table.
    * Because labels are component minima, the two-batch composition is
    * bit-identical to a from-scratch solve of the full graph — exactly
    * what the oracle computes, so the hash gate proves the streaming
    * maintenance loses nothing.
    *
    * Scale: per trigger the work is two hash joins of the delta
    * against the label table (the delta side is the small one and
    * broadcasts) plus the label-graph fixpoint; the unaffected region
    * is rewritten but never recomputed — swap the versioned-parquet
    * swap for a Delta/Iceberg MERGE and the rewrite disappears too.
    * Triggers run strictly sequentially, so the read-modify-write on
    * the table is race-free by construction.
    */
  def ccIncrementalStream(spark: SparkSession, sfDir: String): DataFrame = {
    val li = graft.queries.Tables.lineitem(spark, sfDir)
      .where(col("l_quantity") >= 45)
      .select(col("l_orderkey"), col("l_partkey"))
    val stage = stageCcInc(spark, sfDir)
    val schema = li.schema
    val tableRoot = java.nio.file.Paths.get(stage).getParent.resolve("table")
    if (java.nio.file.Files.exists(tableRoot)) {
      val walk = java.nio.file.Files.walk(tableRoot)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }
    val current = tableRoot.resolve("current")
    val sub = spark.newSession()
    sub.conf.set("spark.sql.shuffle.partitions", "8")
    val q = sub.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage)
      .writeStream
      .option("checkpointLocation", tableRoot.resolve("ckpt").toString)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val cliques = batch.groupBy("l_orderkey")
          .agg(collect_set(col("l_partkey")).as("nodes"))
        val delta = graft.cc.EdgeBuilder.starEdges(cliques).localCheckpoint()
        val labels =
          if (!java.nio.file.Files.exists(current)) {
            graft.cc.ConnectedComponents.runAuto(delta).assignments
          } else {
            // the shared maintenance algebra (graft.cc.IncrementalCC)
            graft.cc.IncrementalCC.applyDelta(
              s.read.parquet(current.toString), delta)
          }
        val next = tableRoot.resolve(s"v$batchId")
        labels.coalesce(1).write.mode("overwrite").parquet(next.toString)
        val tmp = tableRoot.resolve("swap")
        if (java.nio.file.Files.exists(current))
          java.nio.file.Files.move(current, tmp)
        java.nio.file.Files.move(next, current)
        if (java.nio.file.Files.exists(tmp)) {
          val w = java.nio.file.Files.walk(tmp)
          try w.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => java.nio.file.Files.delete(p))
          finally w.close()
        }
      }
      .start()
    q.awaitTermination()
    spark.read.parquet(current.toString).orderBy("node")
  }

  /** The maintained table equals the from-scratch min-label closure of
    * the FULL high-quantity graph (same closure as cc_incremental's
    * oracle — the streaming composition must lose nothing).
    */
  val ccIncrementalStreamOracle: String = """
WITH RECURSIVE li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 45
),
edges AS (
  SELECT b.l_partkey AS src, a.l_partkey AS dst
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  UNION
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
nodes AS (SELECT DISTINCT l_partkey AS node FROM li),
walk(node, comp) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.node
)
SELECT node, min(comp) AS component FROM walk GROUP BY node ORDER BY node
"""

  /** stream_cc_decremental: the DELETION half of streaming label
    * maintenance — [[ccIncrementalStream]] handles the ingest stream;
    * this is the retention/GDPR stream, driven by a CDC-shaped feed
    * (`op ∈ {add, delete}`). The sink maintains TWO tables: the CLIQUE
    * store (order → member set, the operand deletes are expressed
    * against) and the label table. Per trigger, adds run the
    * incremental label-graph algebra; deletes run the decremental
    * algebra of [[graft.queries.GraphQueries.ccDecremental]] against
    * the STORED state: deleted nodes → affected components → re-solve
    * ONLY the affected components' surviving subgraph (rebuilt from
    * the updated clique store), every other label untouched. Because
    * labels are component minima, the maintained table is bit-identical
    * to a from-scratch solve of the surviving graph — which is what
    * the oracle computes: after batch 1 (all high-quantity orders as
    * adds) and batch 2 (orders `%10 == 3` as deletes), the result must
    * be indistinguishable from never having had the deleted orders.
    * Nodes whose every order was deleted leave the table entirely —
    * the membership contract a deletion pipeline must honor.
    *
    * Scale: the delete pass is two hash joins against the label table
    * plus a re-solve of the affected slice only; worst case (every
    * component touched) degrades to a full re-solve — never worse
    * than not maintaining. The clique-store rewrite is the MERGE a
    * lakehouse table would absorb.
    */
  def ccDecrementalStream(spark: SparkSession, sfDir: String): DataFrame = {
    val hq = graft.queries.Tables.lineitem(spark, sfDir)
      .where(col("l_quantity") >= 45)
      .select(col("l_orderkey"), col("l_partkey"))
    val raw = hq.withColumn("op", lit("add")).withColumn("tag", lit(1))
      .unionAll(hq.where(col("l_orderkey") % 10 === 3)
        .withColumn("op", lit("delete")).withColumn("tag", lit(2)))
    val stage = stageCcDec(spark, sfDir)
    val schema = raw.schema
    val tableRoot = java.nio.file.Paths.get(stage).getParent.resolve("table")
    if (java.nio.file.Files.exists(tableRoot)) {
      val walk = java.nio.file.Files.walk(tableRoot)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }
    val curCliques = tableRoot.resolve("cliques")
    val curLabels = tableRoot.resolve("labels")
    def readOr(p: java.nio.file.Path, s: org.apache.spark.sql.SparkSession,
        orElse: => DataFrame): DataFrame =
      if (java.nio.file.Files.exists(p)) s.read.parquet(p.toString) else orElse
    def swap(next: java.nio.file.Path, cur: java.nio.file.Path): Unit = {
      val tmp = cur.getParent.resolve(cur.getFileName.toString + ".swap")
      if (java.nio.file.Files.exists(cur)) java.nio.file.Files.move(cur, tmp)
      java.nio.file.Files.move(next, cur)
      if (java.nio.file.Files.exists(tmp)) {
        val w = java.nio.file.Files.walk(tmp)
        try w.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
        finally w.close()
      }
    }
    val sub = spark.newSession()
    sub.conf.set("spark.sql.shuffle.partitions", "8")
    val q = sub.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage)
      .writeStream
      .option("checkpointLocation", tableRoot.resolve("ckpt").toString)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val s = batch0.sparkSession
        val batch = batch0.localCheckpoint()
        val adds = batch.where(col("op") === "add")
        val dels = batch.where(col("op") === "delete")
        // 1. clique store: upsert added orders, drop deleted orders
        val addCliques = adds.groupBy("l_orderkey")
          .agg(collect_set(col("l_partkey")).as("nodes"))
        val delOrders = dels.select("l_orderkey").distinct()
        val prevCliques = readOr(curCliques, s,
          addCliques.limit(0))
        val nextCliques = prevCliques
          .join(addCliques.select("l_orderkey"), Seq("l_orderkey"), "left_anti")
          .join(delOrders, Seq("l_orderkey"), "left_anti")
          .unionByName(
            addCliques.join(delOrders, Seq("l_orderkey"), "left_anti"))
          .localCheckpoint()
        // 2. labels: adds via the incremental algebra...
        val afterAdds: DataFrame =
          if (adds.isEmpty) readOr(curLabels, s, sys.error("no label table"))
          else if (!java.nio.file.Files.exists(curLabels)) {
            graft.cc.ConnectedComponents.runAuto(
              graft.cc.EdgeBuilder.starEdges(addCliques)).assignments
          } else {
            // the shared maintenance algebra (graft.cc.IncrementalCC)
            graft.cc.IncrementalCC.applyDelta(
              s.read.parquet(curLabels.toString),
              graft.cc.EdgeBuilder.starEdges(addCliques))
          }
        // 3. ...then deletes via the decremental algebra on the store
        val nextLabels =
          if (dels.isEmpty) afterAdds
          else {
            val labels = afterAdds.localCheckpoint()
            val deletedNodes = dels.select(col("l_partkey").as("node"))
              .distinct()
            val affected = labels.join(deletedNodes, Seq("node"))
              .select("component").distinct()
            val survEdges = graft.cc.EdgeBuilder.starEdges(nextCliques)
            val affectedEdges = survEdges
              .join(labels.toDF("src", "component"), Seq("src"))
              .join(affected, Seq("component"), "left_semi")
              .select("src", "dst")
            val resolved = graft.cc.ConnectedComponents
              .runAuto(affectedEdges).assignments
            val untouched = labels.join(affected, Seq("component"), "left_anti")
              .select(col("node"), col("component"))
            untouched.unionAll(resolved)
          }
        val nc = tableRoot.resolve(s"cliques_v$batchId")
        nextCliques.coalesce(1).write.mode("overwrite").parquet(nc.toString)
        val nl = tableRoot.resolve(s"labels_v$batchId")
        nextLabels.coalesce(1).write.mode("overwrite").parquet(nl.toString)
        swap(nc, curCliques)
        swap(nl, curLabels)
      }
      .start()
    q.awaitTermination()
    spark.read.parquet(curLabels.toString).orderBy("node")
  }

  /** The maintained table equals the from-scratch min-label closure of
    * the SURVIVING graph (all high-quantity orders minus the deleted
    * `%10 == 3` orders) — the cc_decremental contract, reached through
    * a streamed add batch + delete batch instead of a batch recompute.
    */
  val ccDecrementalStreamOracle: String = """
WITH RECURSIVE li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  WHERE l_quantity >= 45 AND l_orderkey % 10 <> 3
),
edges AS (
  SELECT b.l_partkey AS src, a.l_partkey AS dst
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  UNION
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
nodes AS (SELECT DISTINCT l_partkey AS node FROM li),
walk(node, comp) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.node
)
SELECT node, min(comp) AS component FROM walk GROUP BY node ORDER BY node
"""

  /** stream_foreachbatch_upsert: the `foreachBatch` MERGE sink — THE
    * production pattern for landing a streaming aggregate in an upsert
    * store (key-value table, OLAP upsert engine, Delta MERGE): update
    * mode emits each trigger's CHANGED (window, type) rows, and the
    * batch function merges them into a keyed parquet table —
    * delete-matched + insert, versioned directory with an atomic swap.
    * Two controlled micro-batches (older half, then the newest two
    * hours) make a window that spans both halves get UPSERTED twice —
    * batch 1's final count REPLACES batch 0's half-count, which is
    * exactly what the gate proves: the final table equals the batch
    * rollup, so every overwrite landed and no stale row survived.
    *
    * Scale: per-trigger sink I/O is bounded by the CHANGED key set
    * (update mode), not the state size; the merge is one anti-join +
    * union on the key — broadcast-sized here, keyed shuffle at 100 TB.
    * The swap-directory versioning is the poor engine's transaction;
    * a lakehouse MERGE (io_merge_upsert's arithmetic) replaces it in
    * production without touching the streaming side.
    */
  def foreachBatchUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = graft.queries.Tables.events(spark, sfDir)
    val stage = stageFebUpsert(spark, sfDir)
    val schema = raw.schema
    val tableRoot = java.nio.file.Paths.get(stage).getParent.resolve("table")
    // fresh target per invocation — the merge result is the graded value
    if (java.nio.file.Files.exists(tableRoot)) {
      val walk = java.nio.file.Files.walk(tableRoot)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }
    val current = tableRoot.resolve("current")
    val sub = spark.newSession()
    sub.conf.set("spark.sql.shuffle.partitions", "8")
    val q = sub.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("window_start"),
              col("event_type"), col("n"))
      .writeStream
      .option("checkpointLocation", tableRoot.resolve("ckpt").toString)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val delta = batch.localCheckpoint() // decouple from the running query
        val merged =
          if (java.nio.file.Files.exists(current)) {
            val cur = s.read.parquet(current.toString)
            cur.join(delta, Seq("window_start", "event_type"), "left_anti")
              .unionByName(delta)
          } else delta
        val next = tableRoot.resolve(s"v$batchId")
        merged.coalesce(1).write.mode("overwrite").parquet(next.toString)
        // atomic-enough swap: triggers run strictly sequentially
        val tmp = tableRoot.resolve("swap")
        if (java.nio.file.Files.exists(current))
          java.nio.file.Files.move(current, tmp)
        java.nio.file.Files.move(next, current)
        if (java.nio.file.Files.exists(tmp)) {
          val w = java.nio.file.Files.walk(tmp)
          try w.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => java.nio.file.Files.delete(p))
          finally w.close()
        }
      }
      .start()
    q.awaitTermination()
    spark.read.parquet(current.toString)
      .orderBy("window_start", "event_type")
  }

  /** The final upsert table equals the plain batch rollup — every
    * re-emitted window overwrote its earlier version.
    */
  val foreachBatchUpsertOracle: String = """
SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start,
       event_type, count(*) AS n
FROM events GROUP BY 1, 2 ORDER BY window_start, event_type
"""

  /** stream_session_timers: event-time TIMERS via `transformWithState`
    * — the half of the Spark 4 arbitrary-state API that
    * [[runningCount]] doesn't touch: `handleExpiredTimer` closing idle
    * sessions when the WATERMARK passes their timeout, which is how a
    * production sessionizer emits without waiting for the user's next
    * event (the session_window operator does this internally; here the
    * policy is user code). Per user the processor keeps the OPEN
    * session's (count, last-seen) in a ValueState; in-batch gaps close
    * sessions inline (rows are sorted per key in the handler — a batch
    * iterator carries NO time order), and ONE re-armed timer at
    * `last + 30 min` covers the open tail. Replay: all events, then an
    * empty spacer file (the one-micro-batch watermark-propagation
    * delay, see [[lateData]]) — the spacer batch is where expired
    * timers fire. Sessions still inside their idle window when the
    * finite replay ends stay in state, exactly as an unbounded run
    * would leave them; the oracle replays that split: every gap-closed
    * session, plus each user's FINAL session only if its timeout
    * cleared the final watermark (`least`-free: one source).
    *
    * The timer is registered at `floor(last_us/1000) + gap_ms + 1`, so
    * it is strictly inside the idle window; the 1-minute watermark
    * delay sits mid-stream with microsecond jitter, making an
    * expiry == watermark tie (where Spark's </≤ convention could
    * matter) measure-zero in this data.
    *
    * Scale: state is one tuple + one timer per ACTIVE user —
    * watermark-bounded, the unbounded-feed configuration; emissions
    * are one row per closed session.
    */
  def sessionTimers(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = graft.queries.Tables.events(spark, sfDir)
    val stage = stageSessionTimers(spark, sfDir)
    val schema = raw.schema
    runToCompletion(spark, { sub =>
        import sub.implicits._
        sub.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        graft.queries.Tables.normalizeTs(sub,
            sub.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(stage))
          .withWatermark("ts", "1 minute")
          .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"))
          .as[(Long, java.sql.Timestamp, Long)]
          .map(r => (r._1, r._3))
          .groupByKey(_._1)
          .transformWithState(new SessionTimers(1800000000L),
            org.apache.spark.sql.streaming.TimeMode.EventTime(),
            org.apache.spark.sql.streaming.OutputMode.Append())
          .toDF("user_id", "n_events", "last_us")
      }, "append")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_closed"),
           sum(col("n_events")).as("events_closed"),
           max(col("last_us")).as("last_closed_us"))
      .orderBy("user_id")
  }

  /** Gap sessions; the per-user FINAL session only counts as closed if
    * its timer (`last + 30 min + 1 ms`) is below the final watermark
    * (`max(ts) − 1 min`, ms floor).
    */
  val sessionTimersOracle: String = """
WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
m AS (SELECT (max(us) // 1000) - 60000 AS wm_ms FROM e),
b AS (
  SELECT user_id, us,
         CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
              THEN 1 ELSE 0 END AS boundary
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
),
s AS (
  SELECT user_id, us,
         sum(boundary) OVER (PARTITION BY user_id ORDER BY us
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM b
),
sess AS (
  SELECT user_id, sid, count(*) AS n_events, max(us) AS last_us,
         row_number() OVER (PARTITION BY user_id ORDER BY sid DESC) AS rfinal
  FROM s GROUP BY user_id, sid
),
closed AS (
  SELECT user_id, n_events, last_us
  FROM sess, m
  WHERE rfinal > 1 OR (last_us // 1000) + 1800000 + 1 < m.wm_ms
)
SELECT user_id, count(*) AS n_closed,
       CAST(sum(n_events) AS BIGINT) AS events_closed,
       CAST(max(last_us) AS BIGINT) AS last_closed_us
FROM closed GROUP BY user_id ORDER BY user_id
"""

  /** stream_chained_windows: CHAINED event-time window aggregations —
    * two stateful operators in one streaming query (Spark ≥ 3.5 /
    * 4.x capability; earlier engines force an intermediate sink): a
    * 10-minute tumbling count per event type re-aggregated, via
    * `window_time`'s event-time re-assignment, into hourly rows that
    * carry `sum`, `max` and bucket-count over their six 10-minute
    * sub-buckets. `max_10min`/`n_buckets` are NOT derivable from a
    * single hourly aggregation — they prove the two-level pipeline
    * actually ran as two stateful stages. Append mode (required for
    * chained stateful operators); replay is the controlled
    * [all_events, spacer, spacer] feed: spacer #1 makes the
    * end-of-data watermark operative for the level-1 eviction whose
    * emissions feed level 2, spacer #2 gives level 2 a batch in which
    * that same watermark closes its hourly windows (watermark
    * propagation crosses one operator per micro-batch).
    *
    * Scale: level-1 state is keyed by (10-min window, type), level-2
    * by (hour, type) — both bounded by the calendar × type product,
    * evicted as the watermark passes; each level shuffles on its own
    * key exactly as the equivalent batch rollup would.
    */
  def chainedWindows(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = graft.queries.Tables.events(spark, sfDir)
    val stage = stageChainedWindows(spark, sfDir)
    val schema = raw.schema
    runToCompletion(spark, sub =>
      sub.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
        .withWatermark("ts", "1 minute")
        .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n10"))
        .groupBy(window(window_time(col("window")), "1 hour"),
                 col("event_type"))
        .agg(sum(col("n10")).as("n_hour"), max(col("n10")).as("max_10min"),
             count(lit(1)).as("n_buckets")),
      "append")
      .select(unix_timestamp(col("window.start")).as("window_start"),
              col("event_type"), col("n_hour"), col("max_10min"),
              col("n_buckets"))
      .orderBy("window_start", "event_type")
  }

  /** Two-level rollup mirror with the append-mode emission rule: an
    * hourly window is emitted iff its end ≤ final watermark
    * (`max ts − 1 min`); all data arrives in batch 0, so no 10-minute
    * bucket is late-dropped and every emitted hour carries its full
    * set of sub-buckets.
    */
  val chainedWindowsOracle: String = """
WITH m AS (SELECT max(epoch_us(ts)) AS max_us FROM events),
b10 AS (
  SELECT (epoch_us(ts) // 600000000) * 600 AS b10_start,
         event_type, count(*) AS n10
  FROM events GROUP BY 1, 2
),
hourly AS (
  SELECT (b10_start // 3600) * 3600 AS window_start, event_type,
         sum(n10) AS n_hour, max(n10) AS max_10min, count(*) AS n_buckets
  FROM b10 GROUP BY 1, 2
)
SELECT window_start, event_type, CAST(n_hour AS BIGINT) AS n_hour,
       CAST(max_10min AS BIGINT) AS max_10min, n_buckets
FROM hourly, m
WHERE (window_start + 3600) * 1000000 <= m.max_us - 60000000
ORDER BY window_start, event_type
"""

  /** stream_checkpoint_recovery: exactly-once across a RESTART — the
    * fault-tolerance contract every other streaming query here assumes
    * but none grades. The hourly-counts aggregation runs TWICE against
    * the same checkpointLocation: run 1 sees only the first half of
    * the events (split at the midpoint timestamp) and stops; the
    * second half is then added and run 2 starts FRESH from the
    * checkpoint. The graded complete-mode output equals the batch
    * aggregation over ALL events — which can only happen if (a) the
    * state store recovered run 1's counts (else the first half would
    * be missing) AND (b) the file-source offset log skipped the
    * already-processed file (else the first half would double). Both
    * failure modes are hash-visible, so the gate pins recovery, not
    * just aggregation.
    *
    * Scale: checkpointing is the production default; state and offsets
    * are per-key/per-file metadata, so recovery cost is proportional
    * to state size, not history length.
    */
  def checkpointRecovery(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val raw = graft.queries.Tables.events(spark, sfDir)
    val bounds = raw.agg(min(unix_micros(col("ts"))),
      max(unix_micros(col("ts")))).head()
    val midUs = (bounds.getLong(0) + bounds.getLong(1)) / 2
    val base = Paths.get(graft.queries.Scratch.root.toString,
      "graft_stream", sfDir.replaceAll("[^A-Za-z0-9._-]", "_"),
      "ckpt_recovery")
    if (Files.exists(base)) {
      val walk = Files.walk(base)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      finally walk.close()
    }
    val inDir = base.resolve("in")
    val ckpt = base.resolve("ckpt")
    Files.createDirectories(inDir)
    def stagePart(pred: org.apache.spark.sql.Column, name: String) = {
      val tmp = base.resolve(s"tmp_$name")
      raw.where(pred).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
    }
    val fa = stagePart(unix_micros(col("ts")) < midUs, "a")
    val fb = stagePart(unix_micros(col("ts")) >= midUs, "b")
    Files.move(fa, inDir.resolve("a.parquet"))
    val schema = raw.schema
    def runOnce(): (SparkSession, String) = {
      val name = uniqueName("graft_ckpt")
      val sub = spark.newSession()
      sub.conf.set("spark.sql.shuffle.partitions", "8")
      val q = sub.readStream.schema(schema).parquet(inDir.toString)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      (sub, name)
    }
    runOnce() // first half only; stops at end-of-available
    Files.move(fb, inDir.resolve("b.parquet"))
    val (sub2, name2) = runOnce() // fresh query, same checkpoint
    sub2.table(name2)
      .select(unix_timestamp(col("window.start")).as("window_start"),
              col("event_type"), col("n"))
      .orderBy("window_start", "event_type")
  }

  /** Complete-mode recovery result ≡ the plain batch rollup over all
    * events (no watermark holdback in complete mode).
    */
  val checkpointRecoveryOracle: String = """
SELECT (cast(floor(epoch(ts) / 3600) AS bigint) * 3600) AS window_start,
       event_type, count(*) AS n
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""

  /** stream_state_reader: STATE-STORE INTROSPECTION — the `statestore`
    * batch data source (Spark 4 state reader) pointed at a streaming
    * aggregation's checkpoint. The hourly-counts query runs once with
    * a checkpoint; the graded result is then computed FROM THE STATE
    * FILES, not from the query output: per event type, the sum of the
    * per-window count buffers and the number of state rows (= live
    * windows). A hash match proves the operator's internal state is
    * externally readable and exactly mirrors the data — the
    * operational superpower for debugging a stuck 100 TB stream
    * (inspect state without touching the query).
    *
    * Scale: the state reader is an ordinary parallel batch scan over
    * the state files — introspection cost is state size, not history.
    */
  def stateReader(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val raw = graft.queries.Tables.events(spark, sfDir)
    val base = Paths.get(graft.queries.Scratch.root.toString,
      "graft_stream", sfDir.replaceAll("[^A-Za-z0-9._-]", "_"),
      "state_reader")
    if (Files.exists(base)) {
      val walk = Files.walk(base)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      finally walk.close()
    }
    val inDir = base.resolve("in")
    val ckpt = base.resolve("ckpt")
    Files.createDirectories(base)
    raw.coalesce(1).write.parquet(inDir.toString)
    val schema = raw.schema
    val name = uniqueName("graft_state")
    val sub = spark.newSession()
    sub.conf.set("spark.sql.shuffle.partitions", "8")
    val q = sub.readStream.schema(schema).parquet(inDir.toString)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val state = spark.read.format("statestore").load(ckpt.toString)
    // The value buffer's field name is plan-derived ("count(1)" or
    // similar) — locate the single long field instead of hardcoding it.
    val valueType = state.schema("value").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val countField = valueType.fields
      .find(_.dataType == org.apache.spark.sql.types.LongType)
      .getOrElse(sys.error(s"no long buffer field in $valueType")).name
    state.select(col("key.event_type").as("event_type"),
        col(s"value.`$countField`").as("n"))
      .groupBy("event_type")
      .agg(sum(col("n")).as("n_events"), count(lit(1)).as("n_windows"))
      .orderBy("event_type")
  }

  /** State must mirror the data exactly: per type, total events and
    * the number of distinct hourly windows (= state rows).
    */
  val stateReaderOracle: String = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       count(DISTINCT epoch_us(ts) // 3600000000) AS n_windows
FROM events GROUP BY 1 ORDER BY event_type
"""

  /** stream_progress_metrics: the OBSERVABILITY contract — the numbers
    * a production stream is monitored by, graded against relational
    * truth. The hourly aggregation runs over the [all_events, spacer]
    * replay; the graded row then comes from the `StreamingQueryProgress`
    * API, not the sink: total `numInputRows` across batches must equal
    * the table count (no row lost or double-counted by the metrics
    * path), and the final reported event-time watermark must be
    * exactly `max(ts) − 1 min` at millisecond precision (Spark tracks
    * watermarks in ms — the flooring is part of the pinned contract).
    * If the metrics lied, every lag alert built on them would too.
    *
    * Scale: progress metadata is O(batches), independent of data size.
    */
  def progressMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = graft.queries.Tables.events(spark, sfDir)
    val stage = stageProgressMetrics(spark, sfDir)
    val schema = raw.schema
    val name = uniqueName("graft_progress")
    val sub = spark.newSession()
    sub.conf.set("spark.sql.shuffle.partitions", "8")
    val ck = graft.queries.Scratch.root.resolve(s"ck_$name")
    val q = sub.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ck.toString)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination()
    finally graft.queries.Scratch.deleteRec(ck)
    val progresses = q.recentProgress
    val totalRows = progresses.map(_.numInputRows).sum
    val wmUs = java.time.Instant
      .parse(progresses.last.eventTime.get("watermark"))
      .toEpochMilli * 1000L
    spark.range(1).select(lit(totalRows).as("total_input_rows"),
      lit(wmUs).as("watermark_us"))
  }

  /** Metrics truth: rows in == table count; watermark == max(ts) − 1
    * min, floored to the millisecond Spark tracks watermarks at.
    */
  val progressMetricsOracle: String = """
SELECT count(*) AS total_input_rows,
       CAST(((max(epoch_us(ts)) // 1000) - 60000) * 1000 AS BIGINT)
         AS watermark_us
FROM events
"""

  /** stream_rollup_reagg: multi-grain rollups FROM a stream — the one
    * grouping-sets surface streaming can't do directly (r5 verdict
    * item 8). A streaming ROLLUP would need each input row to update
    * several overlapping state rows, which Structured Streaming
    * (correctly) refuses; the production pattern is to stream ONLY the
    * finest grain — here (day, event_type) counts — and derive every
    * coarser grain by re-aggregating the streamed result in batch,
    * exact because count re-aggregates as sum. The graded output is
    * the full rollup with `grouping_id()`, so the gate checks the
    * fine level, the per-day level, and the grand total all derive
    * correctly from streamed state.
    *
    * Scale: streaming state is the fine grain only (|days|·|types|
    * rows); the batch rollup reads the compact streamed result, never
    * the raw stream again.
    */
  def rollupReagg(spark: SparkSession, sfDir: String): DataFrame = {
    val fine = runToCompletion(spark, sub => eventsStream(sub, sfDir)
        .withWatermark("ts", "1 minute")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n")),
      "complete")
      .select(to_date(col("window.start")).as("day"),
              col("event_type"), col("n"))
    fine.rollup(col("day"), col("event_type"))
      .agg(sum(col("n")).as("n_events"), grouping_id().as("gid"))
      .orderBy(col("day").asc_nulls_first, col("event_type").asc_nulls_first)
  }

  val rollupReaggOracle: String = """
SELECT CAST(ts AS DATE) AS day, event_type,
       count(*) AS n_events, grouping_id(CAST(ts AS DATE), event_type) AS gid
FROM events
GROUP BY ROLLUP(CAST(ts AS DATE), event_type)
ORDER BY day ASC NULLS FIRST, event_type ASC NULLS FIRST
"""

  val all: Seq[Query] = Seq(
    Query("stream_progress_metrics", progressMetrics, progressMetricsOracle),
    Query("stream_state_reader", stateReader, stateReaderOracle),
    Query("stream_checkpoint_recovery", checkpointRecovery, checkpointRecoveryOracle),
    Query("stream_chained_windows", chainedWindows, chainedWindowsOracle),
    Query("stream_session_timers", sessionTimers, sessionTimersOracle),
    Query("stream_foreachbatch_upsert", foreachBatchUpsert, foreachBatchUpsertOracle),
    Query("stream_cc_incremental", ccIncrementalStream, ccIncrementalStreamOracle),
    Query("stream_cc_decremental", ccDecrementalStream, ccDecrementalStreamOracle),
    Query("stream_dedup_watermark", dedupWatermark, dedupWatermarkOracle),
    Query("stream_running_count", runningCount, runningCountOracle),
    Query("stream_mapstate_modes", mapStateModes, mapStateModesOracle),
    Query("stream_liststate_median", listStateMedian, listStateMedianOracle),
    Query("stream_update_mode", updateMode, updateModeOracle),
    Query("stream_outer_join", outerJoin, outerJoinOracle),
    Query("stream_late_data", lateData, lateDataOracle),
    Query("stream_static_join", staticJoin, staticJoinOracle),
    Query("stream_interval_join", intervalJoin, intervalJoinOracle),
    Query("stream_dedup", dedupCounts, dedupCountsOracle),
    Query("stream_windowed_counts", windowedCounts, windowedCountsOracle),
    Query("stream_sessions", sessions, sessionsOracle),
    Query("stream_stateful_agg", statefulUserAgg, statefulUserAggOracle),
    Query("stream_file_sink", fileSinkEtl, fileSinkEtlOracle),
    Query("stream_rollup_reagg", rollupReagg, rollupReaggOracle),
  )
}

/** Per-user (count, running max) ValueState for stream_running_count —
  * see the query scaladoc. Top-level class: StatefulProcessor instances
  * are serialized to executors, and an inner class would drag the
  * enclosing object's fields along.
  */
private[graft] class RunningUserStats
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long), (Long, Long, Long)] {
  import org.apache.spark.sql.streaming.{TimerValues, ValueState, TTLConfig}

  @transient private var st: ValueState[(Long, Long)] = _

  override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                    timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    st = getHandle.getValueState[(Long, Long)]("user_stats",
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong),
      TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                               timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
    var (n, mx) = if (st.exists()) st.get() else (0L, Long.MinValue)
    // Drain eagerly: the returned iterator may be consumed after the
    // state update below, and a lazy map would then see stale vars.
    val out = rows.map { case (_, v) =>
      n += 1
      if (v > mx) mx = v
      (key, n, mx)
    }.toVector
    st.update((n, mx))
    out.iterator
  }
}

/** Per-user MapState[event_type → count] for stream_mapstate_modes —
  * see the query scaladoc. Emits the post-row snapshot (rows seen,
  * distinct types, modal type by count desc then lexicographic) per
  * input row; the map has ≤ |event types| entries per user, so the
  * per-row scan is O(types), and each update is a single point-write
  * to the store.
  */
private[graft] class UserTypeModes
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, String), (Long, Long, Long, String, Long)] {
  import org.apache.spark.sql.streaming.{MapState, TimerValues, TTLConfig}

  @transient private var st: MapState[String, Long] = _

  override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                    timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    st = getHandle.getMapState[String, Long]("type_counts",
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaLong,
      TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
      timerValues: TimerValues): Iterator[(Long, Long, Long, String, Long)] = {
    // Drain eagerly: the snapshot must reflect the state at each row.
    val out = rows.map { case (_, t) =>
      val cur = if (st.containsKey(t)) st.getValue(t) else 0L
      st.updateValue(t, cur + 1L)
      var n = 0L
      var nTypes = 0L
      var modeType = ""
      var modeN = -1L
      val it = st.iterator()
      while (it.hasNext) {
        val (typ, c) = it.next()
        nTypes += 1
        n += c
        if (c > modeN || (c == modeN && typ < modeType)) {
          modeN = c; modeType = typ
        }
      }
      (key, n, nTypes, modeType, modeN)
    }.toVector
    out.iterator
  }
}

/** Per-user ListState[value_us] for stream_liststate_median — see the
  * query scaladoc. Each input row appends one value (an O(1) RocksDB
  * point-write) and emits the post-row (count, lower median, sum)
  * snapshot recomputed from the buffered list.
  */
private[graft] class UserValueBuffer
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long), (Long, Long, Long, Long)] {
  import org.apache.spark.sql.streaming.{ListState, TimerValues, TTLConfig}

  @transient private var st: ListState[Long] = _

  override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                    timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    st = getHandle.getListState[Long]("values",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
      timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
    // Drain eagerly: each emission reflects the state AT that row.
    val out = rows.map { case (_, v) =>
      st.appendValue(v)
      val buf = scala.collection.mutable.ArrayBuffer[Long]()
      val it = st.get()
      while (it.hasNext) buf += it.next()
      val sorted = buf.sorted
      val n = sorted.length
      (key, n.toLong, sorted((n - 1) / 2), sorted.sum)
    }.toVector
    out.iterator
  }
}

/** Per-user open-session state + one re-armed event-time timer for
  * stream_session_timers — see the query scaladoc. Emits
  * (user, session event count, session last-seen µs) for every CLOSED
  * session: in-batch gap closures from handleInputRows, idle-timeout
  * closures from handleExpiredTimer.
  */
private[streaming] class SessionTimers(gapUs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long), (Long, Long, Long)] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimerValues,
    TTLConfig, ValueState}

  @transient private var st: ValueState[(Long, Long)] = _

  override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                    timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    st = getHandle.getValueState[(Long, Long)]("open_session",
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong),
      TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                               timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
    // A micro-batch iterator has NO time order — sort before the gap
    // walk (bounded by the user's rows in this batch).
    val ts = rows.map(_._2).toArray
    java.util.Arrays.sort(ts)
    var out = List.empty[(Long, Long, Long)]
    var (n, last) = if (st.exists()) st.get() else (0L, Long.MinValue)
    ts.foreach { t =>
      if (n > 0 && t - last > gapUs) { out = (key, n, last) :: out; n = 0 }
      n += 1
      last = t
    }
    st.update((n, last))
    // exactly one armed timer per user: re-arm at the new idle deadline
    getHandle.listTimers().foreach(e =>
      getHandle.deleteTimer(e.asInstanceOf[Long]))
    getHandle.registerTimer(last / 1000 + gapUs / 1000 + 1)
    out.reverse.iterator
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                  expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long, Long)] =
    if (st.exists()) {
      val (n, last) = st.get()
      st.clear()
      Iterator.single((key, n, last))
    } else Iterator.empty
}
