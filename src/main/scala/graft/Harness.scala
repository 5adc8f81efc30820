package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe, warm-up and prewarm list shared by
  * [[Bench]], [[Verify]] and [[tools.OptProbe]], so correctness is
  * checked — and probes measure — in exactly the session the bench
  * times.
  */
object Harness {

  /** Local thread count and shuffle partitions: `$SPARK_GRAFT_CPUS`,
    * default 4. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** `local[cpus]` with shuffle partitions = cpus, UTC pinned (the events
    * NTZ normalization and the DuckDB oracles both assume it), UI off,
    * and shuffle/blockmgr scratch on the fast local tier (r15, guide §6;
    * Spark docs: local.dir "should be on a fast, local disk"). Scratch
    * resolves $SPARK_GRAFT_SCRATCH > /dev/shm > tmpdir; in production
    * point the env var at the executor-local NVMe volume. Fails fast
    * and loud if `sfDir`'s tables changed column types (the round-4
    * events drift cost 35 queries).
    */
  def session(sfDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir",
        graft.queries.Scratch.root.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.queries.Tables.check(spark, sfDir)
    spark
  }

  /** Warm the session (executor threads, codegen compiler, shuffle
    * machinery) so the first measured query isn't charged ~4s of JVM
    * startup that every later query gets for free; then touch every
    * input table once (footer reads, Hadoop FS init, OS page cache) so
    * those one-time costs aren't charged to whichever query happens to
    * run first — in earlier rounds that randomly inflated one query by
    * ~6s when Map ordering shifted. nanosAsLong: events.ts is
    * TIMESTAMP(NANOS), unreadable otherwise (see Tables).
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(2000000).selectExpr("sum(id)").collect()
    spark.range(100000).selectExpr("id % 97 AS k", "id AS v")
      .groupBy("k").count().count()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    java.nio.file.Files.list(java.nio.file.Paths.get(sfDir)).forEach { p =>
      if (p.toString.endsWith(".parquet"))
        spark.read.parquet(p.toString).count()
    }
  }

  /** The cross-query memoized tables (CC fixpoint assignments,
    * co-purchase edge set, minhash LSH clusters, …), each built ONCE as
    * its own timed row: these are shared by several queries, so
    * whichever ran first used to absorb the build cost and per-query
    * rows were order-dependent (VERDICT r3 #7); one row per memo shows
    * which build grew round-over-round (VERDICT r4). The `_prewarm_`
    * prefix sorts the rows first. Order matters: the sim row precedes
    * the dedup row because the ANN pair memo built there reads the
    * normalized embedding table, so each row is charged its own build.
    */
  val prewarms: Seq[(String, (SparkSession, String) => Unit)] = {
    import graft.queries._
    Seq(
      "_prewarm_cc_fixpoint" -> ((s, d) => CCQueries.ccCopurchase(s, d).count()),
      "_prewarm_degree_memo" -> ((s, d) =>
        GraphQueries.all("graph_degree_hist")(s, d).count()),
      "_prewarm_minhash_clusters" -> ((s, d) =>
        DedupQueries.all("dedup_minhash_clusters")(s, d).count()),
      "_prewarm_cc_hq_base" -> GraphQueries.prewarmHqBases,
      "_prewarm_graph_memos" -> GraphQueries.prewarmGraphMemos,
      "_prewarm_percolation" -> CCQueries.prewarmPercolation,
      "_prewarm_sim_memos" -> SimilarityQueries.prewarmSimMemos,
      "_prewarm_geo_memos" -> GeoQueries.prewarmGeoMemos,
      "_prewarm_dedup_memos" -> DedupQueries.prewarmDedupMemos,
      // r15: the streaming rows' staged-replay input dirs.
      "_prewarm_stream_stagings" -> graft.streaming.StreamingQueries.prewarmStagings)
  }

  /** Runs [[prewarms]] in order; returns each row's wall seconds. */
  def prewarm(spark: SparkSession, sfDir: String): Seq[(String, Double)] =
    prewarms.map { case (name, build) =>
      val t0 = System.nanoTime()
      build(spark, sfDir)
      name -> (System.nanoTime() - t0) / 1e9
    }
}
