package graft.queries

import graft.SparkSpec

/** The round-trip queries must agree exactly with the same aggregation
  * computed straight off the parquet source — any codec lossiness
  * (type coercion, quoting, null handling) shows up as a mismatch.
  */
class IoQueriesSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def direct(): Seq[String] =
    IoQueries.aggregated(Tables.documents(spark, sfDir))
      .collect().map(_.toString).toSeq

  test("json roundtrip aggregation equals the parquet-direct one") {
    assert(IoQueries.jsonRoundtrip(spark, sfDir).collect().map(_.toString).toSeq
      === direct())
  }

  test("csv roundtrip aggregation equals the parquet-direct one") {
    assert(IoQueries.csvRoundtrip(spark, sfDir).collect().map(_.toString).toSeq
      === direct())
  }

  test("partitioned roundtrip equals parquet-direct and prunes partitions") {
    import org.apache.spark.sql.functions._
    val result = IoQueries.partitionedPruning(spark, sfDir)
    val direct = Tables.documents(spark, sfDir)
      .where(col("lang").isin("en", "zh"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy("lang", "source")
    assert(result.collect().map(_.toString).toSeq
      === direct.collect().map(_.toString).toSeq)
    // the lang filter must reach the scan as a partition filter, not a
    // post-scan predicate over all partitions
    val plan = result.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters:"))
    assert(pf.exists(_.contains("lang")), s"no lang partition filter in:\n$plan")
  }

  test("dpp pruning plans a dynamic-pruning subquery on the fact scan") {
    val result = IoQueries.dppPruning(spark, sfDir)
    result.collect() // force execution so AQE finalizes the plan
    val plan = result.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic-pruning filter on the fact scan in:\n$plan")
  }

  test("csv roundtrip preserves every row verbatim") {
    val s = spark
    val docs = Tables.documents(s, sfDir)
    val dir = java.nio.file.Files.createTempDirectory(Scratch.root, "graft_io_spec")
    try {
      docs.write.mode("overwrite").option("header", "true").csv(dir.toString)
      val back = s.read.schema(docs.schema).option("header", "true").csv(dir.toString)
      assert(back.count() === docs.count())
      assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
    } finally Scratch.deleteRec(dir)
  }

  test("compaction collapses the file count and range-clusters doc_id") {
    // Drop any staged copy so both writes run here: the files inspected
    // below must be this run's, not a previous run's leftovers.
    // (File-system mtimes are compared at whole-second granularity.)
    val testStart = System.currentTimeMillis() / 1000L * 1000L
    Seq("frag", "compact").foreach { tag =>
      graft.queries.Scratch.deleteRec(
        java.nio.file.Paths.get(IoQueries.stageDir(sfDir, tag)))
    }
    IoQueries.compaction(spark, sfDir).collect() // runs both writes
    def parquetFiles(tag: String) = {
      import scala.jdk.CollectionConverters._
      val ls = java.nio.file.Files.list(
        java.nio.file.Paths.get(IoQueries.stageDir(sfDir, tag)))
      val files = try ls.iterator().asScala.toList finally ls.close()
      files.filter(_.toString.endsWith(".parquet")).map { f =>
        val mtime = java.nio.file.Files.getLastModifiedTime(f).toMillis
        assert(mtime >= testStart, s"$f predates the test ($mtime < $testStart)")
        f.toString
      }
    }
    val nFrag = parquetFiles("frag").size
    val compactFiles = parquetFiles("compact")
    assert(nFrag > 10 && compactFiles.size <= 2,
      s"compaction: $nFrag -> ${compactFiles.size} files")
    // range clustering: per-file doc_id bands must not overlap
    val bands = compactFiles.map { f =>
      val ids = spark.read.parquet(f).agg(
        org.apache.spark.sql.functions.min("doc_id"),
        org.apache.spark.sql.functions.max("doc_id")).collect().head
      (ids.getLong(0), ids.getLong(1))
    }.sortBy(_._1)
    bands.sliding(2).foreach {
      case Seq(a, b) => assert(a._2 < b._1, s"overlapping bands $a $b")
      case _ =>
    }
  }

  test("schema evolution: old files read with NULL for the late column") {
    val rows = IoQueries.schemaEvolution(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val n = rows.map(_.getAs[Long]("n_docs")).sum
    val withChars = rows.map(_.getAs[Long]("n_with_chars")).sum
    assert(withChars < n, "old-batch rows must surface NULL n_chars")
    assert(withChars > 0, "new-batch rows must carry n_chars")
  }

  test("delete vectors: read-time anti-join equals a filtered direct scan") {
    import org.apache.spark.sql.functions._
    val result = IoQueries.deleteVectors(spark, sfDir)
    val direct = IoQueries.aggregated(
      Tables.documents(spark, sfDir).where(col("doc_id") % 7 =!= 3))
    assert(result.collect().map(_.toString).toSeq
      === direct.collect().map(_.toString).toSeq)
  }

  test("merge upsert: snapshot row count is base - deletes + inserts, " +
       "updates shift total chars by exactly +1000 each") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir)
    val nBase = docs.count()
    val nDel = docs.where(col("doc_id") % 11 === 0).count()
    val nIns = docs.where(col("doc_id") % 13 === 0).count()
    val nUpd = docs.where(col("doc_id") % 5 === 0 && col("doc_id") % 11 =!= 0)
      .count()
    val rows = IoQueries.mergeUpsert(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === nBase - nDel + nIns)
    val baseChars = docs.agg(sum(col("n_chars"))).head.getLong(0)
    val delChars = docs.where(col("doc_id") % 11 === 0)
      .agg(sum(col("n_chars"))).head.getLong(0)
    val insChars = docs.where(col("doc_id") % 13 === 0)
      .agg(sum(col("n_chars") + 7L)).head.getLong(0)
    assert(rows.map(_.getAs[Long]("total_chars")).sum ===
      baseChars - delChars + insChars + 1000L * nUpd)
  }
}
