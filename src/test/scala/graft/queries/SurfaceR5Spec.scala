package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** Invariants of the round-5 surface additions that the hash gate
  * cannot see (the cross-engine value check is the DuckDB gate at
  * sf0.01; these pin the properties a refactor could silently break).
  */
class SurfaceR5Spec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("text_hapax: hapax <= vocab <= tokens, ppm identity, and the " +
       "hapax count matches a direct frequency filter") {
    val rows = TextQueries.hapax(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (tok, voc, hap) = (r.getAs[Long]("n_tokens"),
        r.getAs[Long]("vocab"), r.getAs[Long]("hapax"))
      assert(hap <= voc && voc <= tok)
      assert(r.getAs[Long]("hapax_ppm") === hap * 1000000L / voc)
    }
    // direct recount for one source
    val src = rows.head.getAs[String]("source")
    val direct = Tables.documents(spark, sf)
      .where(col("source") === src)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .where(col("f") === 1L).count()
    assert(rows.head.getAs[Long]("hapax") === direct)
  }

  test("q60_sql_udf: the SQL UDF inlines — same optimized plan and " +
       "values as the hand-written expression") {
    val viaUdf = SparkEntry.queries("q60_sql_udf")(spark, sf)
    val inlined = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax")) * 100 + lit(0.5)).cast("long"))
          .as("net_cents"))
      .orderBy("l_returnflag", "l_linestatus")
    assert(viaUdf.collect().toSeq === inlined.collect().toSeq)
    // no UDF-invocation machinery survives optimization
    val plan = viaUdf.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("invoke"), plan.take(500))
  }

  test("stats_seasonality: seven weekday rows, day counts partition the " +
       "calendar, ppm indexes straddle parity") {
    val rows = SparkEntry.queries("stats_seasonality")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("wd")).toSeq === (0L to 6L))
    val nDays = Tables.orders(spark, sf).select("o_orderdate").distinct().count()
    assert(rows.map(_.getAs[Long]("n_days")).sum === nDays)
    val idx = rows.map(_.getAs[Long]("index_ppm"))
    assert(idx.min <= 1000000L && idx.max >= 1000000L,
      "some weekday must sit at or below average, some at or above")
  }

  test("pipe_preference_pairs: chosen strictly outscores rejected and " +
       "both docs belong to the pair's group") {
    val pairs = SparkEntry.queries("pipe_preference_pairs")(spark, sf).collect()
    assert(pairs.nonEmpty)
    val groupOf = Tables.documents(spark, sf)
      .select("doc_id", "source", "lang").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("source"), r.getAs[String]("lang"))).toMap
    pairs.foreach { r =>
      val g = (r.getAs[String]("source"), r.getAs[String]("lang"))
      assert(groupOf(r.getAs[Long]("chosen_doc")) === g)
      assert(groupOf(r.getAs[Long]("rejected_doc")) === g)
      assert(r.getAs[Long]("chosen_score") >= r.getAs[Long]("rejected_score"))
      assert(r.getAs[Long]("score_gap") ===
        r.getAs[Long]("chosen_score") - r.getAs[Long]("rejected_score"))
      assert(r.getAs[Long]("chosen_doc") !== r.getAs[Long]("rejected_doc"))
    }
  }

  test("q61_null_safe_join: the NULL bucket survives with both sides' " +
       "counts; a plain = join drops it") {
    val rows = SparkEntry.queries("q61_null_safe_join")(spark, sf).collect()
    val nullRow = rows.filter(_.isNullAt(0))
    assert(nullRow.length === 1, "exactly one NULL-key row must match")
    val nCust7 = Tables.customer(spark, sf)
      .where(col("c_custkey") % 100 === 7).count()
    assert(nullRow.head.getAs[Long]("n_cust") === nCust7)
    // row-count identity: every key bucket present on both sides matches
    val plainJoinRows = rows.length - 1
    assert(plainJoinRows >= 90, "mod-100 buckets should nearly all match")
  }

  test("q62_try_arithmetic: null counts identify the failure rows exactly") {
    val rows = SparkEntry.queries("q62_try_arithmetic")(spark, sf).collect()
    val li = Tables.lineitem(spark, sf)
    rows.foreach { r =>
      val flag = r.getAs[String]("l_returnflag")
      val qty25 = li.where(col("l_returnflag") === flag &&
        col("l_quantity") === 25.0).count()
      assert(r.getAs[Long]("div_nulls") === qty25, s"flag $flag div")
      assert(r.getAs[Long]("mod_nulls") === qty25, s"flag $flag mod")
      val ok1 = li.where(col("l_returnflag") === flag &&
        col("l_orderkey") < 2).count()
      assert(r.getAs[Long]("overflow_nulls") === r.getAs[Long]("n") - ok1,
        s"flag $flag overflow")
    }
  }

  test("stream_foreachbatch_upsert: merged table equals the batch rollup " +
       "with no duplicate keys") {
    val got = SparkEntry.queries("stream_foreachbatch_upsert")(spark, sf).collect()
    assert(got.map(r => (r.getLong(0), r.getString(1))).distinct.length
      === got.length, "upsert must leave one row per key")
    val batch = Tables.events(spark, sf)
      .groupBy(expr("(unix_micros(ts) div 3600000000) * 3600")
        .as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("window_start", "event_type")
      .collect()
    assert(got.toSeq === batch.toSeq)
  }

  test("pipe_span_masking: matches a brute-force mask simulation and " +
       "span runs are maximal") {
    val got = SparkEntry.queries("pipe_span_masking")(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").split(" ", -1).length).toMap
    assert(got.length === docs.size)
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val n = docs(id)
      val masked = Array.tabulate(n) { i =>
        (0 to 2).exists(k => i - k >= 0 && (id + i - k) % 7 == 0)
      }
      val spans = masked.indices.count(i => masked(i) && (i == 0 || !masked(i - 1)))
      assert(r.getAs[Long]("n_tokens") === n.toLong, s"doc $id tokens")
      assert(r.getAs[Long]("n_masked") === masked.count(identity).toLong,
        s"doc $id masked")
      assert(r.getAs[Long]("n_spans") === spans.toLong, s"doc $id spans")
    }
  }

  test("sketch_cms_merge: cell-wise addition is lossless and neither " +
       "path's estimate undercounts") {
    val r = SparkEntry.queries("sketch_cms_merge")(spark, sf).head()
    assert(r.getAs[Long]("mismatch_cells") === 0L,
      "CMS linearity: merged cells must equal the whole-table sketch")
    assert(r.getAs[Long]("est_whole") === r.getAs[Long]("est_merged"),
      "equal sketches must give equal estimates")
    assert(r.getAs[Long]("est_whole") >= r.getAs[Long]("n_exact"),
      "CMS is one-sided: estimates never undercount")
  }

  test("graph_hits: L-inf normalization pins the top authority at 1e6, " +
       "scores bounded, deterministic") {
    val a = SparkEntry.queries("graph_hits")(spark, sf).collect()
    val b = SparkEntry.queries("graph_hits")(spark, sf).collect()
    assert(a.toSeq === b.toSeq, "two runs disagree")
    assert(a.nonEmpty && a.head.getAs[Long]("authority_fp") === 1000000L,
      "max-normalization must pin the top score")
    a.foreach(r => assert(r.getAs[Long]("authority_fp") >= 0L &&
      r.getAs[Long]("authority_fp") <= 1000000L))
  }

  test("stats_pareto_front: no emitted point dominates another within " +
       "its brand; each brand's cheapest point survives") {
    val rows = SparkEntry.queries("stats_pareto_front")(spark, sf).collect()
      .map(r => (r.getAs[String]("p_brand"), r.getAs[Int]("p_size"),
        r.getAs[Long]("price_cents")))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (brand, pts) =>
      for (a <- pts; b <- pts if a != b)
        assert(!(b._2 >= a._2 && b._3 <= a._3 && (b._2 > a._2 || b._3 < a._3)),
          s"$brand: $b dominates emitted point $a")
      // the brand's global min price always survives (nothing can have
      // strictly lower price)
      val minP = pts.map(_._3).min
      val all = Tables.part(spark, sf).where(col("p_brand") === brand)
        .agg(min(floor(col("p_retailprice") * 100 + lit(0.5)).cast("long")))
        .head.getLong(0)
      assert(minP === all, s"$brand: cheapest point missing from skyline")
    }
  }

  test("media_silence_trim: trim arithmetic is consistent and the peak " +
       "window is never trimmed") {
    import graft.multimodal.MultimodalQueries
    val trims = SparkEntry.queries("media_silence_trim")(spark, sf)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_windows"), r.getAs[Int]("lead_trim"),
         r.getAs[Int]("tail_trim"), r.getAs[Int]("kept_windows"))).toMap
    assert(trims.nonEmpty)
    trims.values.foreach { case (nw, lead, tail, kept) =>
      assert(lead + tail + kept === nw)
      assert(kept >= 1, "at least the peak window is active")
    }
    SparkEntry.queries("media_audio_energy")(spark, sf).collect()
      .foreach { r =>
        val (nw, lead, tail, _) = trims(r.getAs[Long]("doc_id"))
        val peak = r.getAs[Int]("peak_idx")
        assert(peak >= lead && peak <= nw - 1 - tail,
          "the argmax-energy window must lie inside the kept span")
      }
  }

  test("sim_binary_sign_ann: hamming matches a brute-force sign-bit " +
       "recompute and halves stay in 32-bit range") {
    val got = SparkEntry.queries("sim_binary_sign_ann")(spark, sf).collect()
    assert(got.nonEmpty)
    val sigs = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map { r =>
        val v = r.getSeq[Float](r.fieldIndex("embedding"))
        val bits = java.util.BitSet.valueOf(Array(0L))
        v.zipWithIndex.foreach { case (x, i) => if (x > 0) bits.set(i) }
        r.getAs[Long]("vec_id") -> bits
      }.toMap
    got.foreach { r =>
      val a = sigs(r.getAs[Long]("query_id")).clone().asInstanceOf[java.util.BitSet]
      a.xor(sigs(r.getAs[Long]("neighbor_id")))
      assert(r.getAs[Int]("hamming") === a.cardinality(),
        s"pair ${r.getAs[Long]("query_id")}-${r.getAs[Long]("neighbor_id")}")
      assert(r.getAs[Int]("hamming") >= 0 && r.getAs[Int]("hamming") <= 64)
    }
    // per query: 5 ranked rows, non-decreasing hamming
    got.groupBy(_.getAs[Long]("query_id")).values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq === (1 to 5))
      assert(sorted.map(_.getAs[Int]("hamming")).toSeq ===
        sorted.map(_.getAs[Int]("hamming")).sorted.toSeq)
    }
  }

  test("stats_runs_test: matches a brute-force run walk per group") {
    val daily = Tables.orders(spark, sf)
      .groupBy(col("o_orderpriority").as("g"), col("o_orderdate").as("d"))
      .agg(sum(floor(col("o_totalprice") * lit(100) + lit(0.5)).cast("long"))
        .as("y"))
      .select(col("g"),
        datediff(col("d"), lit("1992-01-01").cast("date")).cast("long").as("x"),
        col("y"))
      .collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("x"), r.getAs[Long]("y")))
      .groupBy(_._1)
    val got = SparkEntry.queries("stats_runs_test")(spark, sf).collect()
    got.foreach { r =>
      val g = r.getAs[String]("o_orderpriority")
      val series = daily(g).sortBy(_._2)
      val ys = series.map(_._3).sorted
      val med = ys((ys.length + 1) / 2 - 1)
      val marks = series.filter(_._3 != med).map(_._3 > med)
      val runs = marks.indices.count(i => i == 0 || marks(i) != marks(i - 1))
      assert(r.getAs[Long]("n_above") === marks.count(identity).toLong, s"$g above")
      assert(r.getAs[Long]("n_below") === marks.count(!_).toLong, s"$g below")
      assert(r.getAs[Long]("n_runs") === runs.toLong, s"$g runs")
    }
  }

  test("io_partition_overwrite: dynamic mode preserves untouched " +
       "partitions and redacts exactly the en partition") {
    val rows = SparkEntry.queries("io_partition_overwrite")(spark, sf).collect()
    val before = Tables.documents(spark, sf)
      .groupBy("lang").agg(count(lit(1)).as("n"), sum("n_chars").as("tc"))
      .collect().map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("n"), r.getAs[Long]("tc"))).toMap
    assert(rows.map(_.getAs[String]("lang")).toSet === before.keySet,
      "static overwrite would have truncated the other partitions")
    rows.foreach { r =>
      val lang = r.getAs[String]("lang")
      assert(r.getAs[Long]("n_docs") === before(lang)._1)
      if (lang == "en")
        assert(r.getAs[Long]("total_chars") === before(lang)._1 * 32L,
          "redacted partition carries md5-length chars")
      else
        assert(r.getAs[Long]("total_chars") === before(lang)._2)
    }
  }
}
