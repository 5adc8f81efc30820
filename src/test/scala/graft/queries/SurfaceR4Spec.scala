package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** Invariants of the round-4 surface additions that the hash gate
  * cannot see: determinism under physical layout changes, estimator
  * accuracy against exact truth, and value-domain bounds.
  */
class SurfaceR4Spec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("graph_lpa is deterministic and covers every node exactly once") {
    val a = SparkEntry.queries("graph_lpa")(spark, sf).collect()
    val b = SparkEntry.queries("graph_lpa")(spark, sf).collect()
    assert(a.toSeq == b.toSeq, "two runs disagree — tie-break is not total")
    val nNodes = Tables.lineitem(spark, sf)
      .select(col("l_partkey")).distinct().count()
    assert(a.map(_.getLong(1)).sum == nNodes,
      "community sizes must partition the node set")
    // The backbone threshold must yield real structure, not one flood.
    assert(a.length > 1, "LPA collapsed to a single community")
  }

  test("sketch_theta_intersect estimate is within 25% of exact truth") {
    val row = SparkEntry.queries("sketch_theta_intersect")(spark, sf).head()
    val est = row.getAs[Long]("est_intersect").toDouble
    val exact = row.getAs[Long]("n_exact").toDouble
    assert(exact > 0, "fixture lost its click∩view overlap")
    // k=128 KMV-style sketch: relative error ~1/sqrt(k) ≈ 9%; 25% is
    // a 3-sigma-ish bound that still catches estimator regressions.
    assert(math.abs(est - exact) / exact < 0.25,
      s"theta estimate $est vs exact $exact drifted")
  }

  test("stats_chi2 cells reconstruct the marginals exactly") {
    val rows = SparkEntry.queries("stats_chi2")(spark, sf).collect()
    val n = rows.map(_.getAs[Long]("obs")).sum
    val nOrders = Tables.orders(spark, sf).count()
    assert(n == nOrders, "contingency cells must partition the table")
    // Every contribution is non-negative and expected counts positive.
    assert(rows.forall(_.getAs[Long]("contrib_micros") >= 0L))
    assert(rows.forall(_.getAs[Long]("e_micros") > 0L))
  }

  test("stats_markov transition probabilities sum to ~1 per from-state") {
    val rows = SparkEntry.queries("stats_markov_transitions")(spark, sf).collect()
    rows.groupBy(_.getAs[String]("from_type")).foreach { case (from, grp) =>
      val pSum = grp.map(_.getAs[Long]("p_micros")).sum
      // Integer division floors each term: sum ∈ (1e6 - |targets|, 1e6].
      assert(pSum > 1000000L - grp.length && pSum <= 1000000L,
        s"$from: probability micros sum $pSum out of bounds")
    }
  }

  test("text_char_gini stays in [0, 1e6) and hits known endpoints") {
    import spark.implicits._
    // Endpoint check on a controlled corpus written as parquet so the
    // query's own reader path is exercised.
    val tmp = java.nio.file.Files.createTempDirectory(Scratch.root, "gini")
    try {
      val dir = tmp.toString
      Seq((1L, "aaaa", "en", "s", 4L), (2L, "abcd", "en", "s", 4L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val r = SparkEntry.queries("text_char_gini")(spark, dir)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("gini_ppm"))
        .toMap
      assert(r(1L) == 0L, "single-char doc must have zero impurity")
      assert(r(2L) == 750000L, "uniform 4-char doc must be 1 - 4/16 = 750000 ppm")
      val real = SparkEntry.queries("text_char_gini")(spark, sf).collect()
      assert(real.forall { x =>
        val g = x.getAs[Long]("gini_ppm"); g >= 0L && g < 1000000L
      })
    } finally Scratch.deleteRec(tmp)
  }

  test("pipe_bpe_merges rank 1 really is the corpus argmax pair") {
    val top = SparkEntry.queries("pipe_bpe_merges")(spark, sf).collect()
    assert(top.length == 20 && top.head.getAs[Int]("rank") == 1)
    val counts = top.map(_.getAs[Long]("n"))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      "merge candidates must be count-descending")
  }

  test("graph_clustering_coeff bands bound the coefficient domain") {
    val rows = SparkEntry.queries("graph_clustering_coeff")(spark, sf).collect()
    assert(rows.length > 1, "degree-band curve collapsed to one band")
    assert(rows.forall { r =>
      val c = r.getAs[Long]("mean_coeff_ppm"); c >= 0L && c <= 1000000L
    })
    assert(rows.forall(_.getAs[Long]("deg_band") >= 1L))
    // Triangle mass must exist on this fixture graph.
    val triTotal = rows.map(_.getAs[Long]("tri_sum")).sum
    assert(triTotal > 0, "fixture graph lost its triangles")
  }

  test("sim_mips_topk ranking is by raw inner product, not cosine") {
    val rows = SparkEntry.queries("sim_mips_topk")(spark, sf).collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    byQuery.foreach { case (_, grp) =>
      val ips = grp.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("ip4"))
      assert(ips.zip(ips.tail).forall { case (a, b) => a >= b },
        "per-query neighbors must be ip-descending")
    }
  }

  private def cents(x: Double): Long = math.floor(x * 100 + 0.5).toLong

  test("stats_ks_test matches a brute-force two-sample D on the raw rows") {
    val o = Tables.orders(spark, sf)
      .select(col("o_orderstatus"), col("o_totalprice")).collect()
    val a = o.filter(_.getString(0) == "F").map(r => cents(r.getDouble(1))).sorted
    val b = o.filter(_.getString(0) == "O").map(r => cents(r.getDouble(1))).sorted
    def cum(xs: Array[Long], v: Long): Long = xs.count(_ <= v).toLong
    val grid = (a ++ b).distinct
    val dNum = grid.map(v => math.abs(b.length * cum(a, v) - a.length * cum(b, v))).max
    val row = SparkEntry.queries("stats_ks_test")(spark, sf).head()
    assert(row.getAs[Long]("na") == a.length.toLong)
    assert(row.getAs[Long]("nb") == b.length.toLong)
    assert(row.getAs[Long]("d_num") == dNum,
      s"KS numerator ${row.getAs[Long]("d_num")} != brute-force $dNum")
  }

  test("stats_mannwhitney matches brute-force 2U and the U_A+U_B identity") {
    val e = Tables.events(spark, sf)
      .select(col("event_type"), col("value")).collect()
    val a = e.filter(_.getString(0) == "purchase").map(r => cents(r.getDouble(1)))
    val b = e.filter(_.getString(0) == "click").map(r => cents(r.getDouble(1)))
    val u2 = a.map(x => 2L * b.count(_ < x) + b.count(_ == x)).sum
    val row = SparkEntry.queries("stats_mannwhitney")(spark, sf).head()
    assert(row.getAs[Long]("u2_a") == u2,
      s"2U ${row.getAs[Long]("u2_a")} != brute-force $u2")
    assert(row.getAs[Long]("u2_a") + row.getAs[Long]("u2_b") ==
      2L * a.length * b.length)
  }

  test("q52_attribution partitions every purchase and conserves revenue") {
    val rows = SparkEntry.queries("q52_attribution")(spark, sf).collect()
    val purchases = Tables.events(spark, sf)
      .where(col("event_type") === "purchase")
      .select(col("value")).collect().map(r => cents(r.getDouble(0)))
    assert(rows.map(_.getAs[Long]("n_purchases")).sum == purchases.length.toLong,
      "attribution buckets must partition the purchase set")
    assert(rows.map(_.getAs[Long]("cents_total")).sum == purchases.sum,
      "attributed revenue must equal total purchase revenue")
    val types = rows.map(_.getAs[String]("touch_type")).toSet
    assert(types.subsetOf(Set("view", "click", "signup", "(none)")))
  }

  test("graph_walk steps traverse real edges from the top-degree starts") {
    val rows = SparkEntry.queries("graph_walk")(spark, sf).collect()
      .map(r => (r.getAs[Long]("walk_id"), r.getAs[Int]("step"),
                 r.getAs[Long]("node")))
    assert(rows.count(_._2 == 0) == 20, "expected 20 walk starts")
    assert(rows.length == 100, "each walk must emit steps 0..4")
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .groupBy(_.getLong(0)).values.map(_.map(_.getLong(1)).toSet)
    val edges = li.flatMap(s => for (a <- s; b <- s; if a < b) yield (a, b)).toSet
    rows.groupBy(_._1).foreach { case (_, walk) =>
      val path = walk.sortBy(_._2).map(_._3)
      path.zip(path.tail).foreach { case (a, b) =>
        assert(a != b && edges.contains((a min b, a max b)),
          s"walk hop $a -> $b is not a co-purchase edge")
      }
    }
  }

  test("sim_pq_assign occupancies partition the corpus in every subspace") {
    val rows = SparkEntry.queries("sim_pq_assign")(spark, sf).collect()
    val n = Tables.embeddings(spark, sf).count()
    rows.groupBy(_.getAs[Long]("sub")).foreach { case (sub, grp) =>
      assert(grp.map(_.getAs[Long]("n_vecs")).sum == n,
        s"subspace $sub: every vector must be assigned exactly one code")
    }
    assert(rows.map(_.getAs[Long]("sub")).toSet == (0L to 7L).toSet)
    assert(rows.forall { r =>
      val c = r.getAs[Long]("code"); c >= 0L && c <= 3L
    })
    assert(rows.forall(_.getAs[Long]("distortion") >= 0L))
  }

  test("stream_outer_join pair count equals the batch interval join's") {
    val rows = SparkEntry.queries("stream_outer_join")(spark, sf).collect()
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), expr("unix_micros(ts)").as("us"))
    val c = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("us").as("cus"))
    val p = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("us").as("pus"))
    val nPairs = c.join(p, col("user_id") === col("pu") &&
      col("pus") >= col("cus") &&
      col("pus") <= col("cus") + lit(3600000000L)).count()
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == nPairs,
      "outer join must emit exactly the inner-join matches as pairs")
    val nClicks = c.count()
    val nExpired = rows.map(_.getAs[Long]("n_expired")).sum
    assert(nExpired > 0L, "fixture must contain expired unmatched clicks")
    assert(nExpired <= nClicks)
  }

  test("text_novelty: every distinct gram is novel exactly once") {
    val rows = SparkEntry.queries("text_novelty")(spark, sf).collect()
    val nDistinct = Tables.documents(spark, sf)
      .select(explode(graft.functions.TrigramHashes(
        split(col("text"), " "))).as("g"))
      .select("g").distinct().count()
    assert(rows.map(_.getAs[Long]("novel_grams")).sum == nDistinct,
      "per-source novel grams must sum to the corpus-distinct gram count")
    assert(rows.forall { r =>
      r.getAs[Long]("novel_grams") <= r.getAs[Long]("total_grams")
    })
  }

  test("sketch_bloom_fp has zero false negatives on the build keys") {
    // Re-probe the filter with the BUILD keyspace: every key must hit
    // all 3 positions (the Bloom contract the FP audit presumes).
    val row = SparkEntry.queries("sketch_bloom_fp")(spark, sf).head()
    assert(row.getAs[Long]("n_fp") * 100L <= row.getAs[Long]("n_probes"),
      "false-positive rate implausibly high for m=65536, k=3")
    val p = 2147483647L
    val m = 65536L
    val as = Seq(2654435761L % p, 2246822519L % p, 3266489917L % p)
    val bs = Seq(1013904223L, 374761393L, 668265263L)
    val keys = Tables.customer(spark, sf).select("c_custkey")
      .collect().map(_.getLong(0))
    val bits = keys.flatMap(k =>
      as.zip(bs).map { case (a, b) => ((k * a + b) % p) % m }).toSet
    assert(keys.forall(k => as.zip(bs).forall { case (a, b) =>
      bits.contains(((k * a + b) % p) % m)
    }), "a build key missed its own positions — false negative")
  }

  test("q53_rolling_slope matches a brute-force OLS fit per window") {
    val daily = Tables.orders(spark, sf)
      .groupBy(col("o_orderdate").as("d"))
      .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("bigint"))
        .as("y"))
      .collect().map(r => (r.getAs[Any]("d").toString, r.getAs[Long]("y")))
      .sortBy(_._1)
    val got = SparkEntry.queries("q53_rolling_slope")(spark, sf)
      .collect()
      .map(r => r.getAs[Any]("d").toString ->
        r.getAs[Long]("slope_cents_per_day"))
      .toMap
    assert(got.size == daily.length - 6)
    daily.sliding(7).foreach { w =>
      val ys = w.map(_._2)
      val num = 7L * ys.zipWithIndex.map { case (y, i) => i * y }.sum -
        21L * ys.sum
      assert(got(w.last._1) == num / 196L,
        s"slope at ${w.last._1} diverges from brute-force OLS")
    }
  }

  test("stats_autocorr stays in [-1, 1] and matches brute force") {
    val row = SparkEntry.queries("stats_autocorr")(spark, sf).head()
    val r1 = row.getAs[Long]("r1_micros")
    assert(r1 >= -1000000L && r1 <= 1000000L)
    val daily = Tables.orders(spark, sf)
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("bigint"))
        .as("y"))
      .collect().map(r => (r.getAs[Any]("day").toString, r.getAs[Long]("y")))
      .sortBy(_._1).map(_._2.toDouble)
    val m = daily.sum / daily.length
    val num = daily.zip(daily.tail).map { case (a, b) => (a - m) * (b - m) }.sum
    val den = daily.map(y => (y - m) * (y - m)).sum
    assert(math.abs(r1 / 1e6 - num / den) < 1e-4,
      s"r1 ${r1 / 1e6} vs brute-force ${num / den}")
  }

  test("er_blocking_audit pair counts are consistent with block sizes") {
    val rows = SparkEntry.queries("er_blocking_audit")(spark, sf).collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      val mx = r.getAs[Long]("max_block")
      assert(r.getAs[Long]("cand_pairs") >= mx * (mx - 1) / 2,
        "candidate pairs must at least cover the largest block")
      assert(r.getAs[Long]("pairs_ppm") <= 1000000L)
    }
  }

  test("pipe_epoch_shuffle epochs are deterministic and distinct") {
    val a = SparkEntry.queries("pipe_epoch_shuffle")(spark, sf).collect()
    val b = SparkEntry.queries("pipe_epoch_shuffle")(spark, sf).collect()
    assert(a.toSeq == b.toSeq, "reshuffle must be reproducible")
    val byEpoch = a.groupBy(_.getAs[Long]("epoch"))
      .map { case (e, g) => e -> g.sortBy(_.getAs[Long]("rank"))
        .map(_.getAs[Long]("doc_id")).toSeq }
    assert(byEpoch.size == 3)
    assert(byEpoch.values.toSet.size == 3,
      "different epochs must present different head orders")
  }

  test("stats_cusum top row is the global argmax of |N*S_k|") {
    val daily = Tables.events(spark, sf)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy("day").agg(count(lit(1)).as("x"))
      .collect().map(r => (r.getAs[Long]("day"), r.getAs[Long]("x")))
      .sortBy(_._1)
    val n = daily.length.toLong
    val total = daily.map(_._2).sum
    var cum = 0L
    val s = daily.zipWithIndex.map { case ((day, x), i) =>
      cum += x; (day, n * cum - (i + 1) * total)
    }
    val best = s.maxBy { case (day, v) => (math.abs(v), -day) }
    val rows = SparkEntry.queries("stats_cusum")(spark, sf).collect()
    assert(rows.length == 5)
    assert(rows.head.getAs[Long]("day") == best._1)
    assert(rows.head.getAs[Long]("s_scaled") == best._2)
    val absVals = rows.map(r => math.abs(r.getAs[Long]("s_scaled")))
    assert(absVals.zip(absVals.tail).forall { case (x, y) => x >= y },
      "top-5 must be |s|-descending")
  }

  test("graph_shortest_path histogram: sources at 0, bounded by 6 max-weight hops") {
    val rows = SparkEntry.queries("graph_shortest_path")(spark, sf).collect()
    val hist = rows.map(r => (r.getAs[Long]("d"), r.getAs[Long]("n_nodes"))).toMap
    // Every source (graph node with id % 97 == 0) must sit at distance 0.
    val nSources = Tables.lineitem(spark, sf)
      .select(col("l_partkey")).distinct()
      .where(col("l_partkey") % 97 === 0).count()
    assert(nSources > 0, "fixture lost its % 97 seed nodes")
    assert(hist.getOrElse(0L, 0L) == nSources,
      s"distance-0 count ${hist.get(0L)} must equal source count $nSources")
    // Hop budget 6, max edge weight 9 ⇒ no distance can exceed 54.
    assert(rows.forall { r => val d = r.getAs[Long]("d"); d >= 0 && d <= 54 })
    // Reached set can't exceed the node universe.
    val nNodes = Tables.lineitem(spark, sf)
      .select(col("l_partkey")).distinct().count()
    assert(rows.map(_.getAs[Long]("n_nodes")).sum <= nNodes)
  }

  test("media_scene_cuts rows are video-only, self-consistent, deterministic") {
    val a = SparkEntry.queries("media_scene_cuts")(spark, sf).collect()
    val b = SparkEntry.queries("media_scene_cuts")(spark, sf).collect()
    assert(a.toSeq == b.toSeq, "scene cuts must be deterministic")
    assert(a.nonEmpty, "threshold stopped firing — corpus or codec drifted")
    a.foreach { r =>
      assert(r.getAs[Long]("doc_id") % 3 == 2, "cuts must come from videos")
      assert(r.getAs[Int]("frame_idx") >= 1, "frame 0 has no predecessor")
      assert(r.getAs[Long]("jump") ==
        math.abs(r.getAs[Long]("energy") - r.getAs[Long]("prev_energy")),
        "jump must be the energy delta")
    }
  }

  test("q54_window_distinct counts stay within the event-type alphabet") {
    val rows = SparkEntry.queries("q54_window_distinct")(spark, sf).collect()
    val nTypes = Tables.events(spark, sf)
      .select(col("event_type")).distinct().count()
    rows.foreach { r =>
      val maxT = r.getAs[Long]("max_types_1h")
      assert(maxT >= 1 && maxT <= nTypes,
        s"max_types_1h $maxT outside [1, $nTypes]")
      // Each per-event count is ≥ 1, so the sum dominates the count.
      assert(r.getAs[Long]("sum_types_1h") >= r.getAs[Long]("n_events"))
    }
    val nEvents = Tables.events(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_events")).sum == nEvents,
      "per-user rows must partition the event table")
  }

  test("text_boilerplate fractions are consistent with the 5-gram census") {
    val rows = SparkEntry.queries("text_boilerplate")(spark, sf).collect()
    rows.foreach { r =>
      val n = r.getAs[Long]("n_grams"); val b = r.getAs[Long]("n_boiler")
      assert(b >= 0 && b <= n, "boiler occurrences must be a subset")
      assert(r.getAs[Long]("boiler_ppm") == b * 1000000L / n)
    }
    // Total occurrences must equal sum over docs of (words - 4).
    val expected = Tables.documents(spark, sf)
      .select((size(split(col("text"), " ")) - 4).cast("long").as("g"))
      .where(col("g") >= 1).agg(sum(col("g"))).head.getLong(0)
    assert(rows.map(_.getAs[Long]("n_grams")).sum == expected)
  }

  test("er_golden survivors are real records carrying the cluster max price") {
    val rows = SparkEntry.queries("er_golden")(spark, sf).collect()
    assert(rows.nonEmpty, "fixture lost its multi-name entities")
    val parts = Tables.part(spark, sf)
      .select(col("p_partkey").cast("long").as("pk"),
        floor(col("p_retailprice") * 100 + lit(0.5)).cast("long").as("pc"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_names") >= 2, "golden emits only merged entities")
      assert(r.getAs[Long]("n_records") >= r.getAs[Long]("n_names"))
      // The surviving record must exist and carry its claimed price.
      assert(parts(r.getAs[Long]("golden_partkey")) ==
        r.getAs[Long]("golden_price_cents"))
    }
  }

  test("cc_decremental equals a from-scratch solve of the surviving graph") {
    import graft.cc.{ConnectedComponents, EdgeBuilder}
    val maintained = SparkEntry.queries("cc_decremental")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val li = Tables.lineitem(spark, sf).where(col("l_quantity") >= 45)
      .where(col("l_orderkey") % 10 =!= 3)
    val scratch = ConnectedComponents.runContracted(EdgeBuilder.starEdges(
        li.groupBy("l_orderkey").agg(collect_set(col("l_partkey")).as("nodes"))))
      .assignments.collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("component"))).toMap
    assert(maintained == scratch,
      "maintenance must be indistinguishable from never having the deletions")
    // The fixture must actually delete something, or the test is vacuous.
    val allNodes = Tables.lineitem(spark, sf).where(col("l_quantity") >= 45)
      .select(col("l_partkey")).distinct().count()
    assert(maintained.size < allNodes,
      "deleting %10==3 orders must remove at least one node entirely")
  }

  test("stream_cc_incremental and stream_cc_decremental equal from-scratch solves") {
    import graft.cc.{ConnectedComponents, EdgeBuilder}
    def scratch(keep: org.apache.spark.sql.Column): Map[Long, Long] = {
      val li = Tables.lineitem(spark, sf).where(col("l_quantity") >= 45).where(keep)
      ConnectedComponents.runContracted(EdgeBuilder.starEdges(
          li.groupBy("l_orderkey").agg(collect_set(col("l_partkey")).as("nodes"))))
        .assignments.collect()
        .map(r => (r.getAs[Long]("node"), r.getAs[Long]("component"))).toMap
    }
    def maintained(name: String): Map[Long, Long] = {
      val rows = SparkEntry.queries(name)(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.map(_._1).distinct.length == rows.length,
        s"$name labels some node twice")
      rows.toMap
    }
    val full = maintained("stream_cc_incremental")
    assert(full == scratch(lit(true)),
      "add-stream maintenance must equal a solve of the full graph")
    val surviving = maintained("stream_cc_decremental")
    assert(surviving == scratch(col("l_orderkey") % 10 =!= 3),
      "delete-stream maintenance must equal a solve of the surviving graph")
    assert(surviving.size < full.size, "the delete batch must remove a node")
  }

  test("sketch_ams_f2 estimate is within its asserted 25% of exact truth") {
    val row = SparkEntry.queries("sketch_ams_f2")(spark, sf).head()
    assert(row.getAs[Long]("f2_exact") > 0)
    assert(row.getAs[Long]("f2_est") > 0, "sign sums degenerated to zero")
    assert(row.getAs[Boolean]("ams_within_25pct"),
      s"AMS estimate ${row.getAs[Long]("f2_est")} drifted beyond 25% of " +
        s"${row.getAs[Long]("f2_exact")}")
  }

  test("pipe_temperature_mix flattens shares toward uniform, budget conserved") {
    val rows = SparkEntry.queries("pipe_temperature_mix")(spark, sf).collect()
    assert(rows.length >= 2, "need a multilingual fixture")
    val maxRow = rows.maxBy(_.getAs[Long]("n_docs"))
    val minRow = rows.minBy(_.getAs[Long]("n_docs"))
    // α = 0.5 must compress the range: the biggest language loses
    // share, the smallest gains (strictly, unless already uniform).
    if (maxRow.getAs[Long]("n_docs") != minRow.getAs[Long]("n_docs")) {
      assert(maxRow.getAs[Long]("alpha05_ppm") < maxRow.getAs[Long]("uniform_ppm"))
      assert(minRow.getAs[Long]("alpha05_ppm") > minRow.getAs[Long]("uniform_ppm"))
    }
    // Floored ppm shares must sum to 1e6 within one ulp per language.
    val aSum = rows.map(_.getAs[Long]("alpha05_ppm")).sum
    assert(aSum > 1000000L - rows.length && aSum <= 1000000L)
    assert(rows.map(_.getAs[Long]("alloc_100k")).sum <= 100000L)
  }

  test("stats_bootstrap_ci interval is ordered and brackets the point estimate") {
    val row = SparkEntry.queries("stats_bootstrap_ci")(spark, sf).head()
    val lo = row.getAs[Long]("ci_lo"); val hi = row.getAs[Long]("ci_hi")
    val mean = row.getAs[Long]("mean_all")
    assert(lo < hi, "degenerate interval")
    assert(lo <= mean && mean <= hi,
      s"mean $mean outside bootstrap interval [$lo, $hi]")
  }

  test("dedup_containment is genuinely asymmetric and within bounds") {
    val rows = SparkEntry.queries("dedup_containment")(spark, sf).collect()
    assert(rows.nonEmpty, "fixture lost its subset documents")
    rows.foreach { r =>
      val ppm = r.getAs[Long]("containment_ppm")
      assert(ppm >= 500000L && ppm <= 1000000L)
      assert(r.getAs[Long]("contained") != r.getAs[Long]("container"))
      assert(r.getAs[Long]("inter") <= r.getAs[Long]("na"))
    }
    // The point of containment over Jaccard: the score must depend on
    // the DIRECTION. On this fixture both directions of every planted
    // near-dup clear 50%, so the asymmetry shows in the values: the
    // same doc pair scores differently under each normalizer whenever
    // the gram sets differ in size.
    val ppm = rows.map(r =>
      (r.getAs[Long]("contained"), r.getAs[Long]("container")) ->
        r.getAs[Long]("containment_ppm")).toMap
    assert(ppm.exists { case ((a, b), v) => ppm.get((b, a)).exists(_ != v) },
      "no pair scored direction-dependently — normalizer is not |A|")
  }

  test("stats_theilsen pair count is exactly C(days, 2) per priority") {
    val rows = SparkEntry.queries("stats_theilsen")(spark, sf).collect()
    assert(rows.length == 5, "one row per order priority")
    val days = Tables.orders(spark, sf)
      .groupBy("o_orderpriority")
      .agg(countDistinct(col("o_orderdate")).as("d"))
      .collect()
      .map(r => r.getAs[String]("o_orderpriority") -> r.getAs[Long]("d"))
      .toMap
    rows.foreach { r =>
      val g = r.getAs[String]("o_orderpriority")
      val d = days(g)
      assert(r.getAs[Long]("n_pairs") == d * (d - 1) / 2,
        s"$g: pair count must be C($d, 2)")
    }
  }
}
