package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

import graft.cc.{CliqueGen, ConnectedComponents, EdgeBuilder, Tuning}

/** Scale probe for the CC front door (VERDICT r3 #4): generates a
  * CliqueGen graph 10-100x the sf0.1 bench graph, runs BOTH
  * `runContracted` (the 100 TB path) and the plain alternating fixpoint
  * on the same edges, and validates labels against CliqueGen's ground
  * truth. The `contracted`, `plain` and `giant` runs also print each
  * fixpoint round's (large, small) change counts (`CCResult.rounds`).
  *
  * Usage: runMain graft.tools.CCScaleProbe [nBlocks] [mode]
  * (nBlocks=1000 ~ 4M edges, 5000 ~ 20M, 25000 ~ 100M;
  * mode = all | contracted | plain | incremental | giant — split the
  * biggest runs).
  *
  * `giant` (r10 verdict item 2) is the adversarial SINGLE-component
  * probe: args are
  * `<nNodes> giant <new|contracted|incremental|reliable|mix [nBlocks]>`
  * (`mix`, r11 verdict item 3, unions the tree with `nBlocks` CliqueGen
  * blocks offset above it — the mega-cluster-plus-long-tail shape real
  * dedup corpora have — and checks both populations' labels exactly)
  * — the shapes cover the min-join fixpoint, the two-phase contraction
  * front door, and the label-maintenance front door (K=10⁶ new nodes
  * attached to the standing component via IncrementalCC.applyDelta,
  * with closed-form standing labels so the delta pass is measured
  * alone). The graph is the
  * binary tree `(i, i div 2)` for i in [1, nNodes) — one component of
  * nNodes members, nNodes-1 edges, deterministic, no RNG. Near
  * convergence every edge is `(n, 0)`, so the large star's group for
  * node 0 holds the ENTIRE component: the min-join shape
  * ([[graft.cc.StarOps]]) keeps per-key state O(1) there and lets AQE
  * skew-split the join, where the round-10 collect_set shape held
  * O(component) state in one task (SCALE.md "giant component": OOM at
  * 48g). This is the 100 TB boilerplate-mega-cluster case from the
  * dedup pipelines.
  *
  * `incremental` (r5 verdict item 5) probes the label-MAINTENANCE path
  * at scale: base fixpoint on 90% of the blocks' star edges, then the
  * [[graft.queries.GraphQueries.ccIncremental]] composition for the
  * remaining 10% — the claim under test is that the delta pass costs
  * O(delta + join-against-base), NOT another full fixpoint, while the
  * composed labels stay exact against ground truth.
  *
  * Every run reports PEAK cached storage (max over 250ms samples of
  * all cached/checkpointed RDD mem+disk) — the number that must not
  * grow superlinearly with the graph, or a 1000-executor run evicts.
  */
object CCScaleProbe {
  def main(args: Array[String]): Unit = {
    val nBlocks = args.headOption.map(_.toInt).getOrElse(5000)
    val mode = args.drop(1).headOption.getOrElse("all")
    // The giant-run settings (rdd compression, zstd codec,
    // ratio-derived AQE advisory size, frequent periodic GC) live in
    // graft.cc.Tuning with their measurements — the probes consume the
    // library preset so preset and probe cannot drift (VERDICT r11 #1).
    val spark = Tuning.configure(SparkSession.builder())
      .master(s"local[${graft.Harness.cpus}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      .config("spark.driver.memory", "16g")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      System.err.println(f"[probe] $label ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }

    time("warmup") { spark.range(2000000).selectExpr("sum(id)").collect() }

    // Peak cached-storage sampler: localCheckpoints live in the block
    // manager, so the max over samples bounds the fixpoint's working
    // set (current + previous round while the swap happens).
    @volatile var peakStorage = 0L
    @volatile var peakHeap = 0L
    // The reliable-checkpoint leg (VERDICT r12 #4) watches its
    // checkpoint dir too: peak on-disk draw is the number that decides
    // whether superseded-round file GC works — without it a fixpoint
    // holds rounds × round-size of cluster storage.
    @volatile var ckptWatch: Option[java.nio.file.Path] = None
    @volatile var peakCkptBytes = 0L
    def dirBytes(d: java.nio.file.Path): Long = {
      import java.nio.file.Files
      var sum = 0L
      // ADVICE r13: the whole body (including Files.walk creation — the
      // dir can vanish between isDirectory and walk under racing
      // checkpoint-file GC) sits inside the catch so no IOException can
      // escape into the sampler thread.
      try {
        if (Files.isDirectory(d)) {
          val w = Files.walk(d)
          try {
            val it = w.iterator()
            while (it.hasNext) {
              val p = it.next()
              try { if (Files.isRegularFile(p)) sum += Files.size(p) }
              catch { case _: java.io.IOException => () }
            }
          } finally w.close()
        }
      } catch { case _: Exception => () } // racing checkpoint-file GC
      sum
    }
    val sampler = new Thread(() => {
      var run = true
      while (run) {
        // ADVICE r13: a transient exception in one tick (storage-info
        // race, dir churn) must not end sampling for the rest of the
        // run — only interruption stops the thread.
        try {
          val s = spark.sparkContext.getRDDStorageInfo
            .map(i => i.memSize + i.diskSize).sum
          if (s > peakStorage) peakStorage = s
          val rt = Runtime.getRuntime
          val h = rt.totalMemory() - rt.freeMemory()
          if (h > peakHeap) peakHeap = h
          ckptWatch.foreach { d =>
            val b = dirBytes(d)
            if (b > peakCkptBytes) peakCkptBytes = b
          }
          Thread.sleep(250)
        } catch {
          case _: InterruptedException => run = false
          case _: Exception => ()
        }
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    // The 100 TB front door: partition-local contraction + inner solve.
    // smallGraphThreshold=0 forces the distributed fixpoint on the rep
    // graph so the probe measures the path a real cluster would take on
    // a graph whose rep set outgrows the driver.
    // Lazy: giant mode interprets args(0) as a raw NODE count (10⁷-10⁸)
    // and computes its own closed-form check — materializing block
    // ground truth for that many BLOCKS (~300 nodes each) here would
    // checkpoint billions of rows before the probe's first job.
    lazy val truth = CliqueGen.groundTruth(spark, nBlocks).localCheckpoint()
    def mismatches(label: String, got: org.apache.spark.sql.DataFrame): Unit = {
      val bad = got.join(truth, "node")
        .where(got("component") =!= truth("component")).count()
      val missing = truth.join(got, Seq("node"), "left_anti").count()
      System.err.println(s"[probe] $label vs ground truth: wrong=$bad missing=$missing")
      require(bad == 0 && missing == 0, s"$label diverged from ground truth")
    }

    // Round-robin repartition: CliqueGen emits each block inside ONE
    // task, which would hand the partition-local contraction its best
    // case (every component task-local, one rep per node). Scattering
    // the edges mimics how a real corpus arrives — components smeared
    // across every task — which is the case the contraction must beat.
    // SPARK_GRAFT_SCATTER sizes the input partitions: the fixpoint's
    // map-side aggregation state (the (self, nbr) dedup and the
    // min/count partials) is proportional to edges/partition,
    // so a halved heap needs proportionally more (smaller) partitions
    // — the same sizing a real cluster does with
    // spark.sql.files.maxPartitionBytes (round-10 probe: 32 partitions
    // × 12M edges OOM'd the map-side aggregation at 48g; 128 × 3M fits).
    val scatter = sys.env.getOrElse("SPARK_GRAFT_SCATTER", "32").toInt
    lazy val edges = {
      val e = time(s"generate nBlocks=$nBlocks (cliques -> edges, scattered x$scatter, checkpointed)") {
        val x = EdgeBuilder.cliqueEdgesGen(CliqueGen.cliques(spark, nBlocks))
          .repartition(scatter)
          .localCheckpoint()
        x.count()
        x
      }
      val nEdges = e.count()
      val nNodes = e.select(col("src").as("n"))
        .union(e.select(col("dst"))).distinct().count()
      System.err.println(s"[probe] graph: $nEdges edges (with duplicates), $nNodes nodes")
      e
    }

    if (mode == "incremental") {
      import org.apache.spark.sql.DataFrame
      // Delta fraction = 1/denom of the blocks (arg 3, default 10 →
      // 10% delta; 100 → the realistic ~1%-daily-ingest shape).
      val denom = args.drop(2).headOption.map(_.toInt).getOrElse(10)
      val all = CliqueGen.cliques(spark, nBlocks)
      def starScattered(p: org.apache.spark.sql.Column): DataFrame = {
        val e = EdgeBuilder.starEdges(all.where(p)).repartition(scatter)
          .localCheckpoint()
        e.count(); e
      }
      val baseEdges = time(s"base edges (${denom - 1}/$denom of blocks, scattered)") {
        starScattered(col("block") % denom =!= 7 % denom) }
      val base = time("base fixpoint") {
        val r = ConnectedComponents.runContracted(baseEdges,
          smallGraphThreshold = 0)
        val a = r.assignments.localCheckpoint(); a.count(); a
      }
      val delta = time(s"delta edges (1/$denom of blocks)") {
        starScattered(col("block") % denom === 7 % denom) }
      // The ccIncremental composition (GraphQueries.scala): contract
      // delta endpoints through base labels, solve the small label
      // graph, relabel touched base components, union never-seen nodes.
      val composed = time("delta maintenance pass") {
        val c = graft.cc.IncrementalCC.applyDelta(base, delta)
          .localCheckpoint(); c.count(); c
      }
      mismatches("incremental composition", composed)
      // Like-for-like comparison: what NOT maintaining would cost.
      val fullEdges = time("full edges (100% of blocks, scattered)") {
        starScattered(lit(true)) }
      val full = time("from-scratch full solve") {
        val r = ConnectedComponents.runContracted(fullEdges,
          smallGraphThreshold = 0)
        val a = r.assignments.localCheckpoint(); a.count(); a
      }
      mismatches("from-scratch", full)
    }

    if (mode == "all" || mode == "contracted") {
      val contracted = time("runContracted (forced distributed inner)") {
        val r = ConnectedComponents.runContracted(edges, smallGraphThreshold = 0)
        r.assignments.localCheckpoint().count()
        r
      }
      System.err.println(s"[probe] contracted: converged=${contracted.converged} " +
        s"innerIterations=${contracted.iterations} rounds=${contracted.rounds}")
      mismatches("contracted", contracted.assignments)
    }

    // The undecorated alternating fixpoint on the raw edges — the
    // reference's own algorithm at this scale (iteration parity check:
    // reference README claims <=6 at 10^11 nodes).
    if (mode == "all" || mode == "plain") {
      val plain = time("plain alternating fixpoint") {
        val r = ConnectedComponents.run(edges)
        r.assignments.localCheckpoint().count()
        r
      }
      System.err.println(s"[probe] plain: converged=${plain.converged} " +
        s"iterations=${plain.iterations} rounds=${plain.rounds}")
      mismatches("plain", plain.assignments)
    }
    if (mode == "preview") {
      // Isolated componentsPreview measurement (r13 verdict #3 tail):
      // the live-giant preview number depends on the session the
      // fixpoint left behind (thread count, heap at the ceiling, GC
      // churn), which confounded the post-fix 10⁸ re-leg. This mode
      // times the aggregate alone: closed-form assignments with the
      // converged giant's exact shape — a mega-component holding 90%
      // of rows plus a long tail of 100-member components — built
      // fresh, checkpointed, then previewed twice (the repeat shows
      // cache-state sensitivity). args: `<nRows> preview`.
      val n = nBlocks.toLong
      val cut = n / 10L * 9L
      val assign = spark.range(0L, n).select(
        col("id").as("node"),
        when(col("id") < cut, lit(0L))
          .otherwise(expr("(id div 100) * 100")).as("component"))
      val chk = time("materialize closed-form assignments") {
        val c = assign.localCheckpoint(); c.count(); c
      }
      for (rep <- 1 to 2) {
        val rows = time(s"componentsPreview rep $rep (mega row)") {
          ConnectedComponents.componentsPreview(chk, 100)
            .where(col("component") === 0L).collect()
        }
        require(rows.length == 1, s"expected one mega row, got ${rows.length}")
        val pv = rows(0)
        require(pv.getLong(1) == cut && pv.getLong(2) == 0L &&
          pv.getSeq[Long](3) == (0L until 100L).toSeq,
          "mega-component preview row diverged")
      }
      val tail = ConnectedComponents.componentsPreview(chk, 100)
        .where(col("component") =!= 0L)
      val tailN = tail.count()
      val badTail = tail.where(col("n_members") =!= 100L).count()
      System.err.println(
        s"[probe] preview tail: $tailN components, $badTail not 100-sized")
      require(tailN == (n - cut + 99L) / 100L, "tail component count diverged")
      // every tail group is full when (n - cut) divides evenly; at most
      // the last one is partial otherwise
      require(badTail <= (if ((n - cut) % 100L == 0L) 0L else 1L),
        s"$badTail mis-sized tail components")
    }
    if (mode == "giant") {
      val nNodes = nBlocks.toLong // first arg is the raw node count here
      val shape = args.drop(2).headOption.getOrElse("new")
      // NOT checkpointed, deliberately: the tree is closed-form range
      // arithmetic (regenerating it costs less than reading a cache),
      // and a 100M-row deserialized localCheckpoint costs ~2 orders of
      // magnitude more storage than the data (measured: it filled this
      // box's disk) — the probe's storage budget belongs to the
      // fixpoint's own per-round checkpoints.
      val tree = spark.range(1L, nNodes)
        .select(col("id").as("src"), shiftright(col("id"), 1).as("dst"))
      time("tree row count")(tree.count())
      // `incremental` grows the expected node set: K new nodes attach
      // to the standing giant component through the delta. Capped at
      // nNodes/2 so small smoke runs stay valid — the delta chain
      // attaches at node deltaId+1, which must exist in the base
      // (ADVICE r11: an uncapped 10⁶ against a small nNodes attached
      // part of the delta to missing nodes and failed the closed-form
      // check spuriously).
      val deltaK = math.min(1000000L, nNodes / 2)
      // Reliable-checkpoint dir prep for the `reliable` shape: wipe
      // (guarded), register with the context, watch it.
      def prepReliableCkptDir(): Unit = {
        val dir = sys.env.getOrElse("SPARK_GRAFT_CKPT_DIR",
          "/tmp/graft_probe_ckpt")
        // fresh dir: a previous run's surviving FINAL checkpoint
        // would inflate this run's peak/final accounting — the
        // numbers that demonstrate superseded-round GC works.
        // ADVICE r13: refuse to wipe a directory that isn't
        // checkpoint-shaped — pointing SPARK_GRAFT_CKPT_DIR at an
        // existing unrelated directory must not silently destroy
        // it. Spark checkpoint roots contain only UUID session
        // dirs (which hold rdd-N subdirs); anything else aborts.
        val root = java.nio.file.Paths.get(dir)
        if (java.nio.file.Files.isDirectory(root)) {
          val uuidRe =
            "[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-" +
            "[0-9a-fA-F]{4}-[0-9a-fA-F]{12}"
          val entries = {
            val s = java.nio.file.Files.list(root)
            try s.iterator().asScala.toVector finally s.close()
          }
          val foreign = entries.filterNot { p =>
            p.getFileName.toString.matches(uuidRe) &&
              java.nio.file.Files.isDirectory(p)
          }
          require(foreign.isEmpty,
            s"refusing to wipe $dir: contains non-checkpoint " +
            s"entries ${foreign.take(3).mkString(", ")} — point " +
            "SPARK_GRAFT_CKPT_DIR at an empty or checkpoint-only " +
            "directory")
          val w = java.nio.file.Files.walk(root)
          try w.sorted(java.util.Comparator.reverseOrder())
            .filter(p => p != root)
            .forEach(p => java.nio.file.Files.deleteIfExists(p))
          finally w.close()
        }
        spark.sparkContext.setCheckpointDir(dir)
        ckptWatch = Some(root)
      }
      val labels = time(s"giant fixpoint shape=$shape") {
        shape match {
          case "contracted" =>
            // The two-phase front door on the SAME adversarial graph:
            // range partitions hold contiguous id spans, so each task's
            // union-find contracts its (i, i>>1) edges locally and the
            // inner fixpoint solves the cross-partition rep graph.
            val r = ConnectedComponents.runContracted(tree,
              smallGraphThreshold = 0)
            require(r.converged, "contracted inner solve did not converge")
            System.err.println(
              s"[probe] giant contracted: innerIterations=${r.iterations} rounds=${r.rounds}")
            r.assignments
          case "incremental" =>
            // The MAINTENANCE front door against a standing 10⁸-member
            // component: the claim under test is that attaching K new
            // nodes costs join passes over the standing table, never a
            // re-solve of the giant component. Standing labels for the
            // tree are closed-form (everything is component 0) — the
            // probe measures exactly the applyDelta composition.
            val base = spark.range(0L, nNodes)
              .select(col("id").as("node"), lit(0L).as("component"))
            val delta = spark.range(0L, deltaK)
              .select((col("id") + nNodes).as("src"), (col("id") + 1L).as("dst"))
            graft.cc.IncrementalCC.applyDelta(base, delta)
          case "mix" =>
            // The mixed-shape probe (VERDICT r11 #3): real dedup corpora
            // are not ONE giant component — they are a mega-cluster PLUS
            // a long tail of small components in the same graph. Union
            // the tree with CliqueGen blocks (node ids offset above the
            // tree so the populations are disjoint) and confirm the hot
            // key's AQE skew handling coexists with the tail's
            // parallelism: per-round wall stays near the pure-giant run
            // at the same tree size, and BOTH populations label exactly.
            val mixBlocks = args.drop(3).headOption.map(_.toInt).getOrElse(25000)
            val blockEdges = EdgeBuilder
              .cliqueEdgesGen(CliqueGen.cliques(spark, mixBlocks))
              .select((col("src") + nNodes).as("src"),
                      (col("dst") + nNodes).as("dst"))
              .repartition(scatter)
            val mixed = tree.unionAll(blockEdges)
            val r = time(s"mixed fixpoint (tree $nNodes + $mixBlocks blocks)") {
              ConnectedComponents.run(mixed)
            }
            require(r.converged, "mixed fixpoint did not converge")
            System.err.println(
              s"[probe] giant mix: iterations=${r.iterations} rounds=${r.rounds}")
            r.assignments
          case "reliable" =>
            // VERDICT r12 #4: the configuration a real multi-hour
            // cluster fixpoint would actually use — reliable (HDFS-/
            // disk-backed) round checkpoints that survive executor
            // loss, vs the probe series' localCheckpoint default. The
            // watched checkpoint dir quantifies the branch's scratch
            // draw: with superseded-round file GC it should hold ~2
            // rounds' files, not rounds × round-size.
            prepReliableCkptDir()
            val r = ConnectedComponents.run(tree, reliableCheckpoint = true)
            require(r.converged, "reliable fixpoint did not converge")
            System.err.println(
              s"[probe] giant reliable: iterations=${r.iterations} rounds=${r.rounds}")
            r.assignments
          case "new" =>
            val r = ConnectedComponents.run(tree)
            require(r.converged, "fixpoint did not converge")
            System.err.println(
              s"[probe] giant: iterations=${r.iterations} rounds=${r.rounds}")
            r.assignments
          case other => sys.error(s"unknown giant shape $other")
        }
      }
      if (shape == "mix") {
        val mixBlocks = args.drop(3).headOption.map(_.toInt).getOrElse(25000)
        // tree population: every node below the offset is component 0
        val treeBad = labels
          .where(col("node") < nNodes && col("component") =!= 0L).count()
        val treeN = labels.where(col("node") < nNodes).count()
        // block population: offset ground truth, exact join check
        val bt = CliqueGen.groundTruth(spark, mixBlocks)
          .select((col("node") + nNodes).as("node"),
                  (col("component") + nNodes).as("truth"))
          .localCheckpoint()
        val blockBad = labels.join(bt, "node")
          .where(col("component") =!= col("truth")).count()
        val blockMissing = bt.join(labels, Seq("node"), "left_anti").count()
        val blockN = bt.count()
        System.err.println(s"[probe] giant mix vs ground truth: " +
          s"treeWrong=$treeBad treeRows=$treeN/$nNodes " +
          s"blockWrong=$blockBad blockMissing=$blockMissing blockRows=$blockN")
        require(treeBad == 0 && treeN == nNodes &&
          blockBad == 0 && blockMissing == 0,
          "mixed-shape labels diverged")
      } else {
        val expected = if (shape == "incremental") nNodes + deltaK else nNodes
        val bad = labels.where(col("component") =!= 0L).count()
        val n = labels.count()
        System.err.println(s"[probe] giant vs ground truth: wrong=$bad rows=$n")
        require(bad == 0 && n == expected, "giant component labels diverged")
      }
      // VERDICT r12 #3: componentsPreview ON the giant result —
      // converts the "every task O(maxMembers)" claim into a measured
      // row. The aggregation runs over the FULL assignment table (all
      // components, mega-cluster included); only the giant's row is
      // collected for the closed-form check.
      val giantExpected =
        if (shape == "incremental") nNodes + deltaK else nNodes
      val prevRow = time("componentsPreview(assignments, 100)") {
        ConnectedComponents.componentsPreview(labels, 100)
          .where(col("component") === 0L).collect()
      }
      require(prevRow.length == 1,
        s"preview: expected one giant row, got ${prevRow.length}")
      val pv = prevRow(0)
      val want = (0L until math.min(100L, giantExpected)).toSeq
      System.err.println(s"[probe] preview giant row: " +
        s"n_members=${pv.getLong(1)} min=${pv.getLong(2)} " +
        s"head=${pv.getSeq[Long](3).take(4).mkString(",")}")
      require(pv.getLong(1) == giantExpected && pv.getLong(2) == 0L &&
        pv.getSeq[Long](3) == want, "preview giant row diverged")
    }

    System.err.println(
      f"[probe] peak cached storage: ${peakStorage / 1048576.0}%.1f MiB")
    System.err.println(
      f"[probe] peak JVM heap used: ${peakHeap / 1048576.0}%.1f MiB")
    ckptWatch.foreach { d =>
      // one last sample so the final state is never missed between ticks
      val fin = dirBytes(d)
      if (fin > peakCkptBytes) peakCkptBytes = fin
      System.err.println(
        f"[probe] reliable checkpoint dir: peak ${peakCkptBytes / 1048576.0}%.1f MiB, " +
        f"final $fin%d bytes (${fin / 1048576.0}%.1f MiB)")
    }
    System.err.println("[probe] PASS")
    spark.stop()
  }
}
