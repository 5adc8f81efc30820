package graft.cc

import java.nio.file.Files

import graft.SparkSpec
import graft.queries.Scratch

/** End-to-end parity with the reference's I/O surface: text clique file
  * in, component text file out (CCDriver.scala format), plus CC on the
  * generator-shaped skewed graph against its built-in ground truth and
  * the GraphX comparator.
  */
class CCDriverParitySpec extends SparkSpec {

  /** A fresh dir under the scratch root, removed after `body`. */
  private def withDir(prefix: String)(body: java.io.File => Unit): Unit = {
    val dir = Files.createTempDirectory(Scratch.root, prefix)
    try body(dir.toFile) finally Scratch.deleteRec(dir)
  }

  test("text driver round-trip on the README example") {
    withDir("cc_text") { dir =>
      val in = new java.io.File(dir, "cliques.txt")
      Files.writeString(in.toPath,
        "1 2 3\n3 4\n1 5\n2\n6\n7 8\n6 8\n9\n")
      val out = new java.io.File(dir, "out").getPath
      val res = CCTextDriver.run(spark, in.getPath, out)
      assert(res.converged)
      val lines = spark.read.text(out).collect().map(_.getString(0)).toSet
      assert(lines === Set("5 1 1 2 3 4 5", "3 6 6 7 8", "1 9 9"))
    }
  }

  test("main(args) CLI: default output path and maxIterations mirror the reference") {
    withDir("cc_text_main") { dir =>
      val in = new java.io.File(dir, "cliques.txt")
      Files.writeString(in.toPath, "1 2 3\n3 4\n1 5\n2\n6\n7 8\n6 8\n9\n")
      // One-arg form: output defaults to <input>_cc_out, exactly the
      // reference CCDriver.scala:75 path. The spec session is active, so
      // main reuses it instead of building (and stopping) its own.
      CCTextDriver.main(Array(in.getPath))
      val lines = spark.read.text(in.getPath + "_cc_out")
        .collect().map(_.getString(0)).toSet
      assert(lines === Set("5 1 1 2 3 4 5", "3 6 6 7 8", "1 9 9"))
      // Explicit out path + maxIterations form.
      val out2 = new java.io.File(dir, "out2").getPath
      CCTextDriver.main(Array(in.getPath, out2, "20"))
      val lines2 = spark.read.text(out2).collect().map(_.getString(0)).toSet
      assert(lines2 === lines)
      // No args is a loud usage error, not an index crash.
      intercept[IllegalArgumentException] { CCTextDriver.main(Array.empty) }
    }
  }

  test("text scan parses whitespace separators and skips blank lines") {
    withDir("cc_text2") { dir =>
      val in = new java.io.File(dir, "cliques.txt")
      Files.writeString(in.toPath, "10\t20  30\n\n   \n40\n")
      val s = spark
      import s.implicits._
      val got = CCTextDriver.readCliques(spark, in.getPath)
        .as[Seq[Long]].collect().toSet
      assert(got === Set(Seq(10L, 20L, 30L), Seq(40L)))
    }
  }

  test("generator-shaped skew graph: CC matches built-in ground truth and GraphX") {
    val s = spark
    import s.implicits._
    val n = 25
    val cliques = CliqueGen.cliques(spark, n)
    val truth = CliqueGen.groundTruth(spark, n)
      .as[(Long, Long)].collect().toMap
    // blocks are one component each -> exactly n components
    assert(truth.values.toSet.size === n)

    val res = ConnectedComponents.runCliques(cliques)
    assert(res.converged && res.iterations <= 6)
    val got = res.assignments.as[(Long, Long)].collect().toMap
    assert(got === truth)

    val graphx = GraphXCC.run(EdgeBuilder.starEdges(cliques))
      .as[(Long, Long)].collect().toMap
    assert(graphx === truth)
  }

  test("generator is deterministic across invocations") {
    val s = spark
    import s.implicits._
    val a = CliqueGen.cliques(spark, 8).as[(Long, Seq[Long])].collect()
      .sortBy(r => (r._1, r._2.mkString(",")))
    val b = CliqueGen.cliques(spark, 8).as[(Long, Seq[Long])].collect()
      .sortBy(r => (r._1, r._2.mkString(",")))
    assert(a === b)
  }
}
