package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicInteger

/** Shows that the output check catches what it must: the exact labelling
  * of a small scatter graph passes, and one wrong label, one missing row
  * or one duplicated row fails. Also shows that the check rides on the
  * materializing write (one job) and that the driver-side and
  * Spark-side digests agree. Throws on the first failure.
  */
object SelfTest {
  def run(spark: SparkSession): Unit = {
    import spark.implicits._
    val g = new ScatterGraph(7L, 5000, 0.3, 2, 50)
    val rows = g.starts.indices.flatMap { c =>
      val members = (g.starts(c) until g.end(c)).map(v => g.id(v))
      members.map(n => (n, members.min))
    }
    val truth = g.truth
    def digest(rs: Seq[(Long, Long)]): Digest =
      Digest.sink(rs.toDF("node", "component").repartition(3))

    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val local = rows.toDF("node", "component")
    local.count()
    spark.sparkContext.addSparkListener(l)
    val sunk = Digest.sink(local)
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(l)

    val wrong = rows.updated(17, (rows(17)._1, rows(17)._2 + 1))
    val checks = Seq(
      "exact labels match" -> (digest(rows) == truth),
      "aggregate digest matches the sink digest" -> (Digest.of(local) == sunk && sunk == truth),
      "check costs one job" -> (jobs.get == 1),
      "wrong label caught" -> (digest(wrong) != truth),
      "missing row caught" -> (digest(rows.patch(17, Nil, 1)) != truth),
      "duplicated row caught" -> (digest(rows :+ rows(17)) != truth))
    checks.foreach { case (name, ok) => println(s"selftest ${if (ok) "ok  " else "FAIL"} $name") }
    val failed = checks.filterNot(_._2).map(_._1)
    if (failed.nonEmpty) throw new AssertionError("selftest failed: " + failed.mkString(", "))
  }
}
