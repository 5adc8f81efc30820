package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Order-independent digest of a `(node, component)` label table: the
  * row count plus two sums of per-row terms, each reduced modulo a
  * prime. A row's term is `a(node) · a(component) mod p`, where `a` is
  * Spark's own `xxhash64` (first sum) or `hash` (second sum) reduced
  * mod p, so the driver can compute the expected digest of a known
  * labelling without Spark, and per component as
  * `a(label) · Σ a(member) mod p` — which is what lets the incremental
  * workload track ground truth through merges with a union-find.
  *
  * A wrong label changes both sums, a missing row lowers the count, a
  * duplicated row raises it (`SelfTest` shows all three).
  */
final case class Digest(rows: Long, s1: Long, s2: Long) {
  def +(o: Digest): Digest =
    Digest(rows + o.rows, (s1 + o.s1) % Digest.P1, (s2 + o.s2) % Digest.P2)
  def -(o: Digest): Digest =
    Digest(rows - o.rows, Math.floorMod(s1 - o.s1, Digest.P1),
      Math.floorMod(s2 - o.s2, Digest.P2))
}

object Digest {
  val P1 = 2147483647L
  val P2 = 1000000007L
  val Zero = Digest(0, 0, 0)

  def a1(x: Long): Long = Math.floorMod(XXH64.hashLong(x, 42L), P1)
  def a2(x: Long): Long = Math.floorMod(Murmur3_x86_32.hashLong(x, 42).toLong, P2)

  /** Digest of the rows whose node terms sum to (`sumA1`, `sumA2`), all
    * labelled `label`.
    */
  def component(label: Long, rows: Long, sumA1: Long, sumA2: Long): Digest =
    Digest(rows, a1(label) * sumA1 % P1, a2(label) * sumA2 % P2)

  def row(node: Long, label: Long): Digest = component(label, 1, a1(node), a2(node))

  private def term(h: Column => Column, p: Long): Column =
    pmod(h(col("node")), lit(p)) * pmod(h(col("component")), lit(p)) % lit(p)

  private val columns: Seq[Column] = Seq(
    count(lit(1)).as("rows"),
    sum(term(c => xxhash64(c), P1)).as("s1"),
    sum(term(c => hash(c), P2)).as("s2"))

  private def fromValues(rows: Any, s1: Any, s2: Any): Digest = {
    def l(v: Any): Long = if (v == null) 0L else v.asInstanceOf[Long]
    Digest(l(rows), l(s1) % P1, l(s2) % P2)
  }

  /** Writes `labels` to the `noop` sink and returns the digest of what
    * was written, read through an `Observation` on that same write, so
    * checking costs no extra job.
    */
  def sink(labels: DataFrame): Digest = {
    val obs = Observation()
    labels.observe(obs, columns.head, columns.tail: _*)
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    fromValues(m("rows"), m("s1"), m("s2"))
  }

  /** Writes `df` to the `noop` sink and returns the number of rows
    * written, read the same way as [[sink]].
    */
  def rows(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }

  /** Digest by aggregation (one job); for ground-truth tables in set-up. */
  def of(labels: DataFrame): Digest = {
    val r: Row = labels.agg(columns.head, columns.tail: _*).head()
    fromValues(r.get(0), r.get(1), r.get(2))
  }
}
