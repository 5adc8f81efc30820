package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.Generator
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftsql
import org.apache.spark.sql.types._

/** Clique → pairwise-edge expansion as a custom Catalyst `Generator`
  * (UDTF): streams the k·(k−1)/2 oriented `(max, min)` pairs of a
  * clique one row at a time, instead of materializing the
  * array<struct> the HOF-comprehension form
  * ([[graft.cc.EdgeBuilder.cliqueEdges]]) builds before `explode` can
  * walk it. For a clique of 10⁴ nodes the HOF form allocates a
  * 5·10⁷-element array per row before the generate; this iterator
  * holds two indices. Same reference semantics (singleton → self-pair;
  * empty/null → nothing; ConnectedComponent.scala:187-217), pinned
  * equal to cliqueEdges by property test.
  *
  * `CodegenFallback`: GenerateExec whole-stage codegen is reserved for
  * the built-in CollectionGenerators; a custom Generator runs on the
  * eval path inside GenerateExec, which is exactly where the streaming
  * (vs materialize-then-explode) win lives.
  *
  * Each clique's pairs are written into one reused two-long `UnsafeRow`,
  * so a pair allocates and boxes nothing. Reuse is safe because
  * `GenerateExec` consumes each generated row before asking for the
  * next: its eval path projects the row at once, and its whole-stage
  * path reads its fields in place.
  */
case class CliquePairs(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false)))

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"CliquePairs expects array<bigint>, got ${other.sql}")
    }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null || arr.numElements() == 0) Iterator.empty
    else {
      val n = arr.numElements()
      val row = new UnsafeRow(2)
      row.pointTo(new Array[Byte](24), 24)
      def pair(a: Long, b: Long): InternalRow = {
        row.setLong(0, a)
        row.setLong(1, b)
        row
      }
      if (n == 1) Iterator.single(pair(arr.getLong(0), arr.getLong(0)))
      else new Iterator[InternalRow] {
        private var i = 0
        private var j = 1
        override def hasNext: Boolean = i < n - 1
        override def next(): InternalRow = {
          val a = arr.getLong(i); val b = arr.getLong(j)
          j += 1
          if (j >= n) { i += 1; j = i + 1 }
          if (a >= b) pair(a, b) else pair(b, a)
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): CliquePairs =
    copy(child = newChild)
}

object CliquePairs {
  /** Column API entry: `df.select(CliquePairs.of(col("nodes")))`. */
  def of(c: Column): Column =
    graftsql.columnOf(CliquePairs(graftsql.expressionOf(c)))
}
