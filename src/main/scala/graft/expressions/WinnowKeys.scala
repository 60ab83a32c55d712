package graft.expressions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprint SELECTION (Schleimer, Wilkerson & Aiken,
  * SIGMOD'03) as one fused native pass: trigram shingle hashes
  * ([[ShingleHashes]]' scanner), packed (hash, ~pos) BIGINT keys, and
  * the distinct w-window minima — all inside a single codegen'd
  * expression returning array<long> of packed winner keys.
  *
  * Why native: the selection used to be either a per-doc ROWS-frame
  * window (O(n) per doc but SHUFFLES the whole corpus shingle stream to
  * sort it per doc) or a nested higher-order-function projection (no
  * shuffle, but interpreted O(n·w) lambda evaluation — measured 10×
  * slower than the window at sf0.1). The native does O(n) work with a
  * monotonic deque AND stays a pure narrow map: no exploded stream, no
  * per-doc sort, no shuffle before the first downstream aggregation.
  *
  * Selection rule, op-for-op the DuckDB oracle's
  * (`TextAnalysis.winnowSqlChain`): keys pack hash < 2^30 in the high
  * bits and the bit-flipped position in the low 31 (so the plain `min`
  * breaks hash ties by RIGHTMOST position); valid window starts are
  * `pos ≤ n−w` plus the single truncated window when n < w; winners
  * dedupe by consecutive-reign collapse, which equals global distinct
  * because every key (position-unique) wins a CONTIGUOUS window range —
  * pinned against the windowed and HOF formulations in WinnowSpec.
  * Fewer than 3 tokens → empty array.
  */
case class WinnowKeys(child: Expression, w: Int) extends UnaryExpression {
  require(w >= 1, "winnow window must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "winnow_keys"

  override protected def nullSafeEval(input: Any): Any =
    WinnowKeys.winnowKeys(input.asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.WinnowKeys.winnowKeys($c, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowKeys =
    copy(child = newChild)
}

object WinnowKeys {

  private val P = 2147483648L // 2^31

  /** Static kernel shared by eval and generated code. */
  def winnowKeys(s: UTF8String, w: Int): ArrayData = {
    val hs = ShingleHashes.shingleHashes(s)
    val n = hs.numElements()
    if (n == 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val keys = new Array[Long](n)
    var i = 0
    while (i < n) { keys(i) = hs.getLong(i) * P + (P - 1 - i); i += 1 }
    val ww = math.min(w, n)        // truncated window when n < w
    val m = n - ww + 1             // number of valid window starts
    val dq = new Array[Int](n)     // monotonic deque of indices (keys increasing)
    var head = 0
    var tail = 0
    @inline def push(idx: Int): Unit = {
      // keys are position-unique, so strict compare suffices
      while (tail > head && keys(dq(tail - 1)) > keys(idx)) tail -= 1
      dq(tail) = idx; tail += 1
    }
    i = 0
    while (i < ww - 1) { push(i); i += 1 }
    val out = new ArrayBuffer[Long](2 * m / (w + 1) + 2)
    var st = 0
    while (st < m) {
      push(st + ww - 1)
      while (dq(head) < st) head += 1
      val mk = keys(dq(head))
      // consecutive-reign collapse ≡ global distinct (each key's winning
      // window range is contiguous)
      if (out.isEmpty || out(out.length - 1) != mk) out += mk
      st += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out.toArray)
  }

  /** Column API. */
  def winnow_keys(c: Column, w: Int): Column =
    org.apache.spark.sql.graft.bridge.column(
      WinnowKeys(org.apache.spark.sql.graft.bridge.expression(c), w))
}
