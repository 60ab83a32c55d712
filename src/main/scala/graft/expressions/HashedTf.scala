package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Hashed term-frequency featurizer over a token array: one narrow pass
  * producing `[tf_0·scale, …, tf_{buckets-1}·scale, 1.0]` where
  * `tf_j = count(tokens with PolyHash(token) mod buckets == j) / n` —
  * the per-row fused form of the classifier featurization
  * ([[graft.operators.Classifier.features]]).
  *
  * Why native: the composable spelling is explode → (doc, bucket)
  * grouped count → per-doc map roll-up — TWO shuffles per featurize
  * pass. The feature vector is a pure per-row function of the token
  * array, so the fused expression removes both exchanges (the scan IS
  * the feature table) and keeps everything inside WholeStageCodegen.
  *
  * Exactness: counts are exact longs; `(cnt/n)·scale` is one
  * correctly-rounded division followed by an EXACT power-of-two scale —
  * bit-identical to both the shuffle spelling it replaced and the
  * DuckDB mirror. The hash is the same codepoint fold as [[PolyHash]]
  * (one shared static kernel).
  *
  * Empty array → null (no TF is defined; callers filter size > 0);
  * null element → null (the [[SeqDot]] corrupt-row posture).
  */
case class HashedTf(child: Expression, buckets: Int, scale: Double)
  extends UnaryExpression {
  require(buckets >= 1, "buckets must be positive")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "hashed_tf"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hashed_tf requires array<string>, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    HashedTf.featurize(input.asInstanceOf[ArrayData], buckets, scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val out = ctx.freshName("out")
      s"""
         |ArrayData $out =
         |  graft.expressions.HashedTf.featurize($c, $buckets, $scale);
         |if ($out == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $out;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): HashedTf =
    copy(child = newChild)
}

object HashedTf {
  import org.apache.spark.sql.graft.bridge.{column, expression}

  /** Static kernel shared by eval and generated code. PolyHash's exact
    * codepoint fold, inlined (empty token hashes to 217 like the
    * expression — unreachable via Tokenize, which never emits empties).
    */
  def featurize(toks: ArrayData, buckets: Int, scale: Double): ArrayData = {
    val n = toks.numElements()
    if (n == 0) return null
    val counts = new Array[Long](buckets)
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) return null
      val s = toks.getUTF8String(i).toString
      var h = 7L
      if (s.isEmpty) h = 217L
      else {
        var j = 0
        while (j < s.length) {
          val cp = s.codePointAt(j)
          h = (h * 31L + cp) % 1000000007L
          j += Character.charCount(cp)
        }
      }
      counts((h % buckets).toInt) += 1L
      i += 1
    }
    val out = new Array[Double](buckets + 1)
    var b = 0
    while (b < buckets) {
      out(b) = counts(b).toDouble / n.toDouble * scale
      b += 1
    }
    out(buckets) = 1.0d
    new GenericArrayData(out)
  }

  /** Column API. */
  def hashed_tf(c: Column, buckets: Int, scale: Double): Column =
    column(HashedTf(expression(c), buckets, scale))

  /** SQL registration (classifier defaults): SELECT hashed_tf(tokenize(text)). */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "hashed_tf",
      exprs => HashedTf(exprs.head,
        graft.operators.Classifier.NumBuckets,
        graft.operators.Classifier.FeatScale),
      "built-in")
}
