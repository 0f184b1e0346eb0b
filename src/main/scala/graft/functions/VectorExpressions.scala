package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for `<a, b>` over array<double> columns.
  *
  * The builtin route (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`) allocates
  * an intermediate array and evaluates its lambdas INTERPRETED per element —
  * a real cost at dim=64 × N·Q comparisons in the similarity-search ops.
  * This expression is a single codegen'd loop: no allocation, no virtual
  * calls (SURVEY §2.11 "selected hot ones optionally as custom Expression").
  *
  * Null semantics: null input array → null (NullIntolerant-style via
  * BinaryExpression's default nullSafeEval path); null ELEMENTS are treated
  * as 0 contribution (embeddings never contain them; documented).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_product expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** All nTables sign-random-projection bucket codes of a vector in ONE
  * codegen'd pass: for table t, code_t = fold over its nBits hyperplanes of
  * `code*2 + (⟨e, plane⟩ > 0 ? 1 : 0)`.
  *
  * Replaces the interpreted HOF formulation
  * `transform(planes, p => dot(e,p))` + `aggregate(slice(...))` — HOFs are
  * CodegenFallback in Spark, so every per-plane lambda call was virtual and
  * allocated; this is a single flat loop nest with no intermediate arrays.
  * Dot products accumulate LEFT-TO-RIGHT exactly like [[DotProduct]] (and
  * DuckDB's list_dot_product), so bucket codes are bit-identical to both
  * the HOF formulation (spec-asserted) and the external oracle.
  *
  * `right` must evaluate to the nTables·nBits hyperplanes as an
  * array<array<double>> (in practice a literal, like the planes in
  * [[graft.ops.VectorOps.lshCodes]]).
  */
case class SignProjectBuckets(left: Expression, right: Expression,
                              nBits: Int, nTables: Int)
    extends BinaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def vec(dt: DataType): Boolean = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val planesOk = right.dataType match {
      case ArrayType(inner, _) => vec(inner)
      case _ => false
    }
    if (vec(left.dataType) && planesOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"sign_project_buckets expects (array<double>, array<array<double>>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val e = a.asInstanceOf[ArrayData]
    val planes = b.asInstanceOf[ArrayData]
    val codes = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var code = 0L
      var j = 0
      while (j < nBits) {
        val plane = planes.getArray(t * nBits + j)
        val n = math.min(e.numElements(), plane.numElements())
        var acc = 0.0
        var i = 0
        while (i < n) {
          if (!e.isNullAt(i) && !plane.isNullAt(i))
            acc += e.getDouble(i) * plane.getDouble(i)
          i += 1
        }
        code = code * 2 + (if (acc > 0) 1L else 0L)
        j += 1
      }
      codes(t) = code
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, planes) => {
      val codes = ctx.freshName("codes")
      val t = ctx.freshName("t")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val code = ctx.freshName("code")
      val plane = ctx.freshName("plane")
      s"""
         |long[] $codes = new long[$nTables];
         |for (int $t = 0; $t < $nTables; $t++) {
         |  long $code = 0L;
         |  for (int $j = 0; $j < $nBits; $j++) {
         |    org.apache.spark.sql.catalyst.util.ArrayData $plane =
         |      $planes.getArray($t * $nBits + $j);
         |    int $n = java.lang.Math.min($e.numElements(), $plane.numElements());
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      if (!$e.isNullAt($i) && !$plane.isNullAt($i)) {
         |        $acc += $e.getDouble($i) * $plane.getDouble($i);
         |      }
         |    }
         |    $code = $code * 2L + ($acc > 0 ? 1L : 0L);
         |  }
         |  $codes[$t] = $code;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($codes);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  /** Register `dot_product` for the SQL surface. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_product", exprs => DotProduct(exprs.head, exprs(1)), "scala_udf")

  /** Column API surface (Spark 4: Column↔Expression bridge is private[sql];
    * re-exported by GraftColumnBridge).
    */
  def dot_product(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(DotProduct(GraftColumnBridge.expression(a),
      GraftColumnBridge.expression(b)))
  }

  /** Column API surface for [[SignProjectBuckets]]. */
  def sign_project_buckets(e: Column, planes: Column,
                           nBits: Int, nTables: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(SignProjectBuckets(
      GraftColumnBridge.expression(e), GraftColumnBridge.expression(planes),
      nBits, nTables))
  }
}

/** The n-value MinHash stream of one 64-bit base hash: out[i] =
  * splitmix64(h + (i+1)·φ) where φ is the 64-bit golden-ratio constant —
  * the standard SplitMix64 sequence, one multiply-xor-shift finalizer per
  * value.
  *
  * Replaces re-hashing the shingle STRING once per hash family
  * (128 × xxhash64(lit(i), s)): the string is hashed ONCE upstream and the
  * family is derived with integer mixing — O(n) cheap ops instead of
  * O(n · |s|) byte hashing, in one codegen'd loop.
  */
case class MinhashMix(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"minhash_mix expects bigint, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any = {
    val h = input.asInstanceOf[Long]
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = MinhashMix.mix(h + (i + 1) * MinhashMix.Phi)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, h =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.MinhashMix.mixAll($h, $n))")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinhashMix {
  /** 64-bit golden ratio (SplitMix64 stream increment). */
  val Phi: Long = 0x9E3779B97F4A7C15L

  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Codegen entry point (kept as a plain static-shaped call). */
  def mixAll(h: Long, n: Int): Array[Long] = {
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = mix(h + (i + 1) * Phi); i += 1 }
    out
  }

  def minhash_mix(c: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(MinhashMix(GraftColumnBridge.expression(c), n))
  }
}
