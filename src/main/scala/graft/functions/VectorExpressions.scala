package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.types._

/** Vector distance/similarity kernels over `ArrayType(FloatType)` columns.
  *
  * Re-expresses the reference's distance semantics (squared-L2 over
  * L2-normalized embeddings, `vector_store.py:139-171`, space=l2 per the
  * persisted Chroma HNSW config; similarity = 1 - distance at
  * `app.py:417-418`) as codegen'd Catalyst expressions — no UDF boxing,
  * stays inside whole-stage codegen on the 100 TB scan path.
  *
  * Numerics are deliberate: accumulation is **sequential float32**, which
  * (a) is deterministic per row regardless of partitioning (the loop order
  * is array order), and (b) bit-matches DuckDB's `list_dot_product` /
  * `list_distance` / `list_cosine_similarity` kernels, so oracle checks
  * compare exact bits, not tolerances.
  */
abstract class VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = FloatType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float> arguments, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  /** Java statements computing the float result into `target`, given
    * ArrayData variables `a` and `b`. Must only use fresh names. */
  protected def loopCode(ctx: CodegenContext, a: String, b: String, target: String): String

  protected def compute(a: ArrayData, b: ArrayData): Float

  /** Dimension mismatch is a data error, not a truncation: a 64-dim
    * query against a 1024-dim corpus must fail loudly (DuckDB's list_*
    * kernels error identically), never return a prefix-only score. */
  protected final def checkDims(n: Int, m: Int): Unit =
    if (n != m) throw new IllegalArgumentException(
      s"$prettyName: vector dimensions differ ($n vs $m)")

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    checkDims(a.numElements(), b.numElements())
    java.lang.Float.valueOf(compute(a, b))
  }

  protected def dimCheckCode(a: String, b: String): String =
    s"""if ($a.numElements() != $b.numElements()) {
       |  throw new IllegalArgumentException("$prettyName: vector dimensions differ ("
       |    + $a.numElements() + " vs " + $b.numElements() + ")");
       |}""".stripMargin

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => dimCheckCode(a, b) + "\n" + loopCode(ctx, a, b, ev.value))
}

/** dot(a, b) with sequential float32 accumulation. On L2-normalized
  * vectors this IS cosine similarity (the reference normalizes at
  * `config.py:43`). */
case class DotProductF32(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "dot_f32"

  override protected def compute(a: ArrayData, b: ArrayData): Float = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0f
    var i = 0
    while (i < n) { acc += a.getFloat(i) * b.getFloat(i); i += 1 }
    acc
  }

  override protected def loopCode(ctx: CodegenContext, a: String, b: String, target: String): String = {
    val n = ctx.freshName("n")
    val acc = ctx.freshName("acc")
    val i = ctx.freshName("i")
    s"""
       |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
       |float $acc = 0.0f;
       |for (int $i = 0; $i < $n; $i++) {
       |  $acc += $a.getFloat($i) * $b.getFloat($i);
       |}
       |$target = $acc;
     """.stripMargin
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** Euclidean distance sqrt(sum((a-b)^2)), float32 accumulation —
  * bit-compatible with DuckDB `list_distance`. */
case class EuclideanDistF32(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "l2_dist_f32"

  override protected def compute(a: ArrayData, b: ArrayData): Float = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0f
    var i = 0
    while (i < n) { val d = a.getFloat(i) - b.getFloat(i); acc += d * d; i += 1 }
    // double-rounded sqrt is exact for float inputs (53 >= 2*24+2)
    math.sqrt(acc.toDouble).toFloat
  }

  override protected def loopCode(ctx: CodegenContext, a: String, b: String, target: String): String = {
    val n = ctx.freshName("n")
    val acc = ctx.freshName("acc")
    val i = ctx.freshName("i")
    val d = ctx.freshName("d")
    s"""
       |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
       |float $acc = 0.0f;
       |for (int $i = 0; $i < $n; $i++) {
       |  float $d = $a.getFloat($i) - $b.getFloat($i);
       |  $acc += $d * $d;
       |}
       |$target = (float) java.lang.Math.sqrt((double) $acc);
     """.stripMargin
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** Squared L2 distance sum((a-b)^2) — the reference's native metric
  * (Chroma HNSW space=l2 returns squared distances; `app.py:417` then
  * takes 1 - distance). */
case class L2SqF32(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "l2sq_f32"

  override protected def compute(a: ArrayData, b: ArrayData): Float = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0f
    var i = 0
    while (i < n) { val d = a.getFloat(i) - b.getFloat(i); acc += d * d; i += 1 }
    acc
  }

  override protected def loopCode(ctx: CodegenContext, a: String, b: String, target: String): String = {
    val n = ctx.freshName("n")
    val acc = ctx.freshName("acc")
    val i = ctx.freshName("i")
    val d = ctx.freshName("d")
    s"""
       |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
       |float $acc = 0.0f;
       |for (int $i = 0; $i < $n; $i++) {
       |  float $d = $a.getFloat($i) - $b.getFloat($i);
       |  $acc += $d * $d;
       |}
       |$target = $acc;
     """.stripMargin
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** Cosine similarity dot/(|a|*|b|), all float32 — bit-compatible with
  * DuckDB `list_cosine_similarity`. */
case class CosineSimF32(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "cos_sim_f32"

  override protected def compute(a: ArrayData, b: ArrayData): Float = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0f; var na = 0.0f; var nb = 0.0f
    var i = 0
    while (i < n) {
      val x = a.getFloat(i); val y = b.getFloat(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    // zero-norm guard: similarity of/with a zero vector is defined as 0
    // (NaN would rank ABOVE every real match in a desc sort and slip
    // through >= threshold filters). Divergence from DuckDB only on
    // zero vectors, which unit-norm corpora never contain.
    if (na == 0.0f || nb == 0.0f) 0.0f
    else {
      // clamp to [-1, 1]: |cos| <= 1 is a mathematical invariant the
      // f32 rounding can violate for near-identical vectors (the
      // sqrt(na)·sqrt(nb) product rounds low -> 1.0000001192…), and
      // DuckDB's list_cosine_similarity clamps — measured bit-parity
      // everywhere else, so the unclamped kernel forked the engines
      // exactly in the near-twin zone a distinct-heavy dedup corpus
      // lives in (r13 EmbScaleUp finding: 1401 of 23.9k pairs).
      val r = dot / (math.sqrt(na.toDouble).toFloat * math.sqrt(nb.toDouble).toFloat)
      if (r > 1.0f) 1.0f else if (r < -1.0f) -1.0f else r
    }
  }

  override protected def loopCode(ctx: CodegenContext, a: String, b: String, target: String): String = {
    val n = ctx.freshName("n")
    val dot = ctx.freshName("dot")
    val na = ctx.freshName("na")
    val nb = ctx.freshName("nb")
    val i = ctx.freshName("i")
    val x = ctx.freshName("x")
    val y = ctx.freshName("y")
    val r = ctx.freshName("r")
    // the [-1, 1] clamp mirrors compute() — see the comment there
    s"""
       |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
       |float $dot = 0.0f; float $na = 0.0f; float $nb = 0.0f;
       |for (int $i = 0; $i < $n; $i++) {
       |  float $x = $a.getFloat($i); float $y = $b.getFloat($i);
       |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
       |}
       |float $r = ($na == 0.0f || $nb == 0.0f) ? 0.0f
       |  : $dot / ((float) java.lang.Math.sqrt((double) $na)
       |            * (float) java.lang.Math.sqrt((double) $nb));
       |$target = $r > 1.0f ? 1.0f : ($r < -1.0f ? -1.0f : $r);
     """.stripMargin
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** Column-level API + SQL registration for the vector kernels. */
object VectorFunctions {
  private def bin(f: (Expression, Expression) => Expression)(a: Column, b: Column): Column =
    GraftShim.column(f(GraftShim.expression(a), GraftShim.expression(b)))

  def dotF32(a: Column, b: Column): Column = bin(DotProductF32.apply)(a, b)
  def l2DistF32(a: Column, b: Column): Column = bin(EuclideanDistF32.apply)(a, b)
  def l2SqF32(a: Column, b: Column): Column = bin(L2SqF32.apply)(a, b)
  def cosSimF32(a: Column, b: Column): Column = bin(CosineSimF32.apply)(a, b)
}
