package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.types.{DataType, FloatType}

/** Distance kernels over `ARRAY<FLOAT>` embeddings as native Catalyst
  * expressions with whole-stage codegen.
  *
  * Re-expresses the reference's SIMD distance kernels
  * (`rust/distance/src/types.rs:217-300`, `distance_avx.rs`) Spark-first:
  * a codegen'd scalar loop the JIT auto-vectorizes, running inside
  * WholeStageCodegen instead of behind a UDF boundary.
  *
  * All kernels accumulate in **sequential float32** — deliberately: it
  * matches both the reference (f32 lanes) and DuckDB's
  * `list_cosine_similarity`/`list_dot_product` bit-for-bit (verified:
  * 150/150 pairs identical), which makes exact-KNN results hash-matchable
  * against the DuckDB oracle without rounding tricks.
  *
  * Distance spaces (`rust/types/src/hnsw_configuration.rs:32-40`):
  * L2 (squared), Cosine (1 - sim), Ip (1 - dot).
  */
object Distances {

  private abstract class FloatVecBinary extends BinaryExpression {
    override def dataType: DataType = FloatType
    override def nullIntolerant: Boolean = true

    protected def kernel(a: Array[Float], b: Array[Float]): Float
    /** Java loop body: assigns the result variable given ArrayData vars.
      * Local names MUST come from `ctx.freshName` — two instances of these
      * expressions in one whole-stage-codegen'd projection would otherwise
      * declare duplicate Java locals, fail Janino compilation, and silently
      * fall back to interpreted eval.
      */
    protected def javaKernel(ctx: CodegenContext, a: String, b: String, result: String): String

    override def nullSafeEval(l: Any, r: Any): Any =
      kernel(l.asInstanceOf[ArrayData].toFloatArray(),
        r.asInstanceOf[ArrayData].toFloatArray())

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => javaKernel(ctx, a, b, ev.value.code))
  }

  /** Sequential-f32 cosine similarity (DuckDB `list_cosine_similarity`-exact). */
  private case class CosineSim(left: Expression, right: Expression) extends FloatVecBinary {
    override def prettyName: String = "cosine_similarity"
    protected def kernel(a: Array[Float], b: Array[Float]): Float = scalar.cosineSim(a, b)
    protected def javaKernel(ctx: CodegenContext, a: String, b: String, result: String): String = {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y"); val sim = ctx.freshName("sim")
      s"""int $n = $a.numElements();
         |float $acc = 0f, $na = 0f, $nb = 0f;
         |for (int $i = 0; $i < $n; $i++) {
         |  float $x = $a.getFloat($i); float $y = $b.getFloat($i);
         |  $acc += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |float $sim = $acc / ((float) Math.sqrt($na) * (float) Math.sqrt($nb));
         |$result = Math.min(1.0f, Math.max(-1.0f, $sim));
         |""".stripMargin
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
  }

  /** Sequential-f32 dot product (DuckDB `list_dot_product`-exact). */
  private case class DotF32(left: Expression, right: Expression) extends FloatVecBinary {
    override def prettyName: String = "dot_f32"
    protected def kernel(a: Array[Float], b: Array[Float]): Float = scalar.dot(a, b)
    protected def javaKernel(ctx: CodegenContext, a: String, b: String, result: String): String = {
      val n = ctx.freshName("n"); val i = ctx.freshName("i"); val acc = ctx.freshName("acc")
      s"""int $n = $a.numElements();
         |float $acc = 0f;
         |for (int $i = 0; $i < $n; $i++) { $acc += $a.getFloat($i) * $b.getFloat($i); }
         |$result = $acc;
         |""".stripMargin
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
  }

  /** Sequential-f32 squared L2 distance (`rust/distance/src/types.rs` L2). */
  private case class L2Sq(left: Expression, right: Expression) extends FloatVecBinary {
    override def prettyName: String = "l2_sq"
    protected def kernel(a: Array[Float], b: Array[Float]): Float = scalar.l2Sq(a, b)
    protected def javaKernel(ctx: CodegenContext, a: String, b: String, result: String): String = {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc"); val d = ctx.freshName("d")
      s"""int $n = $a.numElements();
         |float $acc = 0f;
         |for (int $i = 0; $i < $n; $i++) {
         |  float $d = $a.getFloat($i) - $b.getFloat($i); $acc += $d * $d;
         |}
         |$result = $acc;
         |""".stripMargin
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
  }

  def cosineSimilarity(a: Column, b: Column): Column = SqlBridge.column(CosineSim(SqlBridge.expr(a), SqlBridge.expr(b)))
  def dotF32(a: Column, b: Column): Column = SqlBridge.column(DotF32(SqlBridge.expr(a), SqlBridge.expr(b)))
  def l2Squared(a: Column, b: Column): Column = SqlBridge.column(L2Sq(SqlBridge.expr(a), SqlBridge.expr(b)))

  /** Chroma distance per space (`rust/distance/src/types.rs:217-300`).
    * Computed and returned entirely in FLOAT — `1 - sim` subtracts in f32 —
    * mirroring the reference's f32 kernels (and DuckDB, where
    * DECIMAL-literal op FLOAT stays FLOAT).
    */
  def distance(space: String)(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.lit
    space match {
      case "cosine" => (lit(1.0f) - cosineSimilarity(a, b)).cast("float")
      case "ip"     => (lit(1.0f) - dotF32(a, b)).cast("float")
      case "l2"     => l2Squared(a, b)
      case other    => throw new IllegalArgumentException(s"unknown space $other")
    }
  }

  /** SQL-surface builders: expression constructors for FunctionRegistry
    * injection (GraftExtensions), so plain `spark.sql` text can call the
    * codegen kernels — `SELECT cosine_similarity_f32(a.e, b.e) ...`.
    */
  def sqlBuilders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_similarity_f32" -> { args => CosineSim(args(0), args(1)) },
    "dot_f32" -> { args => DotF32(args(0), args(1)) },
    "l2sq_f32" -> { args => L2Sq(args(0), args(1)) })

  /** Pure-Scala kernels for executor-side imperative paths (heaps, IVF). */
  object scalar {
    def cosineSim(a: Array[Float], b: Array[Float]): Float = {
      var acc = 0f; var na = 0f; var nb = 0f; var i = 0
      while (i < a.length) { acc += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val sim = acc / (math.sqrt(na).toFloat * math.sqrt(nb).toFloat)
      math.min(1.0f, math.max(-1.0f, sim))
    }
    def dot(a: Array[Float], b: Array[Float]): Float = {
      var acc = 0f; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def l2Sq(a: Array[Float], b: Array[Float]): Float = {
      var acc = 0f; var i = 0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }

    /** [[Distances.distance]] off the plan: the same f32 kernel and the
      * same `1 - sim` in float, so a driver-side score equals the
      * codegen'd column's bit for bit.
      */
    def distance(space: String): (Array[Float], Array[Float]) => Float =
      space match {
        case "cosine" => (a, b) => 1.0f - cosineSim(a, b)
        case "ip"     => (a, b) => 1.0f - dot(a, b)
        case "l2"     => l2Sq
        case other    => throw new IllegalArgumentException(s"unknown space $other")
      }
  }
}
