package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Codegen'd dot product over two `array<double>` columns.
  *
  * Exists because the built-in formulation
  * `aggregate(zip_with(a, b, _ * _), 0d, _ + _)` materializes an
  * intermediate 64-element array per pair — in the ANN scoring loop
  * that's an allocation per candidate pair. This expression is a single
  * fused loop over both `ArrayData` buffers, stays inside
  * WholeStageCodegen, and sums in index order (bit-identical to the HOF
  * left fold, so oracle results are unchanged).
  *
  * Contract: elements are non-null doubles (unit vectors); length
  * mismatch sums over the shorter prefix.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  override protected def nullSafeEval(l: Any, r: Any): Any =
    DotProduct.of(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_product"
}

object DotProduct {
  /** The index-order sum the generated loop runs, for JVM callers. */
  def of(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) { sum += a.getDouble(i) * b.getDouble(i); i += 1 }
    sum
  }
}

object VectorFunctions {
  def dotProduct(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  def lshSignature(u: Column, book: PlaneBook): Column =
    Bridge.column(LshSignature(Bridge.expression(u), book))
}

/** The full hyperplane set of a sign-LSH geometry, flat at
  * `flat[((t * bits) + (b-1)) * dim + (i-1)]` for table t (0-based),
  * bit b (1-based), dim i (1-based) — the exact
  * [[graft.ops.Similarity.hyperplaneWeight]] lattice. Bounded plan
  * reference: 8 × 14 × 64 doubles = 57 KB at the 200 k-vector adaptive
  * config; ≤ 160 KB even at the 20-bit ladder ceiling. */
final class PlaneBook(val flat: Array[Double], val bits: Int,
    val nTables: Int, val dim: Int) extends Serializable {
  require(flat.length == nTables * bits * dim, "flat must be tables x bits x dim")
  override def equals(o: Any): Boolean = o match {
    case p: PlaneBook => bits == p.bits && nTables == p.nTables && dim == p.dim &&
      java.util.Arrays.equals(flat, p.flat)
    case _ => false
  }
  override def hashCode(): Int =
    (java.util.Arrays.hashCode(flat) * 31 + bits) * 31 + nTables
}

/** All nTables sign-LSH bucket keys of a unit vector, fused into ONE
  * runtime loop over a constant plane table.
  *
  * Why an expression and not `array(bits × tables × when(dot ≥ 0)...)`
  * column trees: at the adaptive (14, 8) geometry that projection
  * inlines 112 unrolled 64-term dot loops into one generated method —
  * past the JIT's huge-method threshold, so the generated code runs in
  * the BYTECODE INTERPRETER: measured ~0.45 ms/row (≈ 95 s for the
  * 200 k-vector artifact/stage build) vs ~4 s for this loop, which
  * stays a few hundred bytecodes regardless of bits × tables. Bit
  * semantics are replicated exactly: per (table, bit) the dot sums in
  * index order over the same [[PlaneBook]] lattice weights, `>= 0`
  * sets bit `bits - b` — so bucket keys, every downstream join, and
  * every LSH oracle are unchanged. */
case class LshSignature(child: Expression, book: PlaneBook)
  extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType,
      containsNull = false)
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(vec: Any): Any =
    LshSignature.keys(book, vec.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bookRef = ctx.addReferenceObj("planes", book, "graft.functions.PlaneBook")
    nullSafeCodeGen(ctx, ev, v => {
      s"${ev.value} = graft.functions.LshSignature.keys($bookRef, $v);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "lsh_signature"
}

object LshSignature {
  def keys(b: PlaneBook, vec: ArrayData): ArrayData = {
    val n = math.min(b.dim, vec.numElements())
    val out = new Array[Int](b.nTables)
    var t = 0
    while (t < b.nTables) {
      var key = 0
      var bi = 0
      while (bi < b.bits) {
        var dot = 0.0
        var i = 0
        val off = (t * b.bits + bi) * b.dim
        while (i < n) { dot += vec.getDouble(i) * b.flat(off + i); i += 1 }
        // !(dot < 0), not (dot >= 0): Spark's `>=` ranks NaN above any
        // number, so a NaN dot sets the bit in the column form — Java's
        // IEEE `>=` would not; the negated form matches Spark exactly
        if (!(dot < 0)) key |= 1 << (b.bits - 1 - bi)
        bi += 1
      }
      out(t) = key
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}
