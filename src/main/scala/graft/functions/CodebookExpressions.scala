package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType}

/** One cell of a [[NearestInCodebook]] codebook: parallel (id, flat
  * vector block) arrays, ids sorted ASCENDING — the fold visits them in
  * id order, so a strict `>` on the rounded dot reproduces the
  * `max_by(struct(round(dot, 6), -id))` tiebreak (highest dot, lowest
  * id) exactly. */
final class CellBook(val ids: Array[Long], val flat: Array[Double], val dim: Int)
  extends Serializable {
  require(ids.sliding(2).forall(p => p.length < 2 || p(0) < p(1)),
    "CellBook ids must be strictly ascending")
  require(flat.length == ids.length * dim, "flat block must be ids x dim")
  override def equals(o: Any): Boolean = o match {
    case c: CellBook => dim == c.dim && java.util.Arrays.equals(ids, c.ids) &&
      java.util.Arrays.equals(flat, c.flat)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Arrays.hashCode(ids) * 31 + java.util.Arrays.hashCode(flat)
}

/** Codegen'd nearest-centroid assignment: for a row's (cell, vector),
  * return the id of the codebook entry in that cell with the highest
  * `round(dot, 6)` (lowest id on ties — the exact ordering the former
  * join + `max_by` plan used, so every IVF oracle stays hash-identical).
  *
  * Why an expression and not a join: the join + hash-aggregate shape
  * materializes n × |cell codebook| candidate rows, each CARRYING the
  * 64-double vector, through `max_by` — measured 217 s for 500 k
  * vectors × 489 centroids, i.e. hours at the multi-million-vector
  * corpora the IVF ceiling probe targets. This expression is one
  * projection over the corpus: per row, a fused dot-argmax loop over
  * the (bounded, ≤ 4096 × dim doubles per cell) codebook held as a
  * plan reference object. No shuffle, no candidate materialization,
  * stays inside WholeStageCodegen.
  *
  * The flat single-codebook case passes cell = lit(0); the two-level
  * within-cell case passes the row's coarse cell id. A cell with no
  * codebook entries yields NULL (cannot happen for books built from
  * the assignment itself; NULL is the safe contract anyway). */
case class NearestInCodebook(left: Expression, right: Expression,
    books: java.util.HashMap[java.lang.Long, CellBook]) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override protected def nullSafeEval(cell: Any, vec: Any): Any = {
    val r = NearestInCodebook.nearest(books, cell.asInstanceOf[Long],
      vec.asInstanceOf[ArrayData])
    if (r == Long.MinValue) null else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("books", books, "java.util.HashMap")
    val code = nullSafeCodeGen(ctx, ev, (c, v) => {
      s"""
         |${ev.value} = graft.functions.NearestInCodebook.nearest($booksRef, $c, $v);
         |if (${ev.value} == Long.MIN_VALUE) { ${ev.isNull} = true; }
       """.stripMargin
    })
    code
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "nearest_in_codebook"
}

object NearestInCodebook {
  /** Long.MinValue = no codebook for this cell (mapped to NULL). */
  def nearest(books: java.util.HashMap[java.lang.Long, CellBook],
      cell: Long, vec: ArrayData): Long = {
    val b = books.get(cell)
    if (b == null || b.ids.length == 0) return Long.MinValue
    val n = math.min(b.dim, vec.numElements())
    var bestId = Long.MinValue
    var bestDot = Double.NegativeInfinity
    var j = 0
    while (j < b.ids.length) {
      var dot = 0.0
      var i = 0
      val off = j * b.dim
      while (i < n) { dot += vec.getDouble(i) * b.flat(off + i); i += 1 }
      // both the former plan and the oracle rank on round(dot, 6), so
      // the argmax compares the SAME rounded values
      val r = SqlMath.roundHalfUp(dot, 6)
      // Double.compare, not '>': the former join+max_by plan (and
      // DuckDB's ORDER BY) use total ordering with NaN as GREATEST, so
      // a NaN dot (possible if a sub-centroid mean is the zero vector
      // and unitVec yields NaN components) must win here too, wherever
      // it appears in the codebook — strict '>' would only ever select
      // it at index 0.
      if (bestId == Long.MinValue || java.lang.Double.compare(r, bestDot) > 0) {
        bestDot = r; bestId = b.ids(j)
      }
      j += 1
    }
    bestId
  }
}

/** Product-quantization codebook: `m` subspaces × `k` codes × `dsub`
  * dims each, flat at `flat[(j*k + c)*dsub + d]`. Bounded plan
  * reference: 8 × 16 × 8 doubles = 8 KB at the gate config, ≤ 1 MB at
  * a production 16 × 256 × 8 — never a joined or broadcast relation.
  * The POINT of PQ (Jégou et al. 2011, TPAMI "Product Quantization for
  * Nearest Neighbor Search"): the inverted file stores `m` small ints
  * per vector instead of `dim` doubles — 64 × less scan bandwidth and
  * cache footprint at serving time, which is what keeps a 10⁹-vector
  * index memory-resident on a realistic cluster. */
final class PqBook(val m: Int, val k: Int, val dsub: Int, val flat: Array[Double])
  extends Serializable {
  require(flat.length == m * k * dsub, "flat block must be m x k x dsub")
  override def equals(o: Any): Boolean = o match {
    case b: PqBook => m == b.m && k == b.k && dsub == b.dsub &&
      java.util.Arrays.equals(flat, b.flat)
    case _ => false
  }
  override def hashCode(): Int = java.util.Arrays.hashCode(flat) * 31 + m * 7 + k
}

/** Codegen'd PQ encoder: per subspace j, the code of the centroid with
  * the LOWEST `round(ΣΔ², 6)` (lowest code on ties — mirrored by the
  * oracle's `ORDER BY round(d2, 6) ASC, code ASC`). L2, not dot: PQ
  * sub-vectors are not unit (slices of unit vectors), so dot-argmax
  * would favor large-norm centroids; L2 is the standard PQ metric. One
  * fused projection over the corpus, m·k·dsub mults per row, inside
  * WholeStageCodegen — the [[NearestInCodebook]] argument applied to
  * quantization. */
case class PqEncode(child: Expression, book: PqBook) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(vec: Any): Any =
    PqOps.encode(book, vec.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bookRef = ctx.addReferenceObj("pqbook", book, classOf[PqBook].getName)
    defineCodeGen(ctx, ev, v => s"graft.functions.PqOps.encode($bookRef, $v)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "pq_encode"
}

/** Codegen'd asymmetric-distance (ADC) dot estimate in MICRO units:
  * Σⱼ round(⟨qu_j, cb[j][codes[j]]⟩ · 1e6) as a Long. The per-subspace
  * partials are quantized to integer micros BEFORE the cross-subspace
  * sum so the accumulation is association-free — the exact cross-engine
  * FP discipline every scaled mean in this repo uses, here doubling as
  * the fixed-point ADC accumulate real serving kernels run. Callers
  * divide by 1e6 for the score (exact: |Σ| ≪ 2⁵³). */
case class PqAdcMicros(left: Expression, right: Expression, book: PqBook)
  extends BinaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(qu: Any, codes: Any): Any =
    PqOps.adcMicros(book, qu.asInstanceOf[ArrayData], codes.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bookRef = ctx.addReferenceObj("pqbook", book, classOf[PqBook].getName)
    defineCodeGen(ctx, ev, (q, c) => s"graft.functions.PqOps.adcMicros($bookRef, $q, $c)")
  }
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
  override def prettyName: String = "pq_adc_micros"
}

object PqOps {
  /** Per-subspace argmin-L2 codes. Tie/NaN contract: codes ascend, a
    * candidate wins only with a strictly SMALLER rounded d2 under
    * Double.compare total order (NaN greatest) — identical to
    * `row_number() OVER (ORDER BY round(d2, 6) ASC, code ASC)`. */
  def encode(b: PqBook, vec: ArrayData): ArrayData = {
    val codes = new Array[Long](b.m)
    var j = 0
    while (j < b.m) {
      var bestCode = -1L
      var bestD2 = 0.0
      var c = 0
      while (c < b.k) {
        var d2 = 0.0
        var d = 0
        val off = (j * b.k + c) * b.dsub
        val voff = j * b.dsub
        while (d < b.dsub) {
          val diff = vec.getDouble(voff + d) - b.flat(off + d)
          d2 += diff * diff
          d += 1
        }
        val r = SqlMath.roundHalfUp(d2, 6)
        if (bestCode < 0 || java.lang.Double.compare(r, bestD2) < 0) {
          bestD2 = r; bestCode = c
        }
        c += 1
      }
      codes(j) = bestCode
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }

  /** Σⱼ round(partial_j · 1e6): the per-subspace dot runs d ascending
    * (a fixed left-assoc chain — the oracle mirrors it term for term),
    * then quantizes, so the Long sum is order-free. */
  def adcMicros(b: PqBook, qu: ArrayData, codes: ArrayData): Long = {
    var total = 0L
    var j = 0
    while (j < b.m) {
      val c = codes.getLong(j).toInt
      val off = (j * b.k + c) * b.dsub
      val voff = j * b.dsub
      var pdot = 0.0
      var d = 0
      while (d < b.dsub) { pdot += qu.getDouble(voff + d) * b.flat(off + d); d += 1 }
      // HALF_UP (away from zero), NOT math.round (floor(x+0.5)): the
      // partials are signed and SQL round() sends -0.5 to -1
      total += java.math.BigDecimal.valueOf(pdot * 1e6)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      j += 1
    }
    total
  }
}

object CodebookFunctions {
  /** Build the single-cell (flat) codebook map: cell 0 holds every
    * entry. */
  def flatBook(entries: Seq[(Long, Array[Double])], dim: Int)
      : java.util.HashMap[java.lang.Long, CellBook] = {
    val m = new java.util.HashMap[java.lang.Long, CellBook]()
    m.put(0L, cellBookOf(entries, dim))
    m
  }

  /** Build a per-cell codebook map from (cell, id, vector) entries. */
  def cellBooks(entries: Seq[(Long, Long, Array[Double])], dim: Int)
      : java.util.HashMap[java.lang.Long, CellBook] = {
    val m = new java.util.HashMap[java.lang.Long, CellBook]()
    entries.groupBy(_._1).foreach { case (cell, es) =>
      m.put(cell, cellBookOf(es.map(e => (e._2, e._3)), dim))
    }
    m
  }

  private def cellBookOf(entries: Seq[(Long, Array[Double])], dim: Int): CellBook = {
    val sorted = entries.sortBy(_._1)
    new CellBook(sorted.map(_._1).toArray, sorted.flatMap(_._2).toArray, dim)
  }

  def nearestInCodebook(cell: Column, vec: Column,
      books: java.util.HashMap[java.lang.Long, CellBook]): Column =
    Bridge.column(NearestInCodebook(Bridge.expression(cell), Bridge.expression(vec), books))

  def pqEncode(vec: Column, book: PqBook): Column =
    Bridge.column(PqEncode(Bridge.expression(vec), book))

  def pqAdcMicros(qu: Column, codes: Column, book: PqBook): Column =
    Bridge.column(PqAdcMicros(Bridge.expression(qu), Bridge.expression(codes), book))
}
