package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** Native codegen'd IVF/PQ kernels for LARGE centroid/codebook sets —
  * the 100 TB route of [[graft.ops.IvfKit]] / [[graft.ops.ProductQuantizer]].
  *
  * Why a custom `Expression` tier exists here (SURVEY §7.3): the
  * per-centroid-unrolled fold forms livelock Catalyst's runtime
  * subexpression elimination past ~16 lists (quadratic pairwise
  * deep-equals over nLists·dim-sized subtrees — measured 780+ s of
  * task-setup CPU, SCALEPROBE round 15), and the round-15 replacement
  * (one `transform` lambda over a centroid array literal) fixed the
  * tree size but pays at RUN time: higher-order functions evaluate
  * interpreted — no whole-stage codegen — and nothing hoists ‖v‖ out
  * of the lambda body, so the ranking cost grew linear-in-nLists per
  * row with a big constant (measured 494 s staged-train window at
  * nLists=16 vs 119 s at 4). These expressions are the third shape:
  * ONE tree node (no CSE surface at any list count), one compiled
  * loop per row (no per-element Catalyst eval), query norm and
  * centroid norms computed once. A broadcast centroid-table join was
  * considered and rejected: the join itself broadcasts fine, but
  * reducing the exploded |corpus|×nLists pairs back to a per-row
  * argmax needs a corpus-wide shuffle — this stays a narrow map.
  *
  * Bit-identity contract (pinned by IvfRouteSpec, zero tolerance):
  * every fold below runs the SAME IEEE ops in the SAME left-to-right
  * order as the unrolled small-set forms, so switching routes on set
  * size is invisible to every oracle — dot folds v·c ascending, the
  * norm product is ‖v‖·‖c‖, L2² folds (x−y)² ascending, ranking
  * sorts (cosine DESC, centroid id ASC on ties) with NULL cosines
  * last, exactly `sort_array(struct(c, nid), asc = false)`.
  *
  * The centroid/codebook payload rides a real `Broadcast` HANDLE, not
  * a baked literal (round 17): the baked-`IndexedSeq` form was
  * measured fine at the fixtures' 64×64 shape (~60 KB) but at a real
  * index shape (4096 lists × 1024 dims) the boxed payload serialized
  * to 56 MB costing ~2.3 s to write and ~1.0 s to read PER STAGE,
  * with `semanticEquals` walking 4M boxed doubles per candidate pair
  * (SCALEPROBE.md "IVF/PQ kernel payload: baked literal → Broadcast
  * handle (round 17)"). The broadcast form ships a
  * flat PRIMITIVE payload ONCE per query (TorrentBroadcast: executors
  * fetch once and cache, every later stage reuses it), the plan
  * carries an O(1) handle, and canonicalization/equality are O(1)
  * reference compares — false-negative equality only, which can skip
  * a CSE reuse but never miscompile. Per-centroid norms are
  * precomputed driver-side INTO the payload with the same fold as
  * before (per-centroid constants — no bit changes; IvfRouteSpec's
  * exact references re-pin the route). One route at every size: a
  * small-set threshold would reintroduce the route split round 16
  * deleted.
  */
object IvfNative {
  /** Flat-primitive broadcast payload of a coarse centroid set:
    * `flat` concatenates the centroid vectors, `offs(j)..offs(j+1)`
    * brackets centroid j, `normC(j)` its precomputed ‖c‖ (same
    * left-to-right fold + sqrt as the literal
    * `sqrt(aggregate(transform(c, x*x)))` — a per-centroid constant,
    * so hoisting it driver-side changes no bits). Primitive arrays
    * serialize as bulk writes — measured 56→34 MB and seconds→tens of
    * ms on the 4096×1024 shape vs the boxed nested `IndexedSeq`s. */
  final class CentroidPayload(val ids: Array[Long], val dims: Array[Int],
                              val offs: Array[Int], val flat: Array[Double],
                              val normC: Array[Double]) extends Serializable {
    def n: Int = ids.length
  }

  def centroidPayload(ids: IndexedSeq[Long],
                      cents: IndexedSeq[IndexedSeq[Double]]): CentroidPayload = {
    val n = cents.length
    val dims = new Array[Int](n)
    var j = 0
    while (j < n) { dims(j) = cents(j).length; j += 1 }
    val offs = dims.scanLeft(0)(_ + _)
    val flat = new Array[Double](offs(n))
    j = 0
    while (j < n) {
      val c = cents(j)
      var i = 0
      while (i < c.length) { flat(offs(j) + i) = c(i); i += 1 }
      j += 1
    }
    val normC = Array.tabulate(n) { jj =>
      var s = 0.0
      var i = offs(jj)
      while (i < offs(jj + 1)) { s += flat(i) * flat(i); i += 1 }
      math.sqrt(s)
    }
    new CentroidPayload(ids.toArray, dims, offs, flat, normC)
  }

  /** Flat-primitive broadcast payload of ONE PQ subspace codebook
    * (k codewords × subDim). */
  final class CodebookPayload(val k: Int, val subDim: Int,
                              val flat: Array[Double]) extends Serializable

  def codebookPayload(codebook: IndexedSeq[IndexedSeq[Double]]): CodebookPayload = {
    val k = codebook.length
    val subDim = if (k == 0) 0 else codebook.head.length
    val flat = new Array[Double](k * subDim)
    var ki = 0
    while (ki < k) {
      val c = codebook(ki)
      var i = 0
      while (i < subDim) { flat(ki * subDim + i) = c(i); i += 1 }
      ki += 1
    }
    new CodebookPayload(k, subDim, flat)
  }
  /** Descending (c, nid)-struct comparison matching
    * `sort_array(asc = false)` over `struct(c: double, nid: long)`:
    * struct fields compare in order with SQL double semantics
    * (`SQLOrderingUtil.compareDoubles`: -0.0 == 0.0, NaN largest) and
    * a null field smallest — reversed, so null cosines land LAST and
    * nid descending (= centroid id ascending) breaks ties. */
  private[functions] def rankCompare(cosA: Double, nullA: Boolean, nidA: Long,
                                     cosB: Double, nullB: Boolean, nidB: Long): Int =
    if (nullA && nullB) java.lang.Long.compare(nidB, nidA)
    else if (nullA) 1
    else if (nullB) -1
    else {
      val c = SQLOrderingUtil.compareDoubles(cosA, cosB)
      if (c != 0) -c else java.lang.Long.compare(nidB, nidA)
    }
}

/** Per-row coarse ranking: the top-`keep` of `struct(c, nid)` over the
  * baked centroid set, cosine DESC / id ASC, NULL-cosine (zero-norm,
  * null-element, or length-mismatch — the `zip_with`-pad semantics)
  * structs ranked last. Returns `array<struct<c: double, nid: bigint>>`
  * exactly like the unrolled `sort_array` form; never NULL itself (a
  * NULL input vector ranks every cosine NULL, as the literal forms
  * do). */
case class IvfCoarseRank(child: Expression,
                         bc: org.apache.spark.broadcast.Broadcast[IvfNative.CentroidPayload],
                         keep: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"ivf_coarse_rank requires array<double>, got ${dt.simpleString}")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("c", DoubleType, nullable = true),
    StructField("nid", LongType, nullable = false))), containsNull = false)

  override def nullable: Boolean = false
  override def prettyName: String = "ivf_coarse_rank"

  // one broadcast dereference per task-thread lifetime, not per row
  @transient private lazy val p: IvfNative.CentroidPayload = bc.value

  override def eval(input: InternalRow): Any =
    rankAny(child.eval(input).asInstanceOf[ArrayData])

  def rankAny(v: ArrayData): ArrayData = {
    val n = p.n
    val ids = p.ids
    val dims = p.dims
    val offs = p.offs
    val flat = p.flat
    val normC = p.normC
    val cos = new Array[Double](n)
    val isNull = new Array[Boolean](n)
    if (v == null) java.util.Arrays.fill(isNull, true)
    else {
      val nv = v.numElements()
      // ‖v‖: null-poisoned by any null element (the literal form's
      // aggregate over transform(v, x*x))
      var vNull = false
      var nrmV = 0.0
      var i = 0
      while (i < nv && !vNull) {
        if (v.isNullAt(i)) vNull = true
        else { val x = v.getDouble(i); nrmV += x * x }
        i += 1
      }
      val normV = math.sqrt(nrmV)
      var j = 0
      while (j < n) {
        if (vNull || nv != dims(j)) isNull(j) = true
        else {
          var dot = 0.0
          var k = 0
          val o = offs(j)
          while (k < nv) { dot += v.getDouble(k) * flat(o + k); k += 1 }
          val np = normV * normC(j)
          if (np > 0) cos(j) = dot / np else isNull(j) = true
        }
        j += 1
      }
    }
    val order = new Array[Integer](n)
    var j = 0
    while (j < n) { order(j) = Integer.valueOf(j); j += 1 }
    java.util.Arrays.sort(order, new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int =
        IvfNative.rankCompare(cos(a), isNull(a), -ids(a),
          cos(b), isNull(b), -ids(b))
    })
    val m = math.min(keep, n)
    val out = new Array[Any](m)
    j = 0
    while (j < m) {
      val q = order(j).intValue()
      out(j) = new GenericInternalRow(Array[Any](
        if (isNull(q)) null else java.lang.Double.valueOf(cos(q)), -ids(q)))
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfRank", this, classOf[IvfCoarseRank].getName)
    val childGen = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      ${childGen.code}
      $javaType ${ev.value} = $ref.rankAny(
        ${childGen.isNull} ? null :
        (org.apache.spark.sql.catalyst.util.ArrayData) ${childGen.value});
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): IvfCoarseRank =
    copy(child = newChild)
}

/** Cosine similarity over two `array<double>` columns with
  * [[graft.ops.IvfKit]]'s exact semantics — the pair-scoring kernel
  * for double-vector joins (x12/x39 candidate scoring), where the
  * `aggregate`/`zip_with` formulation paid three interpreted
  * array-walks per candidate pair. One compiled pass; NULL on a null
  * element, a length mismatch (the `zip_with`-pad semantics), or a
  * zero norm product (`dot / when(na·nb > 0, na·nb)` — never an ANSI
  * divide error). Each accumulator folds left-to-right, so the value
  * is bit-identical to the three-fold literal form. Distinct from
  * [[VecCosine]] (float vectors, plain division) — embedding columns
  * cast to double for decimal-exact centroid work ride this one. */
case class VecCosineD(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vec_cosine_d requires two array<double> arguments, got " +
        s"${l.simpleString} and ${r.simpleString}")
    }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_cosine_d"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    cosineOf(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  def cosineOf(a: ArrayData, b: ArrayData): Any = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val np = math.sqrt(na) * math.sqrt(nb)
    if (np > 0) java.lang.Double.valueOf(dot / np) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cosD", this, classOf[VecCosineD].getName)
    // freshName, NOT a fixed local: when both children are
    // non-nullable, nullSafeExec emits this block without enclosing
    // braces, so two instances in one codegen scope with a fixed name
    // would produce a duplicate-variable javac error (silent
    // whole-stage fallback in production, hard fail under the spec's
    // CODEGEN_ONLY mode).
    val res = ctx.freshName("cosResult")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      Object $res = $ref.cosineOf(
        (org.apache.spark.sql.catalyst.util.ArrayData) $a,
        (org.apache.spark.sql.catalyst.util.ArrayData) $b);
      if ($res == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ((java.lang.Double) $res).doubleValue(); }
    """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecCosineD =
    copy(left = newLeft, right = newRight)
}

/** Per-row residual `v − c(listId)` against the baked centroid set:
  * O(1) id lookup + one compiled elementwise subtract, replacing the
  * interpreted `try_element_at(filter(centsLit, …))` scan that cost
  * O(nLists) per row. NULL on unknown/null list id or null vector;
  * element-level nulls follow `zip_with`'s pad semantics (result
  * length is max of the two, null where either side is missing or
  * null). */
case class IvfResidual(left: Expression, right: Expression,
                       bc: org.apache.spark.broadcast.Broadcast[IvfNative.CentroidPayload])
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"ivf_residual requires (array<double>, bigint), got " +
        s"${l.simpleString} and ${r.simpleString}")
    }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "ivf_residual"

  @transient private lazy val byId: java.util.HashMap[Long, Array[Double]] = {
    val p = bc.value
    val m = new java.util.HashMap[Long, Array[Double]](p.n * 2)
    var j = 0
    while (j < p.n) {
      m.put(p.ids(j),
        java.util.Arrays.copyOfRange(p.flat, p.offs(j), p.offs(j + 1)))
      j += 1
    }
    m
  }

  override protected def nullSafeEval(v: Any, listId: Any): Any =
    residualOf(v.asInstanceOf[ArrayData], listId.asInstanceOf[Long])

  def residualOf(v: ArrayData, listId: Long): ArrayData = {
    val c = byId.get(listId)
    if (c == null) return null
    val nv = v.numElements()
    val m = math.max(nv, c.length)
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      out(i) =
        if (i >= nv || i >= c.length || v.isNullAt(i)) null
        else java.lang.Double.valueOf(v.getDouble(i) - c(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfRes", this, classOf[IvfResidual].getName)
    nullSafeCodeGen(ctx, ev, (v, id) => s"""
      ${ev.value} = $ref.residualOf(
        (org.apache.spark.sql.catalyst.util.ArrayData) $v, $id);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IvfResidual =
    copy(left = newLeft, right = newRight)
}

/** L2² of `v`'s subvector `[offset, offset + subDim)` against every
  * centroid of one PQ codebook, as a `k`-element double array — the
  * large-`k` route of [[graft.ops.ProductQuantizer]]'s `dist2Arr`,
  * one compiled (x−y)² left-fold per codeword. Element nulls follow
  * the `slice` + `zip_with` semantics of the literal forms: when the
  * subrange is incomplete or carries a null, EVERY element is null
  * (and a NULL input vector yields the all-null array, not NULL). */
case class PqSubspaceDist2(child: Expression, offset: Int,
                           bc: org.apache.spark.broadcast.Broadcast[IvfNative.CodebookPayload])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"pq_subspace_dist2 requires array<double>, got ${dt.simpleString}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "pq_subspace_dist2"

  @transient private lazy val p: IvfNative.CodebookPayload = bc.value

  override def eval(input: InternalRow): Any =
    dist2Any(child.eval(input).asInstanceOf[ArrayData])

  def dist2Any(v: ArrayData): ArrayData = {
    val k = p.k
    val subDim = p.subDim
    val flat = p.flat
    var bad = v == null || v.numElements() < offset + subDim
    if (!bad) {
      var i = offset
      while (i < offset + subDim && !bad) { bad = v.isNullAt(i); i += 1 }
    }
    val out = new Array[Any](k)
    if (!bad) {
      var ki = 0
      while (ki < k) {
        var s = 0.0
        var i = 0
        val o = ki * subDim
        while (i < subDim) {
          val d = v.getDouble(offset + i) - flat(o + i)
          s += d * d
          i += 1
        }
        out(ki) = java.lang.Double.valueOf(s)
        ki += 1
      }
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqDist", this, classOf[PqSubspaceDist2].getName)
    val childGen = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      ${childGen.code}
      $javaType ${ev.value} = $ref.dist2Any(
        ${childGen.isNull} ? null :
        (org.apache.spark.sql.catalyst.util.ArrayData) ${childGen.value});
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): PqSubspaceDist2 =
    copy(child = newChild)
}
