package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst expression for the embedding hot path (SURVEY.md §2b
  * Q26; north-star similarity search).
  *
  * A dot product phrased as `aggregate(zip_with(a, b, *), 0.0, +)` is
  * correct but interpreted (higher-order functions don't participate in
  * whole-stage codegen and allocate a lambda frame per element). On the
  * O(candidates) rerank path of ANN/near-dup that interpretation cost
  * dominates the query. This expression generates a tight primitive loop
  * over the two `ArrayData` buffers inside whole-stage codegen — same
  * left-to-right DOUBLE fold semantics, so results stay byte-identical to
  * the DuckDB oracle and to the higher-order-function phrasing.
  *
  * Array nulls are not expected in the fixture corpus (embeddings are
  * dense); element nulls read as 0-valued primitives, matching
  * `ArrayData.getFloat` semantics.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  /** Element access below dispatches only on Float vs Double — any other
    * element type would read the unsafe buffer at the wrong width and
    * yield garbage doubles (observed: array<bigint> from Spark's
    * BIGINT-returning floor() silently scored every pair NaN). Reject at
    * analysis time instead. */
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val bad = Seq(left, right).map(_.dataType).filterNot {
      case ArrayType(FloatType | DoubleType, _) => true
      case _                                    => false
    }
    if (bad.isEmpty)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float|double> inputs, got ${bad.mkString(", ")}")
  }

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lt = elemType(left)
    val rt = elemType(right)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lt == FloatType) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rt == FloatType) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val lGet = if (elemType(left) == FloatType) "getFloat" else "getDouble"
      val rGet = if (elemType(right) == FloatType) "getFloat" else "getDouble"
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double) $a.$lGet($i) * (double) $b.$rGet($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Count of positions where two integral arrays agree — the MinHash
  * signature-agreement estimator's kernel (matches/K estimates Jaccard).
  * Same rationale as [[DotProduct]]: a per-pair primitive loop that stays
  * inside whole-stage codegen instead of an interpreted higher-order
  * `zip_with`. Accepts `array<int>` (the packed [[MinHashSig]] codomain)
  * or `array<bigint>`, both sides the SAME element type — a silent
  * int-vs-long mix would compare raw buffer words, so it is rejected at
  * analysis time. Nullable ELEMENTS are tolerated (file sources force
  * read-back schemas nullable, so a signature re-read from a parquet
  * band store arrives as `array<int, containsNull=true>` even though no
  * element is ever null); a null slot simply never counts as agreeing.
  */
case class ArrayEqCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "array_eq_count"

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two int arrays or two long arrays " +
            s"(same element type both sides), got $l, $r")
    }
  }

  private lazy val isInt =
    left.dataType.asInstanceOf[ArrayType].elementType == IntegerType
  private lazy val anyNullable =
    Seq(left, right).exists(_.dataType.asInstanceOf[ArrayType].containsNull)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (!(anyNullable && (x.isNullAt(i) || y.isNullAt(i))) &&
        (if (isInt) x.getInt(i) == y.getInt(i)
         else x.getLong(i) == y.getLong(i))) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      val get = if (isInt) "getInt" else "getLong"
      val nullGuard =
        if (anyNullable) s"!$a.isNullAt($i) && !$b.isNullAt($i) && " else ""
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $c = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($nullGuard$a.$get($i) == $b.$get($i)) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Engine-portable base hash for the sketch expressions: the leading
  * bytes of md5 over the UTF-8 token bytes. md5 is bit-identical in every
  * engine (unlike xxhash64 seeds/variants), which is what lets the whole
  * MinHash/SimHash pipeline be verified against a DuckDB SQL oracle:
  *   - [[md5Long64]] = first 16 hex chars as one signed 64-bit word —
  *     DuckDB `('0x' || substr(md5(t), 1, 16))::UBIGINT` (same bits).
  *   - [[md5Long60]] = first 15 hex chars (60 bits, always positive) —
  *     DuckDB `('0x' || substr(md5(t), 1, 15))::BIGINT`.
  * A thread-local digest instance: Expression instances can be shared
  * across task threads and MessageDigest is stateful.
  */
object PortableHash {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def md5Long64(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val d = md.get()
    d.reset()
    val h = d.digest(s.getBytes)
    ((h(0) & 0xffL) << 56) | ((h(1) & 0xffL) << 48) |
      ((h(2) & 0xffL) << 40) | ((h(3) & 0xffL) << 32) |
      ((h(4) & 0xffL) << 24) | ((h(5) & 0xffL) << 16) |
      ((h(6) & 0xffL) << 8) | (h(7) & 0xffL)
  }

  def md5Long60(s: org.apache.spark.unsafe.types.UTF8String): Long =
    md5Long64(s) >>> 4
}

/** 64-bit SimHash of a token array in a single pass: each token votes
  * ±tf on every bit of its 64-bit [[PortableHash]] md5 word; the sign of
  * the vote sum sets the output bit. The md5 base hash (rather than
  * xxhash64) makes the fingerprint engine-portable, so the SimHash
  * queries are fully DuckDB-oracle-checked.
  *
  * Replaces the explode-over-(token × 64 bits) formulation — which
  * shuffles tokens·64 rows per document — with a per-row O(tokens · 64)
  * bitwise loop: the operator becomes a pure narrow map, no shuffle at
  * all. `CodegenFallback` is fine here: the per-row work (a few thousand
  * bit ops) dwarfs the interpretation overhead, and the op count per
  * document is constant.
  */
case class SimHash64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = PortableHash.md5Long64(arr.getUTF8String(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** K-wide MinHash signature of a token array in a single pass, as
  * `array<long>`: token t contributes h = md5-low-60([[PortableHash]]),
  * and signature slot i keeps min((h mod p)·aᵢ + bᵢ mod p) over all
  * tokens, p = 2³¹−1 (products stay < 2⁶² — exact under ANSI arithmetic).
  * The md5 base makes the signature engine-portable: the universal-hash
  * family constants ([[MinHashSig.aParams]]/[[MinHashSig.bParams]]) are
  * plain literals both engines evaluate identically, so the full
  * MinHash+LSH pipeline has a DuckDB SQL oracle.
  *
  * Same motivation as [[SimHash64]]: the explode-over-tokens +
  * 64-min-aggregates formulation pays a shuffle of |tokens| rows and a
  * 64-column hash-aggregate; this is a pure narrow map with O(tokens · K)
  * integer ops per row. Duplicate tokens are harmless (min is
  * idempotent), so callers pass the raw token array.
  */
case class MinHashSig(child: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import MinHashSig.P

  // Every slot value lives in [0, P) ⊂ [0, 2³¹−1) — int carries it
  // exactly, and the packed signature HALVES the dominant band-exchange
  // payload of the LSH family (the volume knob of the ×1000 scale audit;
  // 64 slots: 512 B → 256 B per carried row). The empty-input sentinel is
  // P itself (== Int.MaxValue): unattainable by any real slot (values are
  // strictly mod P), and two empty docs still collide in every band —
  // the same equality semantics the Long.MaxValue sentinel had.
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  private val as: Array[Long] = MinHashSig.aParams(k)
  private val bs: Array[Long] = MinHashSig.bParams(k)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val mins = Array.fill(k)(P) // P == Int.MaxValue: the empty sentinel
    val n = arr.numElements()
    var t = 0
    while (t < n) {
      if (!arr.isNullAt(t)) {
        val hm = PortableHash.md5Long60(arr.getUTF8String(t)) % P
        var i = 0
        while (i < k) {
          val v = (hm * as(i) + bs(i)) % P
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.tabulate(k)(i => mins(i).toInt))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The universal-hash family constants, shared with the SQL oracle
  * generator (single source of truth — the DuckDB mirror interpolates
  * exactly these values). */
object MinHashSig {
  val P = 2147483647L // 2^31 - 1
  def aParams(k: Int): Array[Long] =
    Array.tabulate(k)(i => math.max(1L, (2654435761L * (i + 1)) % P))
  def bParams(k: Int): Array[Long] =
    Array.tabulate(k)(i => (40503L * i + 12345L) % P)
}

/** Intersection size of two SORTED string arrays by a two-pointer merge —
  * O(|a|+|b|) per pair with zero allocation. The verification kernel for
  * set-similarity joins: candidates come from a (blocked, prefix-filtered)
  * equi-join; this computes the exact overlap for the Jaccard test.
  * Inputs must be sorted ascending and duplicate-free (`array_sort ∘
  * array_distinct`), which callers compute once per document, not per
  * pair.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < nx && j < ny) {
      val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Witness-returning intersection of two SORTED long arrays by the same
  * two-pointer merge as [[SortedIntersectCount]] — the triangle-closing
  * kernel of the graph family (adjacency lists are node ids). Spark's
  * generic `array_intersect` builds a hash set per row pair; on the
  * O(m^{3/2}) hits join of `graph_local_cc` that constant factor
  * dominates the query. This is a primitive long/long merge inside
  * whole-stage codegen, allocating exactly one result buffer per pair.
  * Inputs must be sorted ascending and duplicate-free (callers sort the
  * adjacency list ONCE at aggregation time, not per pair); output is
  * sorted ascending — consumers (`explode`, `size`) are order-insensitive.
  */
case class SortedLongIntersect(left: Expression, right: Expression)
    extends BinaryExpression {

  // analysis-time type gate: getLong over a non-long UnsafeArrayData
  // would silently read garbage, so reject anything but array<long>
  // (AbstractDataType is private[sql], hence the manual check)
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VectorFunctions.requireLongArrays(prettyName, left, right)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sorted_long_intersect"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    val buf = new Array[Long](math.min(nx, ny))
    var i = 0
    var j = 0
    var c = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { buf(c) = xv; c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    val out = new Array[Long](c)
    System.arraycopy(buf, 0, out, 0, c)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val buf = ctx.freshName("buf")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |long[] $buf = new long[java.lang.Math.min($nx, $ny)];
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $buf[$c++] = $xv; $i++; $j++; }
         |  else if ($xv < $yv) $i++;
         |  else $j++;
         |}
         |long[] $out = new long[$c];
         |System.arraycopy($buf, 0, $out, 0, $c);
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Count-only twin of [[SortedLongIntersect]] for consumers that never
  * look at the witnesses (`graph_triangles`): same merge, zero
  * allocation. */
case class SortedLongIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VectorFunctions.requireLongArrays(prettyName, left, right)
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_long_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) $i++;
         |  else $j++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Squared-L2 distance of two float/double array columns as a native
  * whole-stage-codegen expression — the PQ family's ONE distance kernel
  * ([[graft.ops.SimOps]] `l2Fold`), previously phrased as
  * `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0.0, +)`. Higher-order
  * functions are CodegenFallback: every evaluation interprets two lambda
  * frames per element and allocates the zipped array, and the PQ encoders
  * evaluate this kernel M·K times per corpus row (r18 optimization round:
  * the interpreted form dominated every `ann_pq*`/`ann_ivfpq*` probe's
  * single-task stages). The fold semantics are replicated EXACTLY:
  *   - left-to-right `acc = acc + (x_i − y_i)²` in DOUBLE, acc starts 0.0
  *     (same IEEE-754 op sequence as the lambda, so results are
  *     bit-identical to the HOF phrasing and the DuckDB oracle);
  *   - `zip_with` pads the shorter array with null and a null element
  *     poisons the sum — so mismatched lengths or a null element yield
  *     NULL, exactly like the original;
  *   - float×float inputs (which the lambda would subtract in FLOAT) are
  *     rejected at analysis time rather than silently widened — every
  *     call site pairs a float/double vector with a double literal or a
  *     double array, so DOUBLE arithmetic is the one coercion that ever
  *     ran.
  */
case class SqL2Fold(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_l2sq"
  override def nullable: Boolean = true

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName: float×float would fold in FLOAT under zip_with " +
            "coercion; cast one side to array<double> explicitly")
      case (ArrayType(FloatType | DoubleType, _),
            ArrayType(FloatType | DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<float|double> inputs, got $l, $r")
    }
  }

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val lt = elemType(left)
    val rt = elemType(right)
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lt == FloatType) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rt == FloatType) y.getFloat(i).toDouble else y.getDouble(i)
      val d = xv - yv
      acc = acc + d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val lGet = if (elemType(left) == FloatType) "getFloat" else "getDouble"
      val rGet = if (elemType(right) == FloatType) "getFloat" else "getDouble"
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $d = (double) $a.$lGet($i) - (double) $b.$rGet($i);
         |    $acc = $acc + $d * $d;
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column-API front door for the native vector expressions. */
object VectorFunctions {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

  /** Shared analysis-time gate for the long-array merge kernels. The
    * kernels read elements with `getLong`, which on a null slot of an
    * UnsafeArrayData reads garbage rather than failing — so the gate
    * must reject nullable-element arrays outright, not just non-long
    * ones; a caller with `containsNull = true` fails analysis instead
    * of silently producing wrong intersections. */
  private[functions] def requireLongArrays(
      name: String, exprs: Expression*): TypeCheckResult = {
    val bad = exprs.map(_.dataType).filterNot {
      case ArrayType(LongType, false) => true
      case _                          => false
    }
    if (bad.isEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires array<bigint> inputs with non-null elements, " +
        s"got ${bad.mkString(", ")}")
  }
  /** Exact sequential-fold dot product of two float/double array columns,
    * in DOUBLE, as a whole-stage-codegen native expression. */
  def vecDot(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Exact sequential-fold squared-L2 distance of two float/double array
    * columns, in DOUBLE, as a whole-stage-codegen native expression. */
  def vecL2Sq(a: Column, b: Column): Column =
    ColumnBridge.column(
      SqL2Fold(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Count of agreeing positions between two long-array columns. */
  def arrayEqCount(a: Column, b: Column): Column =
    ColumnBridge.column(
      ArrayEqCount(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Exact overlap of two sorted, deduplicated string-array columns. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    ColumnBridge.column(
      SortedIntersectCount(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Witnesses common to two sorted, deduplicated long-array columns. */
  def sortedLongIntersect(a: Column, b: Column): Column =
    ColumnBridge.column(
      SortedLongIntersect(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Count-only twin of [[sortedLongIntersect]]. */
  def sortedLongIntersectCount(a: Column, b: Column): Column =
    ColumnBridge.column(
      SortedLongIntersectCount(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Single-pass K-wide MinHash signature of a token-array column. */
  def minhashSig(tokens: Column, k: Int): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(tokens), k))

  /** Single-pass 64-bit SimHash of a token-array column. */
  def simhash64(tokens: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(tokens)))
}
