package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expressions for the embedding hot path (SURVEY §2.11
  * preference order: codegen `Expression` > Scala UDF).
  *
  * The UDF forms (HashKernels.dotUdf / cosineUdf) deserialize each
  * ARRAY<FLOAT> into an Array[Float] on every invocation — for a top-k
  * scan that is two array copies per scored pair. These expressions read
  * the columnar `ArrayData` in place via `getFloat(i)` inside whole-stage
  * codegen: no copies, no boxing, and the surrounding filter/project fuse
  * into the same generated loop.
  *
  * Accumulation is double-precision left-to-right — the exact order of
  * HashKernels.dotD — so native and UDF paths are bit-identical and
  * interchangeable under the oracle hash check.
  */
abstract class FloatVectorBinary extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float>, array<float>), got $other")
  }
}

/** Σ a[i]·b[i] over the common prefix, in double precision. */
case class DotProductFloat(left: Expression, right: Expression)
    extends FloatVectorBinary {

  override def prettyName: String = "dot_f"

  protected override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductFloat =
    copy(left = newLeft, right = newRight)
}

/** Jaccard similarity of two SORTED-ASCENDING ARRAY<BIGINT> shingle sets
  * by linear merge — the codegen twin of HashKernels.jaccardSorted, which
  * the dedup family calls once per candidate pair: the UDF form copies
  * both long arrays per pair, this reads ArrayData in place. Inputs must
  * be sorted and deduplicated (HashKernels.hashedShingles emits exactly
  * that); 0.0 when both are empty, like the kernel.
  */
case class JaccardSortedLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sorted"
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(org.apache.spark.sql.types.LongType, _),
          ArrayType(org.apache.spark.sql.types.LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, array<bigint>), got $other")
  }

  protected override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val inter = ctx.freshName("inter")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |int $inter = 0;
         |int $i = 0; int $j = 0;
         |while ($i < $na && $j < $nb) {
         |  long $x = $a.getLong($i); long $y = $b.getLong($j);
         |  if ($x == $y) { $inter++; $i++; $j++; }
         |  else if ($x < $y) $i++;
         |  else $j++;
         |}
         |${ev.value} = ($na == 0 && $nb == 0)
         |  ? 0.0 : ((double) $inter) / ($na + $nb - $inter);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSortedLong =
    copy(left = newLeft, right = newRight)
}

/** [[JaccardSortedLong]] with a LOSSLESS threshold early-exit for the
  * `jaccard >= t` consumers (every dedup call site filters on the
  * threshold immediately after computing the value): the merge bails as
  * soon as `inter + min(remaining_a, remaining_b)` — the best possible
  * final intersection — drops below the smallest integer intersection
  * `m` whose jaccard rounds to ≥ t in double arithmetic, and returns
  * −1.0 (below every threshold in [0,1]). Pairs that can still qualify
  * run the FULL merge and return the bit-identical exact value, so a
  * downstream `>= t` filter sees exactly the rows [[JaccardSortedLong]]
  * would pass, with exactly the same jaccard column. `m` is derived by
  * direct probing of the double-rounded ratio (not the real-number
  * bound), so the exit can never disagree with the filter by a ulp.
  * At t = 0 the exit never fires and the kernel degenerates to the
  * plain merge. For dissimilar pairs under a high threshold (the
  * common case in near-dup truth builds) the merge stops after
  * ~(1−t/(1+t))·|smaller| steps instead of walking both arrays.
  */
case class JaccardSortedMinLong(left: Expression, right: Expression, t: Double)
    extends BinaryExpression {
  // t is spliced into generated Java: NaN/Infinity would not compile
  require(java.lang.Double.isFinite(t), s"jaccard_sorted_min: t must be finite, got $t")

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sorted_min"
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(org.apache.spark.sql.types.LongType, _),
          ArrayType(org.apache.spark.sql.types.LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, array<bigint>), got $other")
  }

  protected override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0
    val m = JaccardSortedMinLong.minQualifyingInter(na, nb, t)
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      if (inter + math.min(na - i, nb - j) < m) return -1.0
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val inter = ctx.freshName("inter")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val m = ctx.freshName("m")
      val rem = ctx.freshName("rem")
      val bail = ctx.freshName("bail")
      val cls = JaccardSortedMinLong.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |int $inter = 0;
         |boolean $bail = false;
         |if ($na != 0 || $nb != 0) {
         |  int $m = $cls.minQualifyingInter($na, $nb, $t);
         |  int $i = 0; int $j = 0;
         |  while ($i < $na && $j < $nb) {
         |    int $rem = ($na - $i < $nb - $j) ? ($na - $i) : ($nb - $j);
         |    if ($inter + $rem < $m) { $bail = true; break; }
         |    long $x = $a.getLong($i); long $y = $b.getLong($j);
         |    if ($x == $y) { $inter++; $i++; $j++; }
         |    else if ($x < $y) $i++;
         |    else $j++;
         |  }
         |}
         |${ev.value} = $bail ? -1.0 : (($na == 0 && $nb == 0)
         |  ? 0.0 : ((double) $inter) / ($na + $nb - $inter));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSortedMinLong =
    copy(left = newLeft, right = newRight)
}

object JaccardSortedMinLong {
  /** Smallest intersection count whose DOUBLE-ROUNDED jaccard is ≥ t for
    * set sizes (na, nb) — probed directly against the rounded ratio so
    * the early exit and the downstream `>= t` filter can never disagree.
    * Monotonicity: inter/(na+nb−inter) is increasing in inter, and
    * double rounding preserves ≤, so "final inter < m" implies the
    * rounded jaccard is < t.
    */
  def minQualifyingInter(na: Int, nb: Int, t: Double): Int = {
    if (t <= 0.0) return 0
    val upper = math.min(na, nb)
    def q(m: Int): Double = m.toDouble / (na.toLong + nb - m)
    var m = math.ceil(t / (1.0 + t) * (na.toLong + nb)).toInt
    if (m > upper) m = upper + 1
    while (m > 0 && q(m - 1) >= t) m -= 1
    while (m <= upper && q(m) < t) m += 1
    m
  }
}

/** Cosine similarity with the dot and both norms fused into ONE pass over
  * the arrays; 0.0 when either vector has zero norm.
  */
case class CosineSimFloat(left: Expression, right: Expression)
    extends FloatVectorBinary {

  override def prettyName: String = "cosine_f"

  protected override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var num = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      num += x * y; na += x * x; nb += y * y
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d > 0) num / d else 0.0
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val num = ctx.freshName("num")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $num = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.getFloat($i);
         |  double $y = (double) $b.getFloat($i);
         |  $num += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |double $d = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |${ev.value} = ($d > 0.0) ? ($num / $d) : 0.0;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimFloat =
    copy(left = newLeft, right = newRight)
}
