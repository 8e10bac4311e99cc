package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.{Decimal, NumericType}

/** Session extension wiring (SURVEY §4.2: no custom optimizer `Rule` or
  * `SparkStrategy` is required for this engine — every operator is
  * DataFrame-expressible — so the extension surface is native function
  * registration only).
  *
  * Use: `--conf spark.sql.extensions=graft.plans.GraftExtensions`, or
  * `.withExtensions(new GraftExtensions)` on the session builder; the
  * scalar UDF surface (graft.functions.SeqFunctions) is registered
  * per-session separately because plain UDFs don't need extension wiring.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.descriptors.foreach(ext.injectFunction)
}

object GraftExtensions {

  private type Descriptor =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def binary(
      name: String, cls: Class[_],
      build: (Expression, Expression) => Expression): Descriptor = (
    FunctionIdentifier(name),
    new ExpressionInfo(cls.getName, name),
    (children: Seq[Expression]) => {
      require(children.size == 2, s"$name(a, b) takes two arguments")
      build(children.head, children(1))
    })

  /** align_read(seq, qual, pos, cigar, minPos, maxPos, phredAdjust) —
    * the window bounds and phred offset must be integer literals (they
    * parameterize the kernel, not the row).
    */
  private def alignDescriptor: Descriptor = (
    FunctionIdentifier("align_read"),
    new ExpressionInfo(classOf[AlignReadExpr].getName, "align_read"),
    (children: Seq[Expression]) => {
      require(children.size == 7,
        "align_read(seq, qual, pos, cigar, minPos, maxPos, phredAdjust) takes 7 arguments")
      def lint(e: Expression, n: String): Int = e match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case _ => throw new IllegalArgumentException(
          s"align_read: $n must be an integer literal")
      }
      AlignReadExpr(children(0), children(1), children(2), children(3),
        lint(children(4), "minPos"), lint(children(5), "maxPos"),
        lint(children(6), "phredAdjust"))
    })

  /** cdc_chunks(text, w, maxFirstByte) — the chunking geometry must be
    * integer literals (they parameterize the kernel, not the row).
    */
  private def cdcDescriptor: Descriptor = (
    FunctionIdentifier("cdc_chunks"),
    new ExpressionInfo(classOf[CdcChunksExpr].getName, "cdc_chunks"),
    (children: Seq[Expression]) => {
      require(children.size == 3,
        "cdc_chunks(text, w, maxFirstByte) takes 3 arguments")
      def lint(e: Expression, n: String): Int = e match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case _ => throw new IllegalArgumentException(
          s"cdc_chunks: $n must be an integer literal")
      }
      CdcChunksExpr(children(0), lint(children(1), "w"),
        lint(children(2), "maxFirstByte"))
    })

  /** gear_chunks(text, maskBits, minSize, maxSize) — geometry must be
    * integer literals (they parameterize the kernel, not the row).
    */
  private def gearDescriptor: Descriptor = (
    FunctionIdentifier("gear_chunks"),
    new ExpressionInfo(classOf[GearChunksExpr].getName, "gear_chunks"),
    (children: Seq[Expression]) => {
      require(children.size == 4,
        "gear_chunks(text, maskBits, minSize, maxSize) takes 4 arguments")
      def lint(e: Expression, n: String): Int = e match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case _ => throw new IllegalArgumentException(
          s"gear_chunks: $n must be an integer literal")
      }
      GearChunksExpr(children(0), lint(children(1), "maskBits"),
        lint(children(2), "minSize"), lint(children(3), "maxSize"))
    })

  /** jaccard_sorted_min(sh_a, sh_b, t) — the threshold must be a
    * foldable numeric literal (it parameterizes the lossless early exit,
    * not the row). Any numeric type is taken as a double: SQL parses
    * `0.8` as a DECIMAL.
    */
  private def jaccardMinDescriptor: Descriptor = (
    FunctionIdentifier("jaccard_sorted_min"),
    new ExpressionInfo(classOf[JaccardSortedMinLong].getName, "jaccard_sorted_min"),
    (children: Seq[Expression]) => {
      require(children.size == 3,
        "jaccard_sorted_min(a, b, t) takes 3 arguments")
      val t = children(2) match {
        case e if e.foldable && e.dataType.isInstanceOf[NumericType] => e.eval() match {
          case d: Decimal => d.toDouble
          case n: Number => n.doubleValue
          case other => throw new IllegalArgumentException(
            s"jaccard_sorted_min: t must not be null, got $other")
        }
        case other => throw new IllegalArgumentException(
          s"jaccard_sorted_min: t must be a numeric literal, got $other")
      }
      JaccardSortedMinLong(children(0), children(1), t)
    })

  private[plans] val descriptors: Seq[Descriptor] = Seq(
    binary("hamming_distance", classOf[HammingDistance], HammingDistance.apply),
    binary("dot_f", classOf[DotProductFloat], DotProductFloat.apply),
    binary("cosine_f", classOf[CosineSimFloat], CosineSimFloat.apply),
    binary("jaccard_sorted", classOf[JaccardSortedLong], JaccardSortedLong.apply),
    jaccardMinDescriptor,
    alignDescriptor,
    cdcDescriptor,
    gearDescriptor)

  /** Register on an existing session (tests, notebooks); idempotent. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    descriptors.foreach { case (id, info, builder) =>
      if (!spark.sessionState.functionRegistry.functionExists(id))
        spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
