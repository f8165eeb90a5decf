package graft.plans

import graft.functions.{GcDistExpr, HpixCoverExpr, HpixExpr, CosineSimExpr, Int8QuantizeExpr, MinHashSigExpr, NfcNormalizeExpr, QuantCosExpr, SimHashExpr, WordShinglesExpr}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/**
 * Catalyst integration: an optimizer rule that turns spherical
 * distance predicates into scan-pushable range predicates, plus SQL
 * registration of the graft expressions.
 *
 * The reference engine prunes cone searches manually against its
 * partition map (hipscat/catalog.py:99-114); here the same idea is
 * an optimizer rewrite, so ANY query — including ad-hoc
 * `spark.sql("... WHERE gc_dist(ra, dec, 30, 10) < 1")` — gets
 * file/row-group pruning for free.
 */
object SpatialFilterPushdown extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(cond, child) =>
      val extra = splitConjunctivePredicates(cond).flatMap(boundsFor)
        .filterNot(b => splitConjunctivePredicates(cond).exists(_.semanticEquals(b)))
      if (extra.isEmpty) f
      else Filter(extra.foldLeft(cond)(And), child)
  }

  private def splitConjunctivePredicates(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjunctivePredicates(l) ++ splitConjunctivePredicates(r)
    case other => Seq(other)
  }

  /**
   * gc_dist(raAttr, decAttr, lit, lit) < r  (either argument order)
   * => conservative dec / ra range bounds on the attributes.
   */
  private def boundsFor(p: Expression): Seq[Expression] = p match {
    case LessThan(GcDistExpr(ra, dec, Lit(ra0), Lit(dec0)), Lit(r)) => bounds(ra, dec, ra0, dec0, r)
    case LessThanOrEqual(GcDistExpr(ra, dec, Lit(ra0), Lit(dec0)), Lit(r)) => bounds(ra, dec, ra0, dec0, r)
    case LessThan(GcDistExpr(Lit(ra0), Lit(dec0), ra, dec), Lit(r)) => bounds(ra, dec, ra0, dec0, r)
    case LessThanOrEqual(GcDistExpr(Lit(ra0), Lit(dec0), ra, dec), Lit(r)) => bounds(ra, dec, ra0, dec0, r)
    case GreaterThan(Lit(r), GcDistExpr(ra, dec, Lit(ra0), Lit(dec0))) => bounds(ra, dec, ra0, dec0, r)
    case _ => Nil
  }

  /** Extract a foldable numeric literal (possibly under casts). */
  private object Lit {
    def unapply(e: Expression): Option[Double] = e match {
      case Literal(v: Double, _) => Some(v)
      case Literal(v: Float, _) => Some(v.toDouble)
      case Literal(v: Int, _) => Some(v.toDouble)
      case Literal(v: Long, _) => Some(v.toDouble)
      case Literal(v: org.apache.spark.sql.types.Decimal, _) => Some(v.toDouble)
      case Cast(Lit(v), _, _, _) => Some(v)
      case _ => None
    }
  }

  private def lit(d: Double): Expression = Literal(d)

  /** Conservative dec / ra range bounds of the cone (ra0, dec0, r)
   *  over `ra`/`dec`: shared with `Spatial.coneSearch`'s prefilter. */
  private[graft] def bounds(ra: Expression, dec: Expression, ra0: Double, dec0: Double, r: Double): Seq[Expression] = {
    // only rewrite when the operands are plain references/cheap
    // expressions over attributes (else duplicating them may repeat work)
    if (ra.references.isEmpty || dec.references.isEmpty) return Nil
    val decLo = dec0 - r
    val decHi = dec0 + r
    val decBounds = Seq(GreaterThanOrEqual(dec, lit(decLo)), LessThanOrEqual(dec, lit(decHi)))
    val maxAbsDec = math.max(math.abs(decLo), math.abs(decHi))
    val sinRatio = math.sin(math.toRadians(r)) / math.cos(math.toRadians(math.min(89.9, maxAbsDec)))
    // gc_dist is periodic in RA, so the stored column may use any
    // 360-shifted convention ([0,360), [-180,180), ...). Bound with a
    // disjunction of plain ranges over the k in {-1,0,1} aliases —
    // still scan-pushable (parquet pushes Or-of-ranges), unlike
    // pmod(ra,360) which would hide the attribute from stats pruning.
    val ra0n = ((ra0 % 360) + 360) % 360
    val raBounds =
      if (maxAbsDec < 89.0 && sinRatio < 1.0) {
        val raHalf = math.toDegrees(math.asin(sinRatio)) + 1e-6
        if (ra0n - raHalf > 0 && ra0n + raHalf < 360) {
          def in(lo: Double, hi: Double): Expression =
            And(GreaterThanOrEqual(ra, lit(lo)), LessThanOrEqual(ra, lit(hi)))
          Seq(Or(Or(in(ra0n - raHalf, ra0n + raHalf),
            in(ra0n - raHalf - 360, ra0n + raHalf - 360)),
            in(ra0n - raHalf + 360, ra0n + raHalf + 360)))
        } else Nil
      } else Nil
    decBounds ++ raBounds
  }
}

/**
 * SparkSessionExtensions installer: optimizer rule + SQL functions.
 * Use `.withExtensions(GraftExtensions.install)` or set
 * `spark.sql.extensions=graft.plans.GraftExtensions`.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = GraftExtensions.install(e)
}

object GraftExtensions {
  import org.apache.spark.sql.types._

  // SQL literals arrive as DECIMAL/INT — normalize argument types
  private def d(e: Expression): Expression =
    if (e.dataType == DoubleType) e else Cast(e, DoubleType)
  private def i(e: Expression): Expression =
    if (e.dataType == IntegerType) e else Cast(e, IntegerType)
  private def fa(e: Expression): Expression =
    if (e.dataType == ArrayType(FloatType)) e else Cast(e, ArrayType(FloatType))

  val install: SparkSessionExtensions => Unit = { e =>
    e.injectOptimizerRule(_ => SpatialFilterPushdown)
    def info(name: String, usage: String) =
      new ExpressionInfo("graft", null, name, usage, "")
    e.injectFunction((FunctionIdentifier("hpix"),
      info("hpix", "hpix(ra, dec, order) - HEALPix NEST pixel id"),
      (args: Seq[Expression]) => HpixExpr(d(args(0)), d(args(1)), i(args(2)))))
    e.injectFunction((FunctionIdentifier("hpix_cover"),
      info("hpix_cover", "hpix_cover(ra, dec, order, radiusDeg) - conservative disc cover"),
      (args: Seq[Expression]) => HpixCoverExpr(d(args(0)), d(args(1)), i(args(2)), d(args(3)))))
    e.injectFunction((FunctionIdentifier("gc_dist"),
      info("gc_dist", "gc_dist(ra1, dec1, ra2, dec2) - great-circle distance in degrees"),
      (args: Seq[Expression]) => GcDistExpr(d(args(0)), d(args(1)), d(args(2)), d(args(3)))))
    e.injectFunction((FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(vecA, vecB) - cosine similarity of float vectors"),
      (args: Seq[Expression]) => CosineSimExpr(fa(args(0)), fa(args(1)))))
    e.injectFunction((FunctionIdentifier("word_shingles"),
      info("word_shingles", "word_shingles(text, n) - distinct word n-grams"),
      (args: Seq[Expression]) => WordShinglesExpr(args(0), i(args(1)))))
    e.injectFunction((FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(shingles, numPerms) - MinHash signature"),
      (args: Seq[Expression]) => MinHashSigExpr(args(0), i(args(1)))))
    e.injectFunction((FunctionIdentifier("simhash"),
      info("simhash", "simhash(tokens) - 64-bit SimHash"),
      (args: Seq[Expression]) => SimHashExpr(args(0))))
    e.injectFunction((FunctionIdentifier("int8_quantize"),
      info("int8_quantize", "int8_quantize(vec) - symmetric per-vector int8 quantization"),
      (args: Seq[Expression]) => Int8QuantizeExpr(fa(args(0)))))
    e.injectFunction((FunctionIdentifier("quant_cos"),
      info("quant_cos", "quant_cos(qvecA, qvecB) - cosine of int8-quantized vectors"),
      (args: Seq[Expression]) => QuantCosExpr(args(0), args(1))))
    e.injectFunction((FunctionIdentifier("nfc_normalize"),
      info("nfc_normalize", "nfc_normalize(text) - Unicode NFC normalization"),
      (args: Seq[Expression]) => NfcNormalizeExpr(args(0))))
  }
}
