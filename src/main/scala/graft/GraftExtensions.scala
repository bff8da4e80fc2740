package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.expressions._

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions, so `spark.sql` users get the same
  * codegen'd hot loops as the DataFrame API:
  *
  *   minhash_sig(shingles, numHashes)
  *   lsh_band_keys(signature, bands, rowsPerBand)
  *   cosine_sim(a, b)
  *   lsh_sign_bits(vec, bits)
  *   char_ngrams(text, n)
  *   fingerprint(tokens)
  *   jaccard_sim(a, b)
  *   intersect_count(a, b)
  *   winnow_fps(text, k, w)
  *   nearest_centroids(vec, array(array(...), ...), k)
  *   sparse_dot(indices, values, array(w0, w1, ...))
  *   hashed_bow(tokens, dim)
  *
  * Activate with
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * or programmatically via `SparkSession.builder.withExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def lit(e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"expected integer literal argument, got $other")
  }

  /** Fold a constant array<array<double|float>> argument (e.g.
    * `array(array(1.0d, 0.0d), ...)`) into the centroid matrix
    * `NearestCentroidsExpr` ships with the plan.
    */
  private def centroidMatrix(e: Expression): Array[Array[Double]] = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    require(e.foldable, s"nearest_centroids needs a constant centroid matrix, got $e")
    val rowType = e.dataType match {
      case ArrayType(t: ArrayType, _) => t
      case t => throw new IllegalArgumentException(
        s"nearest_centroids needs array<array<double|float>> centroids, got $t")
    }
    e.eval(null).asInstanceOf[ArrayData]
      .toObjectArray(rowType)
      .map { row =>
        val ad = row.asInstanceOf[ArrayData]
        rowType.elementType match {
          case DoubleType => ad.toDoubleArray()
          case FloatType => ad.toFloatArray().map(_.toDouble)
          case t => throw new IllegalArgumentException(
            s"centroid elements must be double|float, got $t")
        }
      }
  }

  /** Fold a constant array<double|float> argument into the dense weight
    * vector `SparseDotExpr` ships with the plan.
    */
  private def weightVector(e: Expression): Array[Double] = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    require(e.foldable, s"sparse_dot needs a constant weight vector, got $e")
    e.dataType match {
      case ArrayType(DoubleType, _) =>
        e.eval(null).asInstanceOf[ArrayData].toDoubleArray()
      case ArrayType(FloatType, _) =>
        e.eval(null).asInstanceOf[ArrayData].toFloatArray().map(_.toDouble)
      case t => throw new IllegalArgumentException(
        s"sparse_dot weights must be array<double|float>, got $t")
    }
  }

  /** The native SQL functions, one row each: SQL name, expression class
    * (for `ExpressionInfo`) and builder. Both registration paths —
    * [[registerOn]] and [[apply]] — read this one table.
    */
  private val functions: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("minhash_sig", classOf[MinHashSigExpr],
      args => MinHashSigExpr(args(0), lit(args(1)))),
    ("lsh_band_keys", classOf[BandKeysExpr],
      args => BandKeysExpr(args(0), lit(args(1)), lit(args(2)))),
    ("cosine_sim", classOf[CosineSimExpr],
      args => CosineSimExpr(args(0), args(1))),
    ("lsh_sign_bits", classOf[LshSignBitsExpr],
      args => LshSignBitsExpr(args(0), lit(args(1)))),
    ("char_ngrams", classOf[CharNgramsExpr],
      args => CharNgramsExpr(args(0), lit(args(1)))),
    ("fingerprint", classOf[FingerprintExpr],
      args => FingerprintExpr(args(0))),
    ("jaccard_sim", classOf[JaccardExpr],
      args => JaccardExpr(args(0), args(1))),
    ("intersect_count", classOf[IntersectCountExpr],
      args => IntersectCountExpr(args(0), args(1))),
    ("winnow_fps", classOf[WinnowFpsExpr],
      args => WinnowFpsExpr(args(0), lit(args(1)), lit(args(2)))),
    ("nearest_centroids", classOf[NearestCentroidsExpr],
      args => NearestCentroidsExpr(args(0), centroidMatrix(args(1)), lit(args(2)))),
    ("sparse_dot", classOf[SparseDotExpr],
      args => SparseDotExpr(args(0), args(1), weightVector(args(2)))),
    ("hashed_bow", classOf[HashedBowExpr],
      args => HashedBowExpr(args(0), lit(args(1)))))

  /** Post-hoc registration on an already-built session (the builder
    * path, `withExtensions`, only applies at session construction).
    */
  def registerOn(spark: org.apache.spark.sql.SparkSession): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    functions.foreach { case (name, _, build) =>
      org.apache.spark.sql.graftglue.Glue.registerFunction(classic, name, build)
    }
    // optimizer rules + planner strategies: post-hoc sessions get them
    // via the experimental seam (idempotent — skip if already there)
    if (!spark.experimental.extraOptimizations.exists(
        _.isInstanceOf[graft.plans.BandJoinRule.type]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.BandJoinRule
    if (!spark.experimental.extraOptimizations.exists(
        _.isInstanceOf[graft.plans.RangeJoinRule.type]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RangeJoinRule
    if (!spark.experimental.extraStrategies.exists(
        _.isInstanceOf[graft.plans.AsOfJoinStrategy.type]))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.AsOfJoinStrategy
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.BandJoinRule)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRule)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    functions.foreach { case (name, cls, build) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
  }
}
