// Same packaging rationale as FloatVecDot.scala (FunctionRegistry access).
package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registers graft's native expressions as SQL functions, so
  * `spark.sql("SELECT float_vec_dot(a, b) ...")` works alongside the
  * Column API, and the planner strategy of the dense binning kernel
  * ([[DenseHistStrategy]]). Two entry points:
  *
  *  - config path: `.config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftExtensions")`
  *    at session build (the standard SparkSessionExtensions hook);
  *  - imperative path: `GraftExtensions.register(spark)` on a live session
  *    (useful when the session is built by a host application).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.definitions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectPlannerStrategy(_ => DenseHistStrategy)
  }
}

object GraftExtensions {
  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  val definitions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("float_vec_dot",
      info("float_vec_dot", "_FUNC_(a, b) - dot product of two float arrays in double"),
      (es: Seq[Expression]) => FloatVecDot(es(0), es(1))),
    ("simhash32",
      info("simhash32", "_FUNC_(hashes) - 32-bit SimHash over an array of token hashes"),
      (es: Seq[Expression]) => SimHash32(es.head)),
    ("minhash_sigs",
      info("minhash_sigs", "_FUNC_(hashes, k) - k MinHash signatures over shingle hashes"),
      (es: Seq[Expression]) => MinHashSigs(es(0),
        es(1).eval().asInstanceOf[Number].intValue())),
    ("sorted_intersect_count",
      info("sorted_intersect_count", "_FUNC_(a, b) - |A∩B| of two sorted long arrays"),
      (es: Seq[Expression]) => SortedIntersectCount(es(0), es(1))),
    ("float_vec_abs_max",
      info("float_vec_abs_max", "_FUNC_(a) - max(|a_i|) of a float array in double"),
      (es: Seq[Expression]) => FloatVecAbsMax(es.head)),
    ("quantize_i8_str",
      info("quantize_i8_str", "_FUNC_(a, scale) - symmetric int8 quantization rendered as CSV string"),
      (es: Seq[Expression]) => QuantizeI8Str(es(0), es(1))),
    ("shingle_hashes",
      info("shingle_hashes", "_FUNC_(tokens, n) - 32-bit hashes of word n-gram shingles"),
      (es: Seq[Expression]) => ShingleHashes(es(0),
        es(1).eval().asInstanceOf[Number].intValue())))

  /** Register on an already-built session. */
  def register(spark: SparkSession): Unit = {
    definitions.foreach { case (name, i, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(name), i, builder)
    }
    DenseHistStrategy.setup(spark)
  }
}
