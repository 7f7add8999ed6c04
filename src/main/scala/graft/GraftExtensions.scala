package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** SparkSessionExtensions entry point — registers the engine's custom
  * Catalyst expressions as SQL functions, so
  * `--conf spark.sql.extensions=graft.GraftExtensions` (set by
  * [[GraftSession]], or `Graft.init(spark)` programmatically) makes them
  * available to pure SQL users: `SELECT cos_sim_f32(embedding, q) ...`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    Graft.functions.foreach { case (name, build) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo("graft", name), build))
    }
}

object Graft {

  /** The engine's SQL functions, name → arity-checked builder: the one
    * list both registration paths read. */
  private[graft] val functions: Seq[(String, Seq[Expression] => Expression)] = {
    def fn(name: String, arity: Int)(build: Seq[Expression] => Expression) =
      name -> { (es: Seq[Expression]) =>
        require(es.length == arity,
          s"$name expects exactly $arity argument(s), got ${es.length}")
        build(es)
      }
    Seq(
      fn("dot_f32", 2)(es => DotProductF32(es(0), es(1))),
      fn("l2_dist_f32", 2)(es => EuclideanDistF32(es(0), es(1))),
      fn("l2sq_f32", 2)(es => L2SqF32(es(0), es(1))),
      fn("cos_sim_f32", 2)(es => CosineSimF32(es(0), es(1))),
      fn("sorted_intersect_size", 2)(es => SortedIntersectSize(es(0), es(1))),
      fn("explode_zip", 1)(es => ExplodeZip(es(0))))
  }

  /** Programmatic init for sessions built without the extensions conf.
    * Idempotent: `createOrReplaceTempFunction` makes a second call
    * harmless. */
  def init(spark: SparkSession): Unit =
    functions.foreach { case (name, build) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, build, "built-in")
    }
}
