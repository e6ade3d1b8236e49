package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** `SparkSessionExtensions` hook: `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  * makes graft's native functions available to pure-SQL users.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(e.injectFunction)
}

object GraftExtensions {
  private def fn(name: String, build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(classOf[GraftExtensions].getName, name), build)

  /** Every native function, once: the extension injects these and
    * [[register]] installs them on a session built without it.
    * `vec_signbits`, `vec_hashbin`, `vec_top_cells` and `vec_best_code`
    * take plan-build-time config (a foldable array or int) as arguments.
    */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("pearson_hash8", args => PearsonHash8(args.head)),
    fn("pearson_hash64", args => PearsonHash64(args.head)),
    fn("vec_dot", args => VecDot(args(0), args(1))),
    fn("vec_signbits", VecSignBits.fromArgs),
    fn("vec_hashbin", VecHashBin.fromArgs),
    fn("vec_top_cells", VecTopCells.fromArgs),
    fn("vec_best_code", VecBestCode.fromArgs))

  /** Install the [[functions]] `spark`'s registry lacks; a name it
    * already has (from the extension or an earlier call) is left as is.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, build) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
    }
  }
}
