package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions hook (SURVEY §2.12 ladder step (c)): registers
  * the engine's native expressions as SQL functions so `spark.sql` users
  * get them without the Column API — `dot_exact(a, b)`,
  * `dot_exact_fd(a, b)`, `graft_minhash(shingles, k)` — and the
  * engine's optimizer rules ([[IntersectCountRule]], [[PointLookupRule]],
  * [[SortLocalRule]]).
  * Installed by [[graft.Engine]] via `builder.withExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => IntersectCountRule)
    e.injectOptimizerRule(PointLookupRule)
    e.injectOptimizerRule(_ => SortLocalRule)
    e.injectFunction((FunctionIdentifier("dot_exact"),
      info("dot_exact", "dot_exact(array<float>, array<float>) - exact decimal-quantized dot product"),
      (args: Seq[Expression]) => DotExactExpr(args(0), args(1))))
    e.injectFunction((FunctionIdentifier("dot_exact_fd"),
      info("dot_exact_fd", "dot_exact_fd(array<float>, array<double>) - exact decimal-quantized dot product"),
      (args: Seq[Expression]) => DotExactFDExpr(args(0), args(1))))
    e.injectFunction((FunctionIdentifier("graft_minhash"),
      info("graft_minhash", "graft_minhash(array<string>, k) - k md5-derived min-hashes in one pass"),
      (args: Seq[Expression]) => MinHashExpr(args(0), args(1))))
    e.injectFunction((FunctionIdentifier("graft_winnow"),
      info("graft_winnow", "graft_winnow(text) - winnowing fingerprints array<struct<pos:int,fp:bigint>> (MOSS; k=8, w=4, rolling hash)"),
      (args: Seq[Expression]) => WinnowExpr(args(0))))
  }
}
