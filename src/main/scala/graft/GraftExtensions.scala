package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Session-extensions entry point so graft's native functions are
  * available on any cluster without code changes:
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *
  * (Operators call `VectorExpressions.register` themselves, so the
  * extension is a convenience for SQL-only users, not a requirement.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    // the same (name, builder, class) list VectorExpressions.register
    // walks, so the two registration points cannot diverge
    graft.functions.VectorExpressions.functions.foreach { case (name, builder, cls) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
  }
}
