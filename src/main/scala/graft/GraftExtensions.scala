package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension entry point: injects every graft Catalyst kernel
  * ([[graft.functions.GraftRegistry.builders]]) into sessions at build
  * time. Wire it with
  *
  * {{{ spark.sql.extensions=graft.GraftExtensions }}}
  *
  * (or `.withExtensions(new GraftExtensions)` on a session builder),
  * and `SELECT cosine_similarity(a, b)` works from any SQL-only
  * client — Thrift server, JDBC, notebook gateways — with no
  * user-code `register()` call ever running. The ad-hoc
  * `GraftRegistry.register(spark)` path stays for sessions created
  * without the config; both draw from the same builder table, so the
  * two surfaces cannot drift.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    graft.functions.GraftRegistry.builders.foreach { case (name, b) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.GraftRegistry", name), b))
    }
}
