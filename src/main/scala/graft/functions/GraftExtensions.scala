package graft.functions

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions hook: installs every `GraftFunctions.table`
  * entry at session build time (`.withExtensions(new GraftExtensions)`
  * — see GraftSession), so `spark-submit --conf
  * spark.sql.extensions=graft.functions.GraftExtensions` works on a
  * real cluster with no driver-side registration call.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.table.foreach(e => ext.injectFunction((e.id, e.info, e.builder)))
}
