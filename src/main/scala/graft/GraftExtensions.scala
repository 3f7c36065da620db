package graft

import org.apache.spark.sql.SparkSessionExtensions

/** `spark.sql.extensions=graft.GraftExtensions` injects every native
  * function at session build: the config-file route to the same table
  * [[graft.functions.Natives.install]] registers at runtime.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    graft.functions.Natives.all.foreach(ext.injectFunction)
}
