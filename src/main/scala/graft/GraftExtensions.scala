package graft

import org.apache.spark.sql.SparkSessionExtensions
import graft.plans.AsOfJoinStrategy
import graft.functions.SqlFunctions

/** Session-extension registration: enables graft's planner strategies
  * and SQL functions (`SqlFunctions.all`) on any session via
  *   spark.sql.extensions=graft.GraftExtensions
  * (the per-call registration in AsOf.join / GeoFunctions.register /
  * TextFunctions.register remains for sessions created without the config).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectPlannerStrategy(_ => graft.plans.RangeJoinStrategy)
    SqlFunctions.all.foreach(e.injectFunction)
  }
}
