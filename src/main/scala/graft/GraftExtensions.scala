package graft

import org.apache.spark.sql.SparkSessionExtensions

/** `SparkSessionExtensions` injector — the config-driven way to wire
  * the graft engine into ANY session, including ones the library
  * never constructs (spark-submit, Thrift server, notebooks):
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * Injects the native functions into the FunctionRegistry, the
  * [[graft.plans.TopKPerKeyStrategy]] planner strategy, and the
  * [[graft.plans.WindowTopKRewrite]] and [[graft.plans.FooterMinMax]]
  * optimizer rules at session build time. [[GraftSession.attach]]
  * remains the programmatic equivalent for an already-built session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.GraftFunctions.descriptions.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    ext.injectOptimizerRule(_ => graft.plans.WindowTopKRewrite)
    ext.injectOptimizerRule(_ => graft.plans.FooterMinMax)
  }
}
