package graft

import org.apache.spark.sql.SparkSessionExtensions

/** The engine's `SparkSessionExtensions` hook for sessions built outside
  * [[GraftSession.build]] — activate with
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * Injects the rules of [[GraftSession.rules]]. Engine entry points use
  * [[GraftSession.build]], which installs the same list at runtime.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftSession.rules.foreach(r => ext.injectOptimizerRule(_ => r))
}
