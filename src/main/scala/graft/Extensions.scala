package graft

import org.apache.spark.sql.SparkSession

/** graft's additions to a session: the planner strategies for the bounded-heap
  * top-K operator ([[graft.plans.TopKStrategy]]) and for inputs that fit in one
  * file split ([[graft.plans.SmallInputs]]), and the ClickHouse dialect
  * functions ([[graft.functions.Dialect]]). [[GraftSession]] installs them in
  * every session it builds and [[Tables]] in every session it reads from, so
  * an entry never installs anything as it runs. A session clone copies both
  * the strategies and the functions of the session it was cloned from.
  */
object Extensions {

  /** Add the strategies and functions to `spark` unless they are there. */
  def install(spark: SparkSession): Unit =
    if (!installed(spark)) synchronized {
      if (!installed(spark)) {
        // functions first: a reader that sees the strategies sees them too
        graft.functions.Dialect.register(spark)
        spark.experimental.extraStrategies = spark.experimental.extraStrategies ++
          Seq(graft.plans.TopKStrategy, graft.plans.SmallInputs)
      }
    }

  private def installed(spark: SparkSession): Boolean =
    spark.experimental.extraStrategies.contains(graft.plans.SmallInputs)
}
