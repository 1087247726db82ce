package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its engine plan over a testdata dir, the DuckDB SQL
  * that replays it, and, for a sketch query, the engine-hash-family plan
  * [[graft.Bench]] times in its place (the plan itself keeps the md5
  * family, the one the oracle can replay byte for byte). */
private[graft] final case class BenchQuery(name: String, plan: BenchQuery.Plan, oracleSql: String,
                                           timed: Option[BenchQuery.Plan] = None) {
  /** The plan [[graft.Bench]] times. */
  def timedPlan: BenchQuery.Plan = timed.getOrElse(plan)
}

private[graft] object BenchQuery {
  type Plan = (SparkSession, String) => DataFrame
}
