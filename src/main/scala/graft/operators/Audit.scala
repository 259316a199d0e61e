package graft.operators

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._

/** Run auditing (SURVEY P7/P8/A8; reference: …/Pro…/003.md:7-16 Row
  * Count + Audit components; LoadDate/FileName tech columns …/Глава
  * 08…md:64, …/Глава 10…md:73).
  */
object Audit {

  /** Append the standard audit columns: run id, load timestamp, and
    * the source file each row came from.
    */
  def withAudit(df: DataFrame, runId: String): DataFrame =
    df.withColumn("run_id", lit(runId))
      .withColumn("load_ts", current_timestamp())
      .withColumn("source_file", input_file_name())

  /** Single-pass row/metric observation (the Row Count component
    * without a second scan): returns the instrumented frame and the
    * Observation whose `get` yields the metrics after the first
    * action.
    */
  def observed(df: DataFrame, name: String): (DataFrame, Observation) = {
    val obs = Observation(name)
    val instrumented = df.observe(obs,
      count(lit(1)).as("n_rows"))
    (instrumented, obs)
  }

  /** The metrics `obs` collected on the action it was attached to,
    * which has run. Bounded: a pass that never reports them (attached
    * to a frame of another session than the action's) fails here. */
  def awaitObserved(obs: Observation): Row =
    Await.result(obs.future, Duration(2, "min"))
}
