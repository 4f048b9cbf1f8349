package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

object BroadcastGate {

  /** §3.1 scale-adaptive join strategy (broadcast the side that fits):
    * wrap `df` in a broadcast hint when its row count is at most
    * `maxRows`, identity otherwise — so at cluster scale the count test
    * fails and every consumer keeps the shuffle-join plan.
    *
    * `df` MUST be a scan or a materialized (checkpointed / cached)
    * frame: the gate runs one `count()` on it, which is cheap only
    * there (footer stats, in-memory blocks). On a derived frame the
    * count executes the whole upstream lineage once for the gate and
    * again for the join. Checkpointed frames plan as RDD leaves with
    * no size statistics, so neither the static planner nor AQE's
    * SMJ→BHJ rewrite (which only converts after a shuffle has been
    * written) can make this call for them — measured one full
    * Exchange+Sort pair per round on q192's 40k-row edge list before
    * the gate. The cap bounds rows, not bytes: callers whose rows carry
    * array payloads pass a lower one.
    */
  private[pipeline] def broadcastIfSmall(df: DataFrame, maxRows: Long): DataFrame =
    broadcastIfSmall(df, df.count(), maxRows)

  /** The same gate on a row count of `df` the caller already took. */
  private[pipeline] def broadcastIfSmall(df: DataFrame, rows: Long, maxRows: Long): DataFrame =
    if (rows <= maxRows) broadcast(df) else df
}
