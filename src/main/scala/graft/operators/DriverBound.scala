package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** The engine's one driver-side size bound: a relation is broadcast, or a
  * graph solved by a driver union-find, only while its row count — a count
  * the caller already holds, from a manifest or an earlier action — is
  * within [[MaxRows]]. Above it every such site falls back to its shuffle
  * (or distributed) path, so the bound is a memory guard, never a
  * semantic switch.
  */
object DriverBound {

  /** Dimension-sized row bound (~50 B/row → ≤ ~200 MB per broadcast). */
  val MaxRows: Long = 4000000L

  /** `df` marked for broadcast when `rows` ≤ [[MaxRows]], else unchanged. */
  def broadcastWithin(df: DataFrame, rows: Long): DataFrame =
    if (rows <= MaxRows) broadcast(df) else df
}
