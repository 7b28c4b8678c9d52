package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession

/** Bridge to the `private[sql]` driver-side StateStoreCoordinator: batch
  * `transformWithState` loads an ephemeral state store per task, and the
  * RocksDB provider phones this coordinator endpoint — which only a
  * STREAMING query would normally have registered. Touching the manager's
  * lazy val registers it for batch runs (no-op once any stream started). */
object StateShim {
  def ensureStateStoreCoordinator(spark: SparkSession): Unit =
    spark.streams match {
      case m: org.apache.spark.sql.classic.StreamingQueryManager =>
        val _ = m.stateStoreCoordinator
      case _ => ()
    }
}
