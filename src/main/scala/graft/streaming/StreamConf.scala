package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** Stream-start-scoped state-store conf — the one session-conf write.
  *
  * Every micro-batch snapshots and commits the state store once per
  * shuffle partition, so a stateful drive whose state is small pays the
  * session's full shuffle width in store commits per batch. The drives
  * size the width to the state's cardinality instead (it is baked into
  * the checkpoint on first batch) — a deployment knob, not a core count.
  *
  * The keys are set ONLY around `writeStream…start()`: `StreamExecution`
  * clones the session in its constructor, so every micro-batch and the
  * checkpoint's offset-log conf keep the drive's values, while the
  * caller's session is restored before `start` returns — each key to its
  * prior value, or unset if it was unset.
  *
  * The RocksDB provider was A/B-measured and REJECTED for the small
  * drives: at their state sizes (10^3–10^5 rows, one or two
  * micro-batches) the per-partition native store open/commit costs more
  * than the HDFS-backed map — warm q49 0.89→1.23 s, q25 1.10→1.35,
  * q89 2.10→2.55, q95 3.23→3.95 on an otherwise identical run pair. The
  * file-source drives (`AsofStream` q61, `UpsertStream`) take it
  * (`rocksDb = true`): they declare the large-state deployment drive.
  */
object StreamConf {

  def start(spark: SparkSession, stateParts: Int, rocksDb: Boolean = false)(
      query: => StreamingQuery): StreamingQuery = {
    val keys = Seq("spark.sql.shuffle.partitions" -> stateParts.toString) ++ (
      if (rocksDb) Seq(
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        // incremental changelog commits, not a full snapshot upload per
        // micro-batch — most of the per-batch fixed cost at small state
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
      else Nil)
    val (conf, sql) = (spark.conf, spark.sessionState.conf)
    val saved = keys.map { case (k, _) => k -> Option.when(sql.contains(k))(sql.getConfString(k)) }
    keys.foreach { case (k, v) => conf.set(k, v) }
    try query
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }
}
