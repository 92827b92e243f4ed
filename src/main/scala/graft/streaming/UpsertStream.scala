package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming latest-wins upsert view — the streaming counterpart of
  * `Curation.latestByKey` (batch q60) and the CDC changelog-compaction
  * primitive: per key, state holds ONE winner (greatest (ts, tieBreak)),
  * and every micro-batch that changes a key's winner emits the new
  * winner row (Update output mode — a changelog a sink upserts by key).
  *
  * State is O(1) per key by construction (a single winner row — no
  * history, no watermark needed); the changelog consumer compacts by
  * taking each key's row with the greatest (ts, tieBreak), which equals
  * the batch latest-by-key over the same data regardless of how rows
  * were batched (winners are monotone per key).
  */
object UpsertStream {

  case class EvIn(user_id: Long, event_type: String, ts: java.time.Instant,
                  event_id: Long, value: Double) {
    def tsUs: Long = ts.getEpochSecond * 1000000L + ts.getNano / 1000L
  }
  case class Winner(ts_us: Long, event_id: Long, value: Double)
  case class UpOut(user_id: Long, event_type: String, last_event_id: Long,
                   last_value: Double, ts_us: Long)

  private def step(key: (Long, String), rows: Iterator[EvIn],
      state: GroupState[Winner]): UpOut = {
    val best = (state.getOption.iterator ++
      rows.map(e => Winner(e.tsUs, e.event_id, e.value)))
      .maxBy(w => (w.ts_us, w.event_id))
    state.update(best)
    UpOut(key._1, key._2, best.event_id, best.value, best.ts_us)
  }

  def upsert(ds: Dataset[EvIn]): Dataset[UpOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(e => (e.user_id, e.event_type))
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(step _)
  }

  private val runCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Drive the upsert over a static events frame via MemoryStream
    * micro-batches and return the raw CHANGELOG (one row per key per
    * batch in which its winner changed — Update mode re-emits the
    * winner). Compacting the changelog by max (ts_us, last_event_id)
    * per key yields the final upsert view.
    */
  def runOnce(spark: SparkSession, events: DataFrame, chunks: Int = 3,
      stateParts: Int = 4): DataFrame = {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = events
      .select(col("user_id").cast("long"), col("event_type"),
        col("ts").cast("timestamp"), col("event_id").cast("long"),
        col("value").cast("double"))
      .collect().toSeq
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2) && !r.isNullAt(3))
      .map(r => EvIn(r.getLong(0), r.getString(1), r.getTimestamp(2).toInstant,
        r.getLong(3), r.getDouble(4)))
      .sortBy(e => (e.tsUs, e.event_id))
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EvIn]
    val name = s"upsert_stream_${runCounter.incrementAndGet()}"
    val q = StreamConf.start(spark, stateParts) {
      upsert(ms.toDS())
        .writeStream.outputMode("update").format("memory").queryName(name).start()
    }
    val chunkSize = math.max(1, (rows.size + chunks - 1) / chunks)
    rows.grouped(chunkSize).foreach { c => ms.addData(c); q.processAllAvailable() }
    q.stop()
    spark.table(name)
  }

  /** Drive the upsert from a PARQUET FILE SOURCE — the non-harness path:
    * inputs never touch the driver. One DISTRIBUTED write shards the
    * events into `chunks` files (`repartition(chunks)` — winners are
    * monotone per key, so changelog compaction is batching-order-proof
    * and no event-time ordering of the files is needed, unlike the as-of
    * drive); `readStream` + `maxFilesPerTrigger=1` then replays one file
    * per micro-batch with the RocksDB state-store provider. Returns the
    * raw changelog; compacting it equals batch latest-by-key (spec).
    */
  /** @param parquetSink when true, each micro-batch's changelog slice is
    *   appended DISTRIBUTED to parquet under `dir/out` via `foreachBatch`
    *   (Update mode has no native file sink — a deployment upserts into a
    *   keyed store; the append-log + compaction here is the same shape) and
    *   nothing lands on the driver. False keeps the in-driver memory sink
    *   for the small-spec harness.
    */
  def runFileSource(spark: SparkSession, events: DataFrame, dir: String,
      chunks: Int = 3, stateParts: Int = 4, parquetSink: Boolean = false): DataFrame = {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val inDir = s"$dir/in"
    events
      .select(col("user_id").cast("long"), col("event_type"),
        col("ts").cast("timestamp"), col("event_id").cast("long"),
        col("value").cast("double"))
      .filter(col("user_id").isNotNull && col("event_type").isNotNull &&
        col("ts").isNotNull && col("event_id").isNotNull)
      .repartition(chunks)
      .write.mode("overwrite").parquet(inDir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "user_id BIGINT, event_type STRING, ts TIMESTAMP, event_id BIGINT, value DOUBLE")
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir).as[EvIn]
    val name = s"upsert_fstream_${runCounter.incrementAndGet()}"
    val out = upsert(src)
    val writer =
      if (parquetSink) out.writeStream.foreachBatch {
        (batch: Dataset[UpOut], _: Long) =>
          batch.write.mode("append").parquet(s"$dir/out")
      }
      else out.writeStream.format("memory").queryName(name)
    val q = StreamConf.start(spark, stateParts, rocksDb = true) {
      writer.outputMode("update").option("checkpointLocation", s"$dir/ckpt").start()
    }
    q.processAllAvailable()
    q.stop()
    if (parquetSink) {
      // empty input ⇒ zero micro-batches ⇒ foreachBatch never ran and
      // $dir/out does not exist — an empty changelog, not an error
      if (graft.operators.PosixFs.exists(s"$dir/out".stripPrefix("file:")))
        spark.read.parquet(s"$dir/out")
      else spark.emptyDataset[UpOut].toDF()
    } else spark.table(name)
  }
}
