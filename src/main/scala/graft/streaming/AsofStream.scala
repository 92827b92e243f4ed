package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming as-of join: the streaming counterpart of
  * `operators.AsofJoin` — for each left event, the right row with the
  * same key and the greatest (ts, tieBreak) ≤ the left's event time.
  *
  * Contract (the standard watermark trade): a left is emitted only once
  * the watermark passes its event time, which guarantees every on-time
  * right that could match it has arrived — so emitted matches equal the
  * batch as-of join over the same data. Rows that arrive LATE (event
  * time at or below the current watermark) are dropped by the engine
  * before the operator sees them — the standard late-data semantics of
  * every watermarked stateful operator; a left that became ripe in the
  * same batch it arrived (ts ≤ the batch's watermark but on time at
  * ingestion) is emitted in that batch.
  *
  * State per key is BOUNDED: buffered lefts drain as the watermark
  * advances (event-time timeout fires the flush even when the key goes
  * quiet), and of the rights at or below the watermark only the single
  * latest is kept — any earlier right can never be the as-of match for a
  * future on-time left (whose ts must exceed the watermark). Rights
  * above the watermark stay until it passes them. That is the streaming
  * analog of the batch operator's "no fan-out" property: state holds
  * O(in-flight window) rows per key, never full history.
  *
  * Input is one TAGGED stream (side 0 = right, side 1 = left) — union
  * upstream if the sides originate from separate sources; a single
  * watermark on the unioned event-time column then lower-bounds both.
  */
object AsofStream {

  case class TaggedIn(key: Long, ts: java.time.Instant, side: Int, id: Long, value: Double) {
    def tsUs: Long = ts.getEpochSecond * 1000000L + ts.getNano / 1000L
  }
  /** rights/lefts both kept sorted ascending by (tsUs, id). */
  case class AsofState(rights: List[(Long, Long, Double)], lefts: List[(Long, Long, Double)])
  case class AsofOut(key: Long, left_id: Long, left_ts_us: Long, left_value: Double,
                     right_id: Option[Long], right_value: Option[Double])

  private def matchRight(rights: List[(Long, Long, Double)], tsUs: Long):
      Option[(Long, Long, Double)] =
    rights.takeWhile(_._1 <= tsUs) match {
      // rights are sorted ascending by (ts, id): last eligible = greatest
      case Nil => None
      case elig => Some(elig.maxBy(r => (r._1, r._2)))
    }

  private def update(key: Long, rows: Iterator[TaggedIn],
      state: GroupState[AsofState]): Iterator[AsofOut] = {
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val prev = state.getOption.getOrElse(AsofState(Nil, Nil))
    val incoming = rows.toSeq
    val rights = (prev.rights ++ incoming.filter(_.side == 0)
      .map(r => (r.tsUs, r.id, r.value))).sortBy(r => (r._1, r._2))
    val lefts = (prev.lefts ++ incoming.filter(_.side == 1)
      .map(l => (l.tsUs, l.id, l.value))).sortBy(l => (l._1, l._2))

    // emit every left at or below the watermark (all its rights are here)
    val (ripe, pending) = lefts.partition(_._1 <= wmUs)
    val out = ripe.map { case (ts, id, v) =>
      val m = matchRight(rights, ts)
      AsofOut(key, id, ts, v, m.map(_._2), m.map(_._3))
    }

    // prune rights ≤ watermark down to the single latest — the only one a
    // future on-time left can still match
    val (old, live) = rights.partition(_._1 <= wmUs)
    val kept = (if (old.nonEmpty) List(old.maxBy(r => (r._1, r._2))) else Nil) ++ live

    if (pending.isEmpty && kept.isEmpty) state.remove()
    else {
      state.update(AsofState(kept, pending))
      // wake when the watermark reaches the oldest pending left (so it
      // drains) or, failing that, the oldest still-live right (so a key
      // that goes quiet after a burst of rights still compacts to the
      // single latest instead of holding the burst forever). Both are
      // > wm — pending lefts would have flushed and live rights would
      // have been pruned otherwise — satisfying the >-watermark rule.
      // A key holding only the single kept right ≤ wm is already at its
      // floor (that right is the valid match for any future left): no
      // timeout, state is one row.
      val wakeUs = pending.headOption.map(_._1).orElse(live.headOption.map(_._1))
      wakeUs.foreach(ts => state.setTimeoutTimestamp(ts / 1000L + 1))
    }
    out.iterator
  }

  /** Tag + union two event-time frames into the operator's input shape.
    * Both frames must carry (key, ts, id, value)-compatible columns.
    */
  def tagged(left: DataFrame, right: DataFrame, key: String, ts: String,
      id: String, value: String)(implicit spark: SparkSession): Dataset[TaggedIn] = {
    import spark.implicits._
    def shape(df: DataFrame, side: Int) = df.select(
      col(key).as("key"), col(ts).as("ts"), lit(side).as("side"),
      col(id).as("id"), col(value).as("value"))
    shape(right, 0).unionByName(shape(left, 1)).as[TaggedIn]
  }

  /** Apply the stateful as-of join to a watermarked tagged stream. */
  def asof(tagged: Dataset[TaggedIn]): Dataset[AsofOut] = {
    import tagged.sparkSession.implicits._
    tagged.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update _)
  }

  private val runCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Drive the streaming as-of join over two STATIC frames via
    * `MemoryStream`, chunked into event-time-ordered micro-batches with
    * trailing flusher batches so the watermark passes every real left —
    * emitted rows then equal the batch as-of join exactly (q61's oracle
    * is literally q40's SQL). MemoryStream is the deterministic test/
    * verification source; a deployment swaps in Kafka/file streams and
    * keeps the same `asof` operator. The collect here is the drive
    * harness, not the operator: state, shuffle, and matching all run
    * distributed.
    *
    * @param left  frame with (key, ts, id) columns — the probe side
    * @param right frame with (key, ts, id) columns — the lookup side
    */
  def runOnce(spark: SparkSession, left: DataFrame, right: DataFrame,
      leftCols: (String, String, String), rightCols: (String, String, String),
      chunks: Int = 3, stateParts: Int = 4): DataFrame = {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def gather(df: DataFrame, cols: (String, String, String), side: Int): Seq[TaggedIn] =
      df.select(col(cols._1).cast("long"), col(cols._2).cast("timestamp"),
          col(cols._3).cast("long"))
        .collect().toSeq
        // null key/ts can never join (equi/≤ predicate semantics); a null
        // id is a malformed identifier — all filtered, matching the inner
        // oracle, instead of throwing in getLong
        .filter(r => !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2))
        .map(r => TaggedIn(r.getLong(0), r.getTimestamp(1).toInstant, side, r.getLong(2), 0.0))
    val all = (gather(right, rightCols, 0) ++ gather(left, leftCols, 1))
      .sortBy(t => (t.tsUs, t.side, t.id))
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[TaggedIn]
    val name = s"asof_stream_${runCounter.incrementAndGet()}"
    // every micro-batch snapshots the state store per shuffle partition;
    // size the stream's partition width for the drive (StreamConf) — a
    // deployment sizes it to key cardinality instead
    val q = StreamConf.start(spark, stateParts) {
      asof(ms.toDS().withWatermark("ts", "1 second"))
        .writeStream.outputMode("append").format("memory").queryName(name).start()
    }
    val chunkSize = math.max(1, (all.size + chunks - 1) / chunks)
    all.grouped(chunkSize).foreach { c => ms.addData(c); q.processAllAvailable() }
    // ONE flusher batch suffices: its max event time advances the
    // watermark, and the engine then runs the required no-data batch
    // (constructNextBatch only signals noNewData once the last execution
    // no longer requiresAnotherBatch, so processAllAvailable blocks until
    // that drain batch — where the event-time timeouts fire and every
    // buffered left flushes — has committed)
    val maxUs = if (all.nonEmpty) all.map(_.tsUs).max else 0L
    ms.addData(TaggedIn(-1L, java.time.Instant.ofEpochSecond(maxUs / 1000000L + 86400L),
      0, -1L, 0.0))
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  /** Drive the streaming as-of join from a PARQUET FILE SOURCE — the
    * non-harness path a deployment actually runs: inputs never touch the
    * driver. The tagged union is written DISTRIBUTED as event-time-ordered
    * chunk files (chunk boundaries from exact quantiles of the event
    * time — the only driver materialization is that O(chunks) scalar
    * list), then `readStream.parquet` with `maxFilesPerTrigger=1`
    * replays one file per micro-batch, oldest first, so the watermark
    * advances chunk by chunk exactly as a live source would. State is
    * kept in the RocksDB state-store provider (incremental changelog
    * instead of full HDFS-backed snapshots per batch) — the store a
    * large-state deployment uses.
    *
    * Emitted rows equal the batch as-of join over the same inputs (same
    * contract as `runOnce`); the chunking-invariance and file-vs-memory
    * equality specs pin that.
    */
  /** @param parquetSink when true, the stream writes to a parquet sink
    *   under `dir` instead of the in-driver memory sink — the shape a
    *   real deployment uses, and the only one that holds when the OUTPUT
    *   is corpus-sized (the scale smoke drives 1M rows through it).
    */
  def runFileSource(spark: SparkSession, left: DataFrame, right: DataFrame,
      leftCols: (String, String, String), rightCols: (String, String, String),
      dir: String, chunks: Int = 3, stateParts: Int = 4,
      parquetSink: Boolean = false): DataFrame = {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def shape(df: DataFrame, cols: (String, String, String), side: Int) = df.select(
      col(cols._1).cast("long").as("key"), col(cols._2).cast("timestamp").as("ts"),
      lit(side).as("side"), col(cols._3).cast("long").as("id"),
      lit(0.0).as("value"))
      .filter(col("key").isNotNull && col("ts").isNotNull && col("id").isNotNull)
    val tagged = shape(right, rightCols, 0).unionByName(shape(left, leftCols, 1))
      .withColumn("ts_us", unix_micros(col("ts")))
    // event-time chunk boundaries: exact quantiles (err 0), not a global
    // sort — each chunk write below is a parallel filtered scan.
    // chunks=1 needs no boundaries (approxQuantile returns null for an
    // empty probability array — don't call it)
    val bounds =
      if (chunks <= 1) Array.empty[Long]
      else tagged.stat
        .approxQuantile("ts_us", (1 until chunks).map(_.toDouble / chunks).toArray, 0.0)
        .map(_.toLong)
    // empty input ⇒ approxQuantile returns an empty array — degrade to a
    // single (empty) chunk instead of indexing past the bounds
    val lo = Long.MinValue +: bounds
    val hi = bounds :+ Long.MaxValue
    val effChunks = bounds.length + 1
    val inDir = s"$dir/in"
    // FileStreamSource replays files in modification-time order, and part
    // files written in quick succession can share an mtime on
    // coarse-granularity filesystems — ties then replay in arbitrary
    // listing order, letting a later chunk advance the watermark past an
    // earlier one (whose rows would be dropped as late, silently diverging
    // from the batch join). Stamp each chunk's files with strictly
    // increasing mtimes so replay order never depends on fs granularity.
    val inDirNorm = inDir.stripPrefix("file:")
    val stamped = scala.collection.mutable.Set.empty[String]
    val mtime0 = System.currentTimeMillis() - (effChunks + 2L) * 60000L
    def stampNewFiles(stampMs: Long): Unit =
      graft.operators.LayoutFs.list(inDirNorm)
        .filter(e => !e.isDir && !stamped.contains(e.name))
        .foreach { e =>
          graft.operators.PosixFs.setLastModified(e.path, stampMs)
          stamped += e.name
        }
    (0 until effChunks).foreach { i =>
      val chunk = if (effChunks == 1) tagged  // no boundaries — skip the filter
        else tagged.filter(col("ts_us") > lo(i) && col("ts_us") <= hi(i))
      chunk.drop("ts_us").coalesce(1)
        .write.mode("append").parquet(inDir)
      stampNewFiles(mtime0 + i * 60000L)
    }
    // one flusher file, exactly as runOnce: it advances the watermark and
    // the engine's required no-data batch drains the buffered lefts. A
    // CONSTANT far-future event time (year 2200) replaces a max(ts)
    // aggregate over the input — one fewer full scan; any on-time event
    // is below it by construction (event-time data beyond 2200 would be
    // upstream corruption, filtered by a deployment's validity bounds)
    spark.range(1).select(lit(-1L).as("key"),
      timestamp_micros(lit(7258118400000000L)).as("ts"),
      lit(0).as("side"), lit(-1L).as("id"), lit(0.0).as("value"))
      .coalesce(1).write.mode("append").parquet(inDir)
    stampNewFiles(mtime0 + effChunks * 60000L)
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "key BIGINT, ts TIMESTAMP, side INT, id BIGINT, value DOUBLE")
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(inDir).as[TaggedIn]
    val name = s"asof_fstream_${runCounter.incrementAndGet()}"
    val out = asof(src.withWatermark("ts", "1 second"))
    val writer =
      if (parquetSink) out.writeStream.format("parquet").option("path", s"$dir/out")
      else out.writeStream.format("memory").queryName(name)
    val q = StreamConf.start(spark, stateParts, rocksDb = true) {
      writer.outputMode("append").option("checkpointLocation", s"$dir/ckpt").start()
    }
    q.processAllAvailable()
    q.stop()
    if (parquetSink) spark.read.parquet(s"$dir/out") else spark.table(name)
  }
}
