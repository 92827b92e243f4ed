package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Stateful streaming sessionization via flatMapGroupsWithState — the
  * custom-state surface (SURVEY.md §2.5 streaming row; the reference has
  * no mutation/ingest at all, README.md:18).
  *
  * State per user = (current session seq, last event µs, aggregates of the
  * open session). An event that arrives > gap after the last one closes
  * the open session (emitted downstream) and opens a new one. Event-time
  * timeout closes sessions when the watermark passes last_ts + gap, so
  * state is bounded — the property that matters at 100 TB/day ingest.
  */
object SessionStream {

  // `ts` (the watermarked event-time column) must survive into the typed
  // Dataset — EventTimeTimeout requires it downstream of the projection
  case class EventIn(event_id: Long, ts: java.time.Instant, user_id: Long, value: Double) {
    def tsUs: Long = ts.getEpochSecond * 1000000L + ts.getNano / 1000L
  }
  case class SessionState(seq: Long, lastUs: Long, startUs: Long, nEvents: Long, total: Double)
  case class SessionOut(user_id: Long, session_seq: Long, n_events: Long,
                        span_us: Long, total_value: Double)

  def sessionizeStream(spark: SparkSession, path: String, gapMinutes: Int,
                       maxFilesPerTrigger: Option[Int] = None): Dataset[SessionOut] = {
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L

    val (dir, glob) = graft.operators.LayoutFs.streamSource(path)

    val reader0 = spark.readStream
      .schema(EventsStream.eventsSchema(EventsStream.tsReadType(spark, path)))
      .option("pathGlobFilter", glob)
    // bounded micro-batches (the scale smoke replays chunk files one per
    // batch, advancing the watermark between them — the multi-batch regime
    // where event-time timeouts and seq continuity actually fire)
    val reader = maxFilesPerTrigger.fold(reader0)(m =>
      reader0.option("maxFilesPerTrigger", m.toString).option("latestFirst", "false"))
    val raw = reader.parquet(dir)
    val events = graft.functions.TimeNorm.normalizeTs(raw)
      .withWatermark("ts", "2 hours")
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .as[EventIn]

    def update(userId: Long, events: Iterator[EventIn],
               state: GroupState[SessionState]): Iterator[SessionOut] = {
      var closed = List.empty[SessionOut]
      if (state.hasTimedOut) {
        state.getOption.foreach { s =>
          if (s.nEvents > 0) {
            closed ::= SessionOut(userId, s.seq, s.nEvents, s.lastUs - s.startUs, s.total)
            // keep a zero-event TOMBSTONE carrying the seq: a user whose
            // session closed via timeout and who later reappears (next
            // micro-batch of a multi-file dir) must continue the batch-
            // global numbering, not restart at 1 — otherwise the q89 gate
            // sees a colliding (user, seq) key with different stats. The
            // tombstone is ~40 B/user, bounded by USER cardinality (not
            // event volume), and sets no timeout so it never re-fires.
            state.update(SessionState(s.seq, s.lastUs, s.lastUs, 0L, 0.0))
          }
        }
        closed.iterator
      } else {
        var cur = state.getOption.orNull
        events.toSeq.sortBy(e => (e.tsUs, e.event_id)).foreach { e =>
          cur match {
            case null =>
              cur = SessionState(1L, e.tsUs, e.tsUs, 1L, e.value)
            case s if s.nEvents == 0L => // tombstone: resume numbering
              cur = SessionState(s.seq + 1, e.tsUs, e.tsUs, 1L, e.value)
            case s if e.tsUs - s.lastUs > gapUs =>
              closed ::= SessionOut(userId, s.seq, s.nEvents, s.lastUs - s.startUs, s.total)
              cur = SessionState(s.seq + 1, e.tsUs, e.tsUs, 1L, e.value)
            case s =>
              // min/max, not assignment: a MICRO-BATCH BOUNDARY can deliver
              // in-gap events out of event-time order (two same-mtime chunk
              // files of one time slice replay in arbitrary order), and
              // rewinding lastUs would corrupt the span and the timeout
              // timer. Within-gap disorder folds in exactly; disorder
              // DEEPER than the gap across batches is inherent append-mode
              // nondeterminism the q89 gates surface loudly.
              cur = s.copy(startUs = math.min(s.startUs, e.tsUs),
                lastUs = math.max(s.lastUs, e.tsUs),
                nEvents = s.nEvents + 1, total = s.total + e.value)
          }
        }
        if (cur != null) {
          state.update(cur)
          if (cur.nEvents > 0)
            state.setTimeoutTimestamp(cur.lastUs / 1000L + gapUs / 1000L)
        }
        closed.reverseIterator
      }
    }

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Drive once over the static dir; returns the CLOSED sessions (sessions
    * still open at end-of-data remain in state — compare against the batch
    * sessionizer with the last session per user excluded).
    */
  def runOnce(spark: SparkSession, path: String, gapMinutes: Int, queryName: String,
              stateParts: Int = 4): DataFrame = {
    // state = one open session per user in the watermark horizon; size
    // the store width to that cardinality, not the session shuffle width
    val q = StreamConf.start(spark, stateParts) {
      sessionizeStream(spark, path, gapMinutes)
        .writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    spark.table(queryName)
  }
}
