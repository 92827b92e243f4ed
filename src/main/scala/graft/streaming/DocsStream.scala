package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.Trigger

/** Streaming exact-dedup over the `documents` table (north-star
  * extension): fingerprint each arriving doc (md5 of the raw text) and
  * keep only first-seen fingerprints via watermarked stateful
  * `dropDuplicates` — the continuous-ingest counterpart of
  * `operators.Dedup.exact`.
  *
  * WHICH duplicate survives a micro-batch is not deterministic, so the
  * oracle-able output is the distinct fingerprint SET (identical no
  * matter which copy wins), not the surviving doc ids. State is bounded
  * via `dropDuplicatesWithinWatermark` — plain `dropDuplicates("fp")`
  * would keep every fingerprint ever seen in the state store forever,
  * because watermark eviction only applies when the event-time column is
  * part of the dedup key (SPARK-42931). Duplicates separated by more
  * than the 1-hour delay can both survive — that is the documented
  * streaming-dedup contract; the batch operator covers whole-corpus
  * dedup.
  */
object DocsStream {

  val docsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Run the dedup stream to completion over a static dir (AvailableNow,
    * memory sink) and return the distinct-fingerprint frame.
    */
  def distinctFingerprints(spark: SparkSession, path: String, queryName: String,
                           stateParts: Int = 4): DataFrame = {
    val (dir, glob) = graft.operators.LayoutFs.streamSource(path)
    // state = first-seen fingerprints in the watermark horizon; size the
    // store width for the drive (StreamConf) instead of paying the full
    // session shuffle width in per-batch store commits
    val q = StreamConf.start(spark, stateParts) {
      spark.readStream
        .schema(docsSchema)
        .option("pathGlobFilter", glob)
        .parquet(dir)
        .select(md5(col("text")).as("fp"))
        .withColumn("ts", current_timestamp())
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("fp")
        .select("fp")
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

  /** Streaming incremental ingest — the continuous counterpart of
    * `Dedup.incrementalNew` and the daily-ingest shape at 100 TB: docs
    * arrive as files, and only those absent from the static `history`
    * corpus survive. Per micro-batch:
    *
    *   - fingerprint (xxhash64, `Dedup.textFp` — same digest as batch);
    *   - the history Bloom predicate (shared build,
    *     `Dedup.historyBloomPredicate`) splits the batch: negatives are
    *     DEFINITELY new (no false negatives) and bypass the join
    *     entirely — at 1% fpp that is ~99% of genuinely-new rows;
    *   - the positive slice alone takes the exact stream-static
    *     anti-join against the (broadcast) history digest frame;
    *   - union, then watermarked stateful dedup keeps first-seen
    *     fingerprints within the stream itself.
    *
    * Emits the distinct NEW-fingerprint set — deterministic (set
    * equality with the batch path is q95's driver gate) even though
    * which copy survives a micro-batch is not. History-side cost per
    * batch is the broadcast digest build, done once and reused by Spark's
    * reuse-exchange; the per-row hot path is the codegen bloom test.
    */
  def newFingerprints(spark: SparkSession, path: String, history: DataFrame,
                      expectedHistoryDocs: Long, fpp: Double, queryName: String,
                      where: Column = lit(true),
                      bloom: Option[Option[Column]] = None,
                      maxFilesPerTrigger: Option[Int] = None,
                      stateParts: Int = 4): DataFrame = {
    import graft.operators.Dedup
    val (dir, glob) = graft.operators.LayoutFs.streamSource(path)
    val reader0 = spark.readStream
      .schema(docsSchema)
      .option("pathGlobFilter", glob)
    // bounded micro-batches (the SessionStream pattern): AvailableNow can
    // swallow a whole multi-file dir in ONE batch, which never exercises
    // the cross-batch dropDuplicatesWithinWatermark state — replaying
    // chunk files one per batch is the regime where first-seen state
    // actually carries across batches
    val reader = maxFilesPerTrigger.fold(reader0)(m =>
      reader0.option("maxFilesPerTrigger", m.toString).option("latestFirst", "false"))
    val fps = reader
      .parquet(dir)
      .filter(where)
      .select(Dedup.textFp.as("fp"))
      // null-text docs carry no fingerprint (Dedup.textFp is NULL there —
      // SQL equality can't dedup NULLs) and are excluded from the
      // fingerprint stream; the batch leg filters identically
      .filter(col("fp").isNotNull)
    // `bloom` lets a caller pass Some(prebuilt predicate-or-None) so the
    // sketch isn't rebuilt per consumer (the q95 gate shares it with the
    // batch leg); the outer None means "build it here"
    val newFps = bloom.getOrElse(
        Dedup.historyBloomPredicate(history, expectedHistoryDocs, fpp)) match {
      case None => fps
      case Some(mightContain) =>
        val histFps = broadcast(history.select(Dedup.textFp.as("fp")).distinct())
        fps.filter(!mightContain)
          .unionByName(fps.filter(mightContain).join(histFps, Seq("fp"), "left_anti"))
    }
    // size the state-store width for the drive (StreamConf): the only
    // stateful exchange is the dropDuplicatesWithinWatermark below — the
    // bloom filter and the broadcast anti-join shuffle nothing
    val q = StreamConf.start(spark, stateParts) {
      newFps
        .withColumn("ts", current_timestamp())
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("fp")
        .select("fp")
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

  /** The q95 stream-vs-batch parity gate in ONE tagged-union shuffle:
    * `batch` = the distinct batch-path new fingerprints, `streamed` = the
    * RAW streamed emissions (NOT distinct-ed — that is the point). Three
    * invariants, each a long 1/0 column:
    *
    *   - set_ok:      every fp carries both tags (bit 1 = batch,
    *                  bit 2 = streamed) — set equality of the two paths;
    *   - nonempty_ok: the parity is not vacuous;
    *   - once_ok:     the stream emitted every fp EXACTLY once — the
    *                  count invariant that pins down within-incoming
    *                  duplicate handling, which set equality alone cannot
    *                  (a doubled emission would collapse in a distinct()
    *                  and still pass set_ok; here it trips min/max
    *                  n_stream ≠ 1, spec-verified).
    */
  def parityGate(batch: DataFrame, streamed: DataFrame): DataFrame =
    batch.select(col("fp"), lit(1L).as("t"))
      .unionByName(streamed.select(col("fp"), lit(2L).as("t")))
      .groupBy(col("fp"))
      .agg(bit_or(col("t")).as("m"),
        sum(when(col("t") === 2, 1L).otherwise(0L)).as("n_stream"))
      .agg(
        (count(lit(1)) > 0 && min(col("m")) === 3 && max(col("m")) === 3)
          .cast("long").as("set_ok"),
        (count(lit(1)) > 0).cast("long").as("nonempty_ok"),
        (min(col("n_stream")) === 1 && max(col("n_stream")) === 1)
          .cast("long").as("once_ok"))
}
