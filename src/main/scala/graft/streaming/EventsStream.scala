package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming ingest of the `events` table (north-star
  * extension; the reference explicitly lacks ingest —
  * `/root/reference/README.md:18` leaves insert/update/delete unchecked).
  *
  * Watermarked tumbling-window aggregation; the batch-equivalent plan is
  * `graft.operators.Sessionize.windowedCounts`, which is what the DuckDB
  * oracle checks. At scale this runs continuously with checkpointing; here
  * `runOnce` drives the same plan over the parquet dir with
  * Trigger.AvailableNow into a memory sink for deterministic tests.
  */
object EventsStream {

  /** Stream schema parameterized by the PHYSICAL encoding of `ts` in the
    * files being streamed (nanos-long / TIMESTAMP_NTZ / TIMESTAMP — the
    * three generations of the driver's fixtures, functions/TimeNorm.scala).
    * File streams require an explicit schema, so the caller probes the
    * actual type with `tsReadType` (a footer-only batch schema read) and
    * the stream normalizes through TimeNorm before the watermark.
    */
  def eventsSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** The type a batch read of `path` gives `ts` under the session's parquet
    * options — footer-only metadata reads on the driver
    * (`SeededRelation.footerSchema`), no data scan and no Spark job.
    *
    * Probes EVERY parquet file under `path`, not just the first: a file
    * stream runs with ONE fixed schema, so a directory whose files mix
    * physical `ts` encodings would otherwise fail mid-stream with an
    * obscure schema error (or silently misread). Mixed encodings fail
    * loudly here instead. O(#files) driver-side footer reads, probe-time
    * only.
    */
  def tsReadType(spark: SparkSession, path: String): DataType = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files =
      if (fs.getFileStatus(p).isFile) Seq(p)
      else fs.listStatus(p).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(_.getPath)
    require(files.nonEmpty, s"no parquet files under $path")
    val types = files
      .map(f => f ->
        org.apache.spark.graft.SeededRelation.footerSchema(spark, f)("ts").dataType)
    val distinct = types.map(_._2).distinct
    if (distinct.size > 1)
      throw new IllegalArgumentException(
        s"mixed physical encodings for 'ts' under $path: " +
          types.map { case (f, t) => s"${f.getName}=$t" }.mkString(", ") +
          " — a file stream needs one fixed schema; re-encode the directory uniformly")
    distinct.head
  }

  /** `path` may be a single parquet FILE; FileStreamSource wants a
    * directory, so stream the parent dir with a glob filter on the name.
    */
  def windowedCountsStream(spark: SparkSession, path: String, minutes: Int): DataFrame = {
    val (dir, glob) = graft.operators.LayoutFs.streamSource(path)
    val raw = spark.readStream
      .schema(eventsSchema(tsReadType(spark, path)))
      .option("pathGlobFilter", glob)
      .parquet(dir)
    graft.functions.TimeNorm.normalizeTs(raw)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), s"$minutes minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total_value"))
  }

  /** Run the streaming query to completion over the static dir, return the
    * materialized result. `complete` output mode ⇒ all windows present
    * regardless of watermark progress (deterministic for tests/oracle).
    */
  def runOnce(spark: SparkSession, path: String, minutes: Int, queryName: String,
              stateParts: Int = 4): DataFrame = {
    // state = one row per (window, event_type) — a few thousand rows;
    // size the store width to that, not the session's shuffle width
    val q = StreamConf.start(spark, stateParts) {
      windowedCountsStream(spark, path, minutes)
        .writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    spark.table(queryName)
  }
}
