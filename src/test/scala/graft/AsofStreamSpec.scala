package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.AsofJoin
import graft.streaming.AsofStream

class AsofStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // positive time base: a row whose event time is ≤ the current watermark
  // is dropped by the engine as late before the operator sees it, and the
  // INITIAL watermark is 0 — so ts=0 test rows would silently vanish
  private val Base = 100000000L

  private def mkDf(rows: Seq[(Long, Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("key", "tsv", "id")
      .withColumn("ts", timestamp_micros(col("tsv") + Base))
      .select("key", "ts", "id")
  }

  private val StreamKeys = Seq("spark.sql.shuffle.partitions",
    "spark.sql.streaming.stateStore.providerClass",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")

  /** The stream-start keys as the session holds them (None = unset). */
  private def streamConf: Seq[Option[String]] = StreamKeys.map(spark.conf.getAll.get)

  private def streamed(left: DataFrame, right: DataFrame, chunks: Int) =
    AsofStream.runOnce(spark, left, right, ("key", "ts", "id"), ("key", "ts", "id"), chunks)
      .select("key", "left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toSet

  private def batch(left: DataFrame, right: DataFrame) = {
    val l = left.toDF("key", "ts", "lid")
    val r = right.toDF("rkey", "rts", "rid")
    AsofJoin.asof(l, r, "key", "rkey", "ts", "rts", "rid")
      .select(col("key"), col("lid"), coalesce(col("rid"), lit(-1L)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("streaming as-of equals batch as-of: ties, no-match, interleaved keys") {
    // key 1: left before any right (no match), equal-ts tie between two
    // rights (greater id wins), left exactly on a right ts (inclusive);
    // key 2: rights only after all lefts; key 3: dense alternation
    val right = mkDf(Seq(
      (1L, 100L, 10L), (1L, 100L, 11L), (1L, 300L, 12L),
      (2L, 900L, 20L),
      (3L, 50L, 30L), (3L, 150L, 31L), (3L, 250L, 32L)))
    val left = mkDf(Seq(
      (1L, 50L, 1L), (1L, 100L, 2L), (1L, 299L, 3L), (1L, 301L, 4L),
      (2L, 100L, 5L), (2L, 850L, 6L),
      (3L, 60L, 7L), (3L, 160L, 8L), (3L, 260L, 9L), (3L, 1000L, 90L)))
    val expect = batch(left, right)
    // chunking must not affect results: 1 batch, a few, one-row batches
    for (chunks <- Seq(1, 4, 17)) {
      assert(streamed(left, right, chunks) == expect, s"chunks=$chunks")
    }
    // the drive's state width is set only around start(): with the
    // session width unset, it stays unset (and the store keys untouched)
    spark.conf.unset("spark.sql.shuffle.partitions")
    try {
      val before = streamConf
      assert(before.head.isEmpty)
      AsofStream.runOnce(spark, left, right, ("key", "ts", "id"), ("key", "ts", "id"),
        chunks = 2, stateParts = 2)
      assert(streamConf == before)
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    // spot-check the semantics directly
    assert(expect.contains((1L, 1L, -1L)))  // before any right
    assert(expect.contains((1L, 2L, 11L)))  // equal-ts inclusive, id tie-break
    assert(expect.contains((1L, 4L, 12L)))
  }

  test("streaming as-of: rights arriving AFTER lefts in processing time still match") {
    import spark.implicits._
    import graft.streaming.AsofStream.TaggedIn
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def at(us: Long) = java.time.Instant.ofEpochSecond(0).plusNanos((Base + us) * 1000L)
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[TaggedIn]
    val q = AsofStream.asof(ms.toDS().withWatermark("ts", "1 second"))
      .writeStream.outputMode("append").format("memory").queryName("asof_ooo").start()
    // batch 1: ONLY lefts (ts 100..300) — watermark still 0, nothing emits
    ms.addData(Seq(TaggedIn(1L, at(100), 1, 1L, 0.0), TaggedIn(1L, at(200), 1, 2L, 0.0),
      TaggedIn(1L, at(300), 1, 3L, 0.0)))
    q.processAllAvailable()
    // batch 2: the rights those lefts need arrive AFTERWARD in processing
    // time (but on time in event time — watermark hasn't passed them)
    ms.addData(Seq(TaggedIn(1L, at(50), 0, 10L, 0.0), TaggedIn(1L, at(150), 0, 11L, 0.0),
      TaggedIn(1L, at(250), 0, 12L, 0.0)))
    q.processAllAvailable()
    // flusher batches advance the watermark past everything
    (1 to 2).foreach { i =>
      ms.addData(Seq(TaggedIn(-1L, at(2000000L * i + 2000000L), 0, -1L, 0.0)))
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("asof_ooo").select("left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // each left matched the latest right ≤ its ts even though every right
    // arrived after every left
    assert(got == Set((1L, 10L), (2L, 11L), (3L, 12L)))
  }

  test("streaming upsert: compacted changelog equals batch latest-by-key, any chunking") {
    import spark.implicits._
    import graft.operators.Curation
    val rows = Seq(
      (1L, "a", 100L, 10.0), (2L, "a", 200L, 20.0), (3L, "a", 200L, 30.0), // ts tie → id 3
      (4L, "b", 50L, 5.0),
      (5L, "c", 70L, 7.0), (6L, "c", 60L, 6.0), // older arrives later in ts order? no — sorted drive
      (7L, "a", 150L, 15.0)) // mid-stream non-winner
    val df = rows.toDF("event_id", "event_type", "tsv", "value")
      .withColumn("ts", timestamp_micros(col("tsv") + Base))
      .withColumn("user_id", lit(9L))
      .select("user_id", "event_type", "ts", "event_id", "value")
    val expect = Curation.latestByKey(df, Seq(col("user_id"), col("event_type")),
        col("ts"), col("event_id"),
        Seq("last_event_id" -> col("event_id"), "last_value" -> col("value")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    for (chunks <- Seq(1, 3, 7)) {
      val changelog = graft.streaming.UpsertStream.runOnce(spark, df, chunks)
      val got = changelog.groupBy(col("user_id"), col("event_type"))
        .agg(max_by(struct(col("last_event_id"), col("last_value")),
          struct(col("ts_us"), col("last_event_id"))).as("w"))
        .select(col("user_id"), col("event_type"), col("w.last_event_id"), col("w.last_value"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == expect, s"chunks=$chunks")
      // the changelog never exceeds one row per key per batch
      assert(changelog.count() <= 3L * (chunks + 1))
    }
  }

  test("file-source drive (parquet + RocksDB state) equals memory harness and batch") {
    // the non-harness path: inputs written distributed as time-ordered
    // chunk files, replayed one file per micro-batch through the SAME
    // asof operator with the RocksDB state store — results must be
    // identical to both the MemoryStream drive and the batch join
    val right = mkDf(Seq(
      (1L, 100L, 10L), (1L, 100L, 11L), (1L, 300L, 12L),
      (2L, 900L, 20L),
      (3L, 50L, 30L), (3L, 150L, 31L), (3L, 250L, 32L)))
    val left = mkDf(Seq(
      (1L, 50L, 1L), (1L, 100L, 2L), (1L, 299L, 3L), (1L, 301L, 4L),
      (2L, 100L, 5L), (2L, 850L, 6L),
      (3L, 60L, 7L), (3L, 160L, 8L), (3L, 260L, 9L), (3L, 1000L, 90L)))
    val expect = batch(left, right)
    val dir = java.nio.file.Files.createTempDirectory("asof_fsrc").toString
    try {
      val got = AsofStream.runFileSource(spark, left, right,
          ("key", "ts", "id"), ("key", "ts", "id"), dir, chunks = 3)
        .select("key", "left_id", "right_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
        .toSet
      assert(got == expect, s"file-source drive diverged: ${(got diff expect).take(3)}")
      assert(got == streamed(left, right, 3))
      // the conf swap must not leak out of the drive
      assert(spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
        .forall(!_.contains("RocksDB")))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("upsert file-source drive (parquet + RocksDB state) equals batch latest-by-key") {
    import spark.implicits._
    import graft.operators.Curation
    val rows = Seq(
      (1L, "a", 100L, 10.0), (2L, "a", 200L, 20.0), (3L, "a", 200L, 30.0),
      (4L, "b", 50L, 5.0),
      (5L, "c", 70L, 7.0), (6L, "c", 60L, 6.0),
      (7L, "a", 150L, 15.0))
    val df = rows.toDF("event_id", "event_type", "tsv", "value")
      .withColumn("ts", timestamp_micros(col("tsv") + Base))
      .withColumn("user_id", lit(9L))
      .select("user_id", "event_type", "ts", "event_id", "value")
    val expect = Curation.latestByKey(df, Seq(col("user_id"), col("event_type")),
        col("ts"), col("event_id"),
        Seq("last_event_id" -> col("event_id"), "last_value" -> col("value")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val dir = java.nio.file.Files.createTempDirectory("upsert_fsrc").toString
    StreamKeys.tail.foreach(spark.conf.unset)
    val confBefore = streamConf
    try {
      val changelog = graft.streaming.UpsertStream.runFileSource(spark, df, dir,
        chunks = 3, stateParts = 2)
      // the session reads exactly as before (unset keys stay unset) ...
      assert(streamConf == confBefore)
      // ... while the stream itself ran with the drive's conf
      val offsets0 = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "ckpt", "offsets", "0")), "UTF-8")
      assert(offsets0.contains("\"spark.sql.shuffle.partitions\":\"2\""), offsets0)
      assert(offsets0.contains("RocksDBStateStoreProvider"), offsets0)
      val got = changelog.groupBy(col("user_id"), col("event_type"))
        .agg(max_by(struct(col("last_event_id"), col("last_value")),
          struct(col("ts_us"), col("last_event_id"))).as("w"))
        .select(col("user_id"), col("event_type"), col("w.last_event_id"), col("w.last_value"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == expect)
      // one row per key per batch at most; conf swap must not leak
      assert(changelog.count() <= 3L * 4)
      assert(spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
        .forall(!_.contains("RocksDB")))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("file-source chunk files carry strictly increasing mtimes in event-time order") {
    // FileStreamSource replays in modification-time order; files written in
    // quick succession can tie on coarse-mtime filesystems and then replay
    // in arbitrary listing order — an out-of-order chunk would advance the
    // watermark past earlier chunks and silently drop their rows. The drive
    // must therefore stamp strictly increasing mtimes matching event-time
    // order.
    val right = mkDf(Seq((1L, 100L, 10L), (1L, 300L, 12L), (2L, 900L, 20L)))
    val left = mkDf(Seq((1L, 50L, 1L), (1L, 299L, 3L), (2L, 850L, 6L),
      (1L, 600L, 7L), (2L, 950L, 8L)))
    val dir = java.nio.file.Files.createTempDirectory("asof_mtime").toString
    try {
      AsofStream.runFileSource(spark, left, right,
        ("key", "ts", "id"), ("key", "ts", "id"), dir, chunks = 3)
      val files = new java.io.File(s"$dir/in").listFiles
        .filter(f => f.isFile && f.getName.startsWith("part-"))
      assert(files.length == 4, s"3 chunks + flusher expected: ${files.map(_.getName).toSeq}")
      val mtimes = files.map(_.lastModified)
      assert(mtimes.distinct.length == files.length,
        s"chunk mtimes must be strictly distinct: ${mtimes.toSeq}")
      // replay order (mtime ascending) must equal event-time order
      val maxTsByMtime = files.sortBy(_.lastModified).map { f =>
        spark.read.parquet(f.getAbsolutePath)
          .agg(max(unix_micros(col("ts")))).head().getLong(0)
      }
      assert(maxTsByMtime.sameElements(maxTsByMtime.sorted),
        s"mtime order diverges from event-time order: ${maxTsByMtime.toSeq}")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("file-source drives tolerate empty inputs (quantile bounds, missing sink dir)") {
    // ADVICE r7: with empty input approxQuantile returns an empty array —
    // the chunk loop must degrade to one empty chunk, not index past the
    // bounds; and the upsert parquet sink must return an empty changelog
    // when zero micro-batches ever fired (no $dir/out on disk)
    val none = mkDf(Seq.empty)
    val d1 = java.nio.file.Files.createTempDirectory("asof_empty").toString
    val d2 = java.nio.file.Files.createTempDirectory("upsert_empty").toString
    try {
      val asofOut = AsofStream.runFileSource(spark, none, none,
        ("key", "ts", "id"), ("key", "ts", "id"), d1, chunks = 3, parquetSink = true)
      assert(asofOut.count() == 0L)
      import spark.implicits._
      val noEvents = Seq.empty[(Long, String, Long, Long, Double)]
        .toDF("user_id", "event_type", "tsv", "event_id", "value")
        .withColumn("ts", timestamp_micros(col("tsv")))
        .select("user_id", "event_type", "ts", "event_id", "value")
      val upOut = graft.streaming.UpsertStream.runFileSource(
        spark, noEvents, d2, chunks = 2, parquetSink = true)
      assert(upOut.count() == 0L)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d1))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d2))
    }
  }

  test("streaming as-of: duplicate left rows each emitted, hot key linear shape") {
    // 500 lefts and 300 rights on ONE key — the fan-out shape that kills
    // a join-based formulation; state holds O(window) not O(|L|x|R|)
    val right = mkDf((0L until 300L).map(i => (7L, i * 10L, 1000L + i)))
    val dupLeft = mkDf(Seq((7L, 55L, 1L), (7L, 55L, 1L)) ++ // exact duplicates
      (0L until 498L).map(i => (7L, i * 6L, 2L + i)))
    val got = AsofStream.runOnce(spark, dupLeft, right,
        ("key", "ts", "id"), ("key", "ts", "id"), chunks = 6)
      .select("key", "left_id", "right_id").collect()
    assert(got.length == 500) // both duplicates present
    val expect = batch(dupLeft, right)
    val gotSet = got.map(r => (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(gotSet == expect)
  }

  test("streaming incremental dedup: streamed new-fp set equals batch incrementalNew") {
    import spark.implicits._
    import graft.operators.Dedup
    import graft.streaming.DocsStream
    val dir = graft.TempDirs.create("graft_incstream_")
    val history = (0 until 50).map(i => (i.toLong, s"hist doc $i")).toDF("doc_id", "text")
    // two incoming files: cross-boundary dups of history, in-stream dups
    // across files, and genuinely fresh docs
    ((0 until 20).map(i => (100L + i, s"hist doc $i")) ++
      (0 until 30).map(i => (200L + i, s"new doc $i")))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/in")
    ((0 until 10).map(i => (300L + i, s"new doc $i")) ++
      (0 until 15).map(i => (400L + i, s"fresh doc $i")))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(s"$dir/in")

    val streamed = DocsStream.newFingerprints(
        spark, s"$dir/in", history, 50L, 0.01, "inc_fp_spec")
      .collect().map(_.getLong(0)).toSet
    val batchFps = Dedup
      .incrementalNew(history, spark.read.parquet(s"$dir/in"), 50L)
      .select(Dedup.textFp.as("fp")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(streamed == batchFps)
    assert(streamed.size == 45) // 30 "new" + 15 "fresh"; 20 hist dups gone

    // empty history → every distinct incoming fingerprint is new
    val all = DocsStream.newFingerprints(
        spark, s"$dir/in", history.filter(col("doc_id") < 0), 50L, 0.01, "inc_fp_spec2")
      .collect().map(_.getLong(0)).toSet
    assert(all.size == 65)
  }

  test("streaming incremental dedup: cross-batch first-seen state over >= 4 real " +
      "micro-batches (maxFilesPerTrigger = 1), state bounded by distinct fps") {
    import spark.implicits._
    import graft.operators.Dedup
    import graft.streaming.DocsStream
    val dir = graft.TempDirs.create("graft_incmulti_")
    val history = (0 until 40).map(i => (i.toLong, s"hist doc $i")).toDF("doc_id", "text")
    // 5 chunk files; "repeat doc i" recurs across DIFFERENT files, so
    // dedup must happen via state carried ACROSS micro-batches — the
    // regime a one-batch AvailableNow run never exercises
    val chunks = Seq(
      (0 until 10).map(i => (100L + i, s"repeat doc $i")),          // first-seen
      (0 until 10).map(i => (200L + i, s"hist doc $i")),            // all history dups
      (0 until 10).map(i => (300L + i, s"repeat doc $i")),          // cross-batch dups
      (0 until 10).map(i => (400L + i, s"fresh doc $i")),           // new
      (0 until 5).map(i => (500L + i, s"repeat doc $i")) ++         // dups again
        (0 until 5).map(i => (600L + i, s"late doc $i")))           // new
    chunks.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(s"$dir/in")
    }
    assert(new java.io.File(s"$dir/in").listFiles()
      .count(_.getName.endsWith(".parquet")) >= 5)

    @volatile var batchesWithRows = 0
    @volatile var lastStateRows = -1L
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == "inc_fp_multi") {
          if (e.progress.numInputRows > 0) batchesWithRows += 1
          if (e.progress.stateOperators.nonEmpty)
            lastStateRows = e.progress.stateOperators.map(_.numRowsTotal).sum
        }
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val streamed = DocsStream.newFingerprints(
          spark, s"$dir/in", history, 40L, 0.01, "inc_fp_multi",
          maxFilesPerTrigger = Some(1))
        .collect().map(_.getLong(0))
      // exactly-once across batches: 10 repeat + 10 fresh + 5 late = 25
      // distinct new fps, each emitted once even though "repeat doc i"
      // arrived in three different micro-batches
      assert(streamed.length == 25, s"emissions: ${streamed.length}")
      assert(streamed.toSet.size == 25)
      val batchFps = Dedup
        .incrementalNew(history, spark.read.parquet(s"$dir/in"), 40L)
        .select(Dedup.textFp.as("fp")).distinct()
        .collect().map(_.getLong(0)).toSet
      assert(streamed.toSet == batchFps)
      // listener delivery is async
      val deadline = System.currentTimeMillis() + 20000
      while (batchesWithRows < 5 && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(batchesWithRows >= 4, s"expected >= 4 real micro-batches, saw $batchesWithRows")
      // dedup state is bounded by DISTINCT new fingerprints (25), not by
      // the 45 input rows that reached the stream
      assert(lastStateRows == 25L, s"state rows: $lastStateRows")
    } finally spark.streams.removeListener(listener)
  }

  test("parityGate trips on a doubled streamed emission and on a set mismatch") {
    import spark.implicits._
    import graft.streaming.DocsStream
    val batch = Seq(1L, 2L, 3L).toDF("fp")
    val ok = DocsStream.parityGate(batch, Seq(1L, 2L, 3L).toDF("fp")).head()
    assert(ok.getLong(0) == 1 && ok.getLong(1) == 1 && ok.getLong(2) == 1)
    // doubled emission: set equality still holds, once_ok must trip
    val doubled = DocsStream.parityGate(batch, Seq(1L, 1L, 2L, 3L).toDF("fp")).head()
    assert(doubled.getLong(0) == 1 && doubled.getLong(2) == 0)
    // missing fp: set_ok must trip
    val missing = DocsStream.parityGate(batch, Seq(1L, 2L).toDF("fp")).head()
    assert(missing.getLong(0) == 0)
  }
}
