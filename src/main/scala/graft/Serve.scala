package graft

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import graft.operators._

/** HTTP query service — parity with the reference's axum tier
  * (`/root/reference/crates/service/src/main.rs:36-96`): POST /query
  * `{"query": [...], "top_k": k, "probe": p}` → `{"ids": [...],
  * "scores": [...]}`, plus GET /health and GET /metrics. Dependency-free
  * (JDK HttpServer; the engine contract is batch DataFrames — this tier
  * exists to show the serving surface maps onto a long-lived session with
  * a persisted index, the role Spark Connect would play in production).
  *
  *   sbt "runMain graft.Serve /root/testdata/sf0.001 18080"
  */
object Serve {

  /** One immutable serving snapshot: swapped atomically by `/reload`,
    * read once per request — the unit of consistency under mutation.
    * `nRows`/`nTombstones` are the layout stats captured at load/reload
    * time (the hot tier holds only live rows, so the debt half of the
    * health report must ride in the snapshot — it's what schedules
    * compaction).
    */
  private[graft] final case class Engine(model: RabitqModel, hot: HotTier,
                                  nRows: Long, nTombstones: Long)

  // must be set before the HttpServer class initializes: without
  // TCP_NODELAY the response write stalls in the Nagle/delayed-ACK
  // handshake and every request floors at ~40 ms regardless of compute
  System.setProperty("sun.net.httpserver.nodelay", "true")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val port = if (args.length > 1) args(1).toInt else 18080
    val indexDir = if (args.length > 2) Some(args(2)) else None
    val spark = SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val server = start(spark, sfDir, port, indexDir)
    println(s"graft serving on :$port (Ctrl-C to stop)")
    // V4: SIGINT/SIGTERM → drain, then stop the session
    sys.addShutdownHook { gracefulStop(server); spark.stop() }
    Thread.currentThread().join()
  }

  /** V4 graceful shutdown — parity with the reference's axum
    * `with_graceful_shutdown` on SIGINT/SIGTERM
    * (`/root/reference/crates/service/src/main.rs:18-31,93`): the
    * listening socket closes immediately (new connections refused) and
    * in-flight exchanges drain for up to `drainSeconds` before the
    * server returns.
    */
  def gracefulStop(server: HttpServer, drainSeconds: Int = 5): Unit =
    server.stop(drainSeconds)

  /** Build the index, snapshot it into a hot tier, and start serving.
    * Returns the server (caller stops it).
    *
    * One engine answers every request: the driver-memory `HotTier` —
    * microsecond arithmetic, no job scheduling (the reference service's
    * in-RAM shape, `crates/service/src/main.rs:68-96`). Its results are
    * byte-identical to the batch ANN queries (`topK`, `filteredTopK`) at
    * the same parameters (spec-asserted); an index beyond driver RAM is
    * queried through those batch paths, not this tier. A request's
    * `"engine"` field, if any, is ignored.
    */
  def start(spark: SparkSession, sfDir: String, port: Int,
            indexDir: Option[String] = None): HttpServer = {
    val basePath = s"$sfDir/embeddings.parquet"
    // load a persisted index when given one (the reference service's cold
    // start: model from disk, no training); otherwise train in-process.
    val engine = indexDir match {
      case Some(dir) => loadEngine(spark, dir, basePath)
      case None =>
        // checkpointed: k-means iterates over the base, and a checkpoint
        // (unlike persist()) matches no later read of the same path
        val base = spark.read.parquet(basePath).localCheckpoint()
        // √n clusters (IVF rule of thumb, clamped): a fixed small k makes
        // every query rough-scan n·nprobe/k candidates — at 200k vectors
        // and k=16 that is ~100k asymDots per request (p50 ≈ 58 ms where
        // k=447 scans ~3.6k and serves in single-digit ms)
        val nBase = base.count()
        val k = math.max(16, math.min(1024, math.sqrt(nBase.toDouble).toInt))
        // sampled fit beyond the driver-friendly range, exact fit below it
        val (model, index) =
          if (nBase > 100000L)
            RabitqIndex.buildSampled(spark, base, numClusters = k, sampleN = 100000L, seed = 42L)
          else RabitqIndex.build(spark, base, numClusters = k, seed = 42L)
        val hot = HotTier.fromIndex(spark, model, index, base)
        // a freshly trained engine has no tombstone log: every row is live
        Engine(model, hot, hot.nIndexed, 0L)
    }
    // SERVING UNDER MUTATION: every request reads ONE immutable Engine
    // snapshot from this reference, so an index swap (`/reload`) is
    // atomic per request — a query sees entirely the old or entirely the
    // new index, never a torn mix of model and hot tier. The
    // reference serves read-only (`crates/service`); composing its
    // mutation boxes (README:18) with serving needs exactly this
    // copy-on-swap discipline.
    // probe-budget scale for a rebalance-grown layout rides in the MODEL
    // (RabitqModel.rerankScale, populated by load from the BUILT_K
    // sidecar) — the serving tier and the batch paths both read it from
    // there, so they can never disagree.
    val engineRef = new java.util.concurrent.atomic.AtomicReference(engine)
    // per-server counter (a JVM-global would bleed across serve instances)
    val queriesServed = new AtomicLong(0)

    // loopback only: this demo tier has no auth; production would sit
    // behind Spark Connect / a gateway
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/health", (ex: HttpExchange) => respond(ex, 200, "OK"))
    server.createContext("/metrics", (ex: HttpExchange) =>
      respond(ex, 200, s"""{"queries_served":${queriesServed.get()}}"""))
    // GET/POST /describe: the FULL RabitqIndex.describeIndex health
    // report for the LIVE engine snapshot (ops hit this to decide when
    // to compact/rebalance off-path and /reload), computed by the same
    // IndexHealth describeIndex renders, at rebalanceIndex's default
    // maxSizeFactor — the spec pins field-for-field equality with
    // describeIndex over the same dir, tombstone-debt fields included.
    // Served from the hot tier's per-cluster sizes (it holds only live
    // rows; the raw/tombstone counts ride in the snapshot), so a call
    // runs no Spark job.
    server.createContext("/describe", (ex: HttpExchange) => {
      try {
        val eng = engineRef.get()
        val h = RabitqIndex.IndexHealth(eng.model, eng.nRows, eng.nTombstones,
          eng.hot.clusterSizes)
        val oversized = h.oversized(1.5)
        respond(ex, 200,
          s"""{"num_clusters":${h.model.params.numClusters},"n_rows":${h.nRows},""" +
          s""""n_live":${h.nLive},"n_tombstones":${h.nTomb},"tombstone_debt":${h.debt},""" +
          s""""max_cluster_size":${h.maxSize},"mean_cluster_size":${h.meanSize},""" +
          s""""skew":${h.skew},""" +
          s""""clusters_oversized":$oversized,"needs_rebalance":${oversized > 0}}""")
      } catch {
        case e: Throwable =>
          val msg = jsonEscape(Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
          respond(ex, 500, s"""{"error":"$msg"}""")
      }
    })
    server.createContext("/query", (ex: HttpExchange) => {
      try {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val vec = parseFloatArray(body, "query")
        val topK = parseInt(body, "top_k").getOrElse(10)
        val eng = engineRef.get() // one snapshot per request — swap-atomic
        // default probe follows k so the probed FRACTION (not count) is
        // corpus-size-invariant — the fixed 8 was 50% of the old fixed
        // k=16, and silently shrinking to 8/k would degrade default-recall
        // as corpora grow; explicit "probe" in the request overrides.
        // On a rebalance-grown layout the RERANK budget is rescaled by
        // numClusters/BUILT_K (model.rerankScale) like the batch paths —
        // the measured post-split recall loss is shortlist displacement,
        // not probe coverage (RabitqIndex.scaledRerank), so the probe
        // itself is left as requested.
        val k = eng.model.params.numClusters
        val probe = parseInt(body, "probe")
          .getOrElse(math.max(8, (k + 1) / 2))
        val rerank = math.ceil(math.max(4 * topK, 64) * eng.model.rerankScale).toInt
        // optional "label": filtered vector search on the serving path —
        // the batch filteredTopK composition (selectivity-aware probe
        // widening + in-scan label skip), reference-style metadata-aware
        // serving the reference itself lacks
        val label = parseInt(body, "label").map(_.toLong)
        val results = eng.hot.query(vec, probe, topK, rerank, label)
        queriesServed.incrementAndGet()
        val ids = results.map(_._1).mkString("[", ",", "]")
        val scores = results.map(_._2).mkString("[", ",", "]")
        respond(ex, 200, s"""{"ids":$ids,"scores":$scores}""")
      } catch {
        case e: Throwable =>
          val msg = jsonEscape(Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
          respond(ex, 400, s"""{"error":"$msg"}""")
      }
    })
    // POST /reload {"index_dir": "...", "base": "<parquet path>"}: load a
    // saved (possibly mutated — appendVectors/upsertVectors output) index
    // and its base vectors, build the new hot tier OFF the serving path,
    // then swap atomically. In-flight queries keep the old snapshot until
    // they answer.
    server.createContext("/reload", (ex: HttpExchange) => {
      try {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val idxDir = parseString(body, "index_dir")
          .getOrElse(throw new IllegalArgumentException("missing 'index_dir'"))
        val basePath = parseString(body, "base")
          .getOrElse(s"$sfDir/embeddings.parquet")
        val eng = Overlap.labelled(spark, s"reload: $idxDir")(
          loadEngine(spark, idxDir, basePath))
        engineRef.set(eng)
        respond(ex, 200, s"""{"reloaded":true,"n_base":${eng.hot.nBase}}""")
      } catch {
        case e: Throwable =>
          val msg = jsonEscape(Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
          respond(ex, 400, s"""{"error":"$msg"}""")
      }
    })
    // pooled: overlapping requests are answered concurrently from their
    // own snapshots, and a /reload's Spark jobs hold up no query. Daemon
    // threads — the pool must not outlive server.stop() and pin the JVM.
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8,
      (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t }))
    server.start()
    server
  }

  /** Build a serving snapshot of the saved layout over the base at
    * `basePath` — `start` (given an index dir) and `/reload` both build
    * through here. ONE generation snapshot (`RabitqIndex.resolve`) gives
    * the live model and rows, and the layout stats /describe reports, so
    * they describe the same generation even when a compaction or
    * rebalance publishes mid-build. The hot tier checks the base against
    * the index rows and its dim.
    */
  private[graft] def loadEngine(spark: SparkSession, layout: Layout,
                                basePath: String): Engine = {
    val snap = RabitqIndex.resolve(layout)
    // live, not raw: a maintained layout (VecsStream.maintainIndex)
    // carries an uncompacted tombstone log, and serving the raw layout
    // would RESURRECT deleted vectors
    val (model, index) = RabitqIndex.liveOf(spark, snap)
    val hot = HotTier.fromIndex(spark, model, index, spark.read.parquet(basePath))
    // tombstone debt for /describe: the hot tier holds only live rows,
    // so the raw-row/tombstone half comes from the layout once per
    // engine build
    val (nRows, nTomb) = RabitqIndex.statsOf(spark, snap)
    Engine(model, hot, nRows, nTomb)
  }

  /** Escape quotes/backslashes/control chars so exception messages can't
    * break the JSON error body.
    */
  private[graft] def jsonEscape(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c    => sb.append(c)
    }
    sb.toString
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes); os.close()
  }

  /** Minimal parsers for the fixed request shape (no JSON dependency). */
  private[graft] def parseFloatArray(json: String, key: String): Array[Float] = {
    val m = java.util.regex.Pattern
      .compile("\"" + key + "\"\\s*:\\s*\\[([^\\]]*)\\]").matcher(json)
    require(m.find(), s"missing array field '$key'")
    val body = m.group(1).trim
    if (body.isEmpty) Array.empty else body.split(",").map(_.trim.toFloat)
  }

  private[graft] def parseString(json: String, key: String): Option[String] = {
    val m = java.util.regex.Pattern
      .compile("\"" + key + "\"\\s*:\\s*\"([^\"]*)\"").matcher(json)
    if (m.find()) Some(m.group(1)) else None
  }

  private[graft] def parseInt(json: String, key: String): Option[Int] = {
    val m = java.util.regex.Pattern
      .compile("\"" + key + "\"\\s*:\\s*(-?\\d+)").matcher(json)
    if (m.find()) Some(m.group(1).toInt) else None
  }
}
