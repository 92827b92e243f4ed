package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import java.util.concurrent.atomic.AtomicInteger

import graft.operators._
import graft.streaming.EventsStream

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the LLM-pipeline extensions), each with DuckDB oracle
  * SQL where the semantics are SQL-expressible.
  *
  * Determinism rules used throughout (SURVEY.md §7 hard parts c/d):
  *  - every query ends in an explicit ORDER BY mirrored in the oracle;
  *  - double aggregates go through exact DECIMAL accumulation, cast back
  *    to double, so Spark and DuckDB produce bit-identical sums;
  *  - ranks/ids (integers) are preferred over raw float distances in
  *    outputs; tie-breaks are always explicit on ids.
  */
object SparkEntry {

  // every fixture timestamp column, by table: events.ts has already
  // shipped under two physical encodings (nanos-long through round 10,
  // TIMESTAMP_NTZ since round 11) and the date columns could drift the
  // same way on any regeneration — normalize ALL of them to session-zone
  // TIMESTAMP once at ingest (functions/TimeNorm.scala), so no downstream
  // operator ever sees the physical encoding
  private val TsCols = Map(
    "events" -> Seq("ts"),
    "orders" -> Seq("o_orderdate"),
    "lineitem" -> Seq("l_shipdate"))

  private def T(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    TsCols.getOrElse(name, Nil)
      .foldLeft(df)((d, c) => graft.functions.TimeNorm.normalizeTs(d, c))
  }

  private def dec3(c: Column) = c.cast(DecimalType(18, 3))
  private def dec6(c: Column) = c.cast(DecimalType(18, 6))

  // ---- shared ANN index (built once per sf dir, cached for the session) --
  private val idxCache = scala.collection.concurrent.TrieMap.empty[String, (RabitqModel, DataFrame)]
  private val NumClusters = 16
  private val Seed = 42L

  private def annIndex(s: SparkSession, dir: String): (RabitqModel, DataFrame) =
    idxCache.getOrElseUpdate(dir, {
      val (model, index) = RabitqIndex.build(s, T(s, dir, "embeddings"), NumClusters, Seed)
      (model, index.persist())
    })

  // cosine-metric index: built over unit-normalized vectors (L2 on the
  // normalized space ranks identically to cosine on the raw space).
  // Coarse centroids come from a deterministic sample of normalized
  // vectors rather than a second k-means fit — q32 queries at full probe
  // (exact by construction), so centroid quality only shapes partition
  // balance, and the sample skips a whole MLlib training pass.
  private def cosIndex(s: SparkSession, dir: String): (RabitqModel, DataFrame) =
    idxCache.getOrElseUpdate("cos:" + dir, {
      val base = ExactKnn.normalized(T(s, dir, "embeddings"), "embedding")
      val n = base.count()
      val step = math.max(1L, n / NumClusters)
      val centroids = base.filter(col("vec_id") % step === 0)
        .orderBy(col("vec_id")).limit(NumClusters)
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      val (model, index) = RabitqIndex.buildWithCentroids(s, base, centroids, Seed)
      (model, index.persist())
    })

  private def annQueries(s: SparkSession, dir: String, n: Int = 10): DataFrame =
    ExactKnn.queriesFromEmbeddings(T(s, dir, "embeddings"), n)

  // label-carrying index (q97): metadata rides IN the index rows — the
  // standard filtered-vector-search layout, so a metadata predicate is a
  // plain pushable filter on the index scan instead of a query-time join
  // against the base table. One build-time join, cached like annIndex;
  // on the disk layout the label column persists into the partitioned
  // parquet and the predicate reaches PushedFilters.
  // history-bloom sketch for the incremental-dedup pair (q94/q95), built
  // once per sf dir — both the batch and streaming legs read the SAME
  // plan-literal bitmap, like the ANN index cache (warm passes time the
  // filter, not the sketch build). history = doc_id % 3 == 0 by the
  // q94/q95 contract.
  private val bloomCache = scala.collection.concurrent.TrieMap.empty[String, Option[Column]]
  private def historyBloom(s: SparkSession, dir: String): Option[Column] =
    bloomCache.getOrElseUpdate(dir, Dedup.historyBloomPredicate(
      T(s, dir, "documents").filter(col("doc_id") % 3 === 0), 1L << 20, 0.01))

  private def annIndexLabeled(s: SparkSession, dir: String): (RabitqModel, DataFrame) =
    idxCache.getOrElseUpdate("lab:" + dir, {
      val (model, index) = annIndex(s, dir)
      val labeled = index
        .join(T(s, dir, "embeddings").select(col("vec_id"), col("label")), Seq("vec_id"))
      (model, labeled.persist())
    })

  // mutated index (q91): frozen model from an 80% build, the remaining 20%
  // inserted via appendVectors, vec_id % 7 == 3 deleted — cached like
  // annIndex so warm passes time the query path, not the k-means rebuild
  private val mutIdxCache = scala.collection.concurrent.TrieMap.empty[String, (RabitqModel, DataFrame)]
  private def mutatedIndex(s: SparkSession, dir: String): (RabitqModel, DataFrame) =
    mutIdxCache.getOrElseUpdate(dir, {
      val emb = T(s, dir, "embeddings")
      val (model, index0) =
        RabitqIndex.build(s, emb.filter(col("vec_id") % 10 < 8), NumClusters, Seed)
      val inserted = index0.unionByName(
        RabitqIndex.appendVectors(s, model, emb.filter(col("vec_id") % 10 >= 8)))
      val mutated = RabitqIndex.deleteVectors(inserted,
        emb.filter(col("vec_id") % 7 === 3).select("vec_id"))
      (model, mutated.persist())
    })

  // ball-pruning state (q92): per-cluster (radius, count) stats plus the
  // cluster-assigned base — the partitioned layout a saved index already
  // has on disk, materialized once per sf dir
  private val ballCache = scala.collection.concurrent.TrieMap.empty[String, (DataFrame, DataFrame)]
  private def ballState(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    ballCache.getOrElseUpdate(dir, {
      val (_, index) = annIndex(s, dir)
      val stats = RabitqQuery.clusterStats(index)
      val assigned = T(s, dir, "embeddings")
        .join(index.select("vec_id", "cluster_id"), Seq("vec_id"))
      (stats.persist(), assigned.persist())
    })

  // full-rerank bound for the exactness-gate queries (q23/q32): the whole
  // base, derived per sf dir (parquet metadata count — no scan) and cached
  private val baseCountCache = scala.collection.concurrent.TrieMap.empty[String, Int]
  private def fullRerank(s: SparkSession, dir: String): Int =
    baseCountCache.getOrElseUpdate(dir, {
      val n = T(s, dir, "embeddings").count()
      require(n <= Int.MaxValue, s"base count $n exceeds rerank bound")
      n.toInt
    })

  // saved-to-disk index (partitionBy cluster_id layout) per sf dir, for the
  // partition-pruned query path
  private val diskIdxCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private def diskIndex(s: SparkSession, dir: String): String =
    diskIdxCache.getOrElseUpdate(dir, {
      val (model, index) = annIndex(s, dir)
      val out = graft.TempDirs.create("graft_idx_")
      RabitqIndex.save(s, model, index, out)
      out
    })

  // label-carrying saved index (q99): the labeled rows persist into the
  // cluster_id-partitioned parquet, so a metadata predicate reaches
  // PushedFilters beside the partition pruning on the query path
  private def diskIndexLabeled(s: SparkSession, dir: String): String =
    diskIdxCache.getOrElseUpdate("lab:" + dir, {
      val (model, index) = annIndexLabeled(s, dir)
      val out = graft.TempDirs.create("graft_idx_lab_")
      RabitqIndex.save(s, model, index, out)
      out
    })

  private val streamCounter = new AtomicInteger(0)

  // shared STATIC sides of the q112/q114 ingest gates (history band
  // index + cluster-assigned history embeddings) — both gates drive the
  // same standing corpus (docs/emb % 3 == 0), the same centroids and the
  // same shingle params by construction, so the setup builds once per sf
  // dir and the second gate's stream-setup jobs vanish (guide §5; the
  // historyBloom/annIndex cache pattern). Built lazily by whichever gate
  // runs first — the build stays inside a timed query, it just stops
  // being paid twice.
  private val ingestStaticsCache = scala.collection.concurrent.TrieMap
    .empty[String, graft.streaming.IngestStream.IngestStatics]
  private def ingestStatics(s: SparkSession,
                            dir: String): graft.streaming.IngestStream.IngestStatics =
    ingestStaticsCache.getOrElseUpdate(dir, {
      val emb = T(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") % 62 === 0)
        .orderBy(col("vec_id")).limit(8)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      graft.streaming.IngestStream.buildStatics(s,
        T(s, dir, "documents").filter(col("doc_id") % 3 === 0),
        emb.filter(col("vec_id") % 3 === 0), centroids, shingleN = 3)
    })

  // one-time bucketed ingest per sf dir (q79): orders + lineitem written
  // bucketed AND sorted on the order key — paid once per session, after
  // which every orders⋈lineitem equi-join is exchange-free on both sides.
  // 16 buckets: sized for the sf-small fixtures; at corpus scale pick
  // ≈ table-bytes / target-partition-bytes (sources/Bucketed.scala doc)
  private val bucketedCache = scala.collection.concurrent.TrieMap.empty[String, (String, String)]
  private def bucketedTables(s: SparkSession, dir: String): (String, String) = {
    def build(): (String, String) = {
      // tag = sanitized dir + hash of the RAW dir string: sanitization is
      // lossy ('sf-0.1' and 'sf_0.1' both → 'sf_0_1'), so without the hash
      // two colliding fixture dirs in one JVM would share table names and
      // silently serve each other's data
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_").stripPrefix("_") +
        "_" + java.lang.Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(dir))
      val (ot, lt) = (s"graft_orders_b_$tag", s"graft_lineitem_b_$tag")
      graft.sources.Bucketed.writeBucketed(
        T(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
        ot, "o_orderkey", 16)
      graft.sources.Bucketed.writeBucketed(
        T(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice")),
        lt, "l_orderkey", 16)
      (ot, lt)
    }
    // the cache is JVM-wide but saveAsTable catalog entries are
    // SESSION-scoped: a second SparkSession in the same JVM would hit the
    // cache and get names absent from its own catalog — verify the tables
    // exist in THIS session before serving the cached names, else rebuild.
    // The miss path is serialized per dir (writeBucketed runs DROP TABLE +
    // filesystem delete + saveAsTable on dir-derived names — two threads
    // building concurrently would race those on identical tables)
    def cachedHit(): Option[(String, String)] = bucketedCache.get(dir) match {
      case Some(t @ (ot, lt))
          if s.catalog.tableExists(ot) && s.catalog.tableExists(lt) => Some(t)
      case _ => None
    }
    cachedHit().getOrElse {
      val lock = bucketedLocks.getOrElseUpdate(dir, new Object)
      lock.synchronized {
        cachedHit().getOrElse {
          val t = build(); bucketedCache.put(dir, t); t
        }
      }
    }
  }
  private val bucketedLocks = scala.collection.concurrent.TrieMap.empty[String, Object]

  // one-time z-ordered ingest per sf dir (q87): lineitem written clustered
  // by the 2-dim Morton key over (l_orderkey, l_partkey) — the layout leg
  // that buys row-group min/max SKIPPING on range predicates over EITHER
  // dimension (sources/ZOrder.scala), complementing B12's partition
  // pruning and q79's join co-location. Bounds are computed once from the
  // data (a 1-row aggregate) and embedded as literals in the ingest key.
  private val zorderCache = scala.collection.concurrent.TrieMap.empty[String, (String, (Long, Long, Long, Long))]
  private def zorderedLineitem(s: SparkSession, dir: String): (String, (Long, Long, Long, Long)) =
    zorderCache.getOrElseUpdate(dir, {
      val li = T(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      val b = li.agg(
        min(col("l_orderkey")), max(col("l_orderkey")),
        min(col("l_partkey")), max(col("l_partkey"))).head()
      val bounds = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      val key = graft.sources.ZOrder.zorderKey(
        col("l_orderkey"), lit(bounds._1), lit(bounds._2),
        col("l_partkey"), lit(bounds._3), lit(bounds._4), bits = 16)
      val out = graft.TempDirs.create("graft_zorder_li_")
      graft.sources.ZOrder.zorderWrite(li, key, out, partitions = 16)
      (out, bounds)
    })

  // one-time 3-dim z-ordered ingest per sf dir (q88): the n-dim
  // generalization's READ leg — lineitem clustered by the q86 Morton key
  // over (l_orderkey, l_partkey, l_suppkey), so row-group min/max stats
  // skip on range predicates over any of the THREE dimensions
  private val zorder3Cache = scala.collection.concurrent.TrieMap
    .empty[String, (String, (Long, Long, Long, Long, Long, Long))]
  private def zordered3Lineitem(s: SparkSession, dir: String): (String, (Long, Long, Long, Long, Long, Long)) =
    zorder3Cache.getOrElseUpdate(dir, {
      val li = T(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      val b = li.agg(
        min(col("l_orderkey")), max(col("l_orderkey")),
        min(col("l_partkey")), max(col("l_partkey")),
        min(col("l_suppkey")), max(col("l_suppkey"))).head()
      val bounds = (b.getLong(0), b.getLong(1), b.getLong(2),
        b.getLong(3), b.getLong(4), b.getLong(5))
      val key = graft.sources.ZOrder.zorderKeyN(Seq(
        (col("l_orderkey"), lit(bounds._1), lit(bounds._2)),
        (col("l_partkey"), lit(bounds._3), lit(bounds._4)),
        (col("l_suppkey"), lit(bounds._5), lit(bounds._6))), bits = 16)
      val out = graft.TempDirs.create("graft_zorder3_li_")
      graft.sources.ZOrder.zorderWrite(li, key, out, partitions = 16)
      (out, bounds)
    })

  // ---- curation constants shared by queries and their oracles ----------
  // (single source of truth: the oracle SQL embeds these same values, so
  // Spark and DuckDB can never drift apart on a rate or regex)
  private val SampleRates = Map("en" -> 0.5, "zh" -> 0.1)
  private val SampleDefault = 0.3
  /** q75 target training mixture: domains absent from the map (es) are
    * excluded — the mixture defines the training distribution.
    */
  private val MixWeights = Map("en" -> 0.4, "de" -> 0.2, "fr" -> 0.2, "zh" -> 0.2)
  private val MixBudget = 300L
  /** Java∩RE2-portable patterns: an email-PII shape (0 hits on the
    * synthetic corpus — proves no false positives) and a content keyword
    * (real hits — proves counting and redaction).
    */
  private val RedactPatterns = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "kw" -> "\\bkey\\b")

  /** Build + materialize every session-cached artifact for `dir` (ANN
    * index, cosine index, disk layout, base count) so benchmark timings
    * measure query plans rather than whichever query happens to pay the
    * one-time k-means build first.
    */
  def prewarm(s: SparkSession, dir: String): Unit = {
    annIndex(s, dir)._2.count()
    cosIndex(s, dir)._2.count()
    diskIndex(s, dir)
    fullRerank(s, dir)
    // q91's mutated index (a second k-means build) and q92's ball state —
    // one-time maintenance cost, warmed for the same reason as annIndex
    mutatedIndex(s, dir)._2.count()
    locally { val (st, as) = ballState(s, dir); st.count(); as.count() }
    // q79's one-time bucketed ingest ("shuffle once at ingest") — warm it
    // here so the cold bench pass times the zero-exchange JOIN, not the
    // ingest it exists to amortize; q87's z-ordered ingest for the same
    // reason
    bucketedTables(s, dir)
    zorderedLineitem(s, dir)
    zordered3Lineitem(s, dir)
    // first-touch the streaming subsystem (MicroBatchExecution, file
    // source, RocksDB state store JNI, parquet sink) on a 2-row stream so
    // q61/q66's cold numbers time the operators, not one-time class/
    // native-library loading — the same reason the index caches warm here
    val tmp = graft.TempDirs.create("graft_prewarm_stream_")
    val two = s.range(2).select(col("id").as("key"),
      org.apache.spark.sql.functions.timestamp_micros(col("id") * 1000000L + 1000000L).as("ts"),
      col("id").as("id"))
    graft.streaming.AsofStream.runFileSource(s, two, two,
      ("key", "ts", "id"), ("key", "ts", "id"), tmp, chunks = 1, stateParts = 1,
      parquetSink = true).count()
    ()
  }

  /** Flagship: approximate vector top-k on sf0.001 (driver smoke test). */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val (model, index) = annIndex(spark, dir)
    RabitqQuery.topK(spark, model, index, T(spark, dir, "embeddings"),
      annQueries(spark, dir), nprobe = 8, topk = 10, rerank = 100)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------- relational core (scan/filter/agg/join/window) ------
    "q01_pricing_summary" -> ((s, dir) => {
      T(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec3(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec3(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec3(col("l_extendedprice")) * (lit(1.0).cast(DecimalType(4, 3)) - dec3(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    "q02_revenue_by_nation" -> ((s, dir) => {
      val li = T(s, dir, "lineitem"); val o = T(s, dir, "orders")
      val c = T(s, dir, "customer"); val n = T(s, dir, "nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(dec3(col("l_extendedprice")) * (lit(1.0).cast(DecimalType(4, 3)) - dec3(col("l_discount"))))
            .cast("double").as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),
    "q03_top_orders" -> ((s, dir) => {
      T(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(dec3(col("l_extendedprice")) * (lit(1.0).cast(DecimalType(4, 3)) - dec3(col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),
    "q04_window_top_orders" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      T(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .orderBy(col("o_custkey"), col("rn"))
    }),
    "q05_filter_project" -> ((s, dir) => {
      T(s, dir, "lineitem")
        .filter(col("l_quantity") > 45 && col("l_shipdate") >= lit("1997-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),
    "q06_distinct_segments" -> ((s, dir) => {
      T(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_nationkey")).distinct()
        .orderBy(col("c_mktsegment"), col("c_nationkey"))
    }),
    "q07_anti_join" -> ((s, dir) => {
      // customers with no URGENT order (plain no-orders is empty at every
      // sf — the generator gives all customers orders)
      val c = T(s, dir, "customer")
      val o = T(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey")).orderBy(col("c_custkey"))
    }),
    "q08_setops" -> ((s, dir) => {
      val sup = T(s, dir, "supplier").select(col("s_nationkey").as("nationkey")).distinct()
      val cus = T(s, dir, "customer").select(col("c_nationkey").as("nationkey")).distinct()
      sup.intersect(cus).select(lit("both").as("tag"), col("nationkey"))
        .union(cus.except(sup).select(lit("cust_only").as("tag"), col("nationkey")))
        .orderBy(col("tag"), col("nationkey"))
    }),
    "q09_scalar_fns" -> ((s, dir) => {
      T(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        length(col("p_name")).cast("long").as("name_len"),
        substring(col("p_type"), 1, 5).as("type_pre"),
        (col("p_retailprice").cast(DecimalType(18, 2)) * lit(1.1).cast(DecimalType(2, 1)))
          .cast("double").as("price_adj"))
        .orderBy(col("p_partkey"))
    }),
    "q10_event_hourly" -> ((s, dir) => {
      T(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(dec6(col("value"))).cast("double").as("total_value"))
        .orderBy(col("hour_ts"), col("event_type"))
    }),
    "q11_sessionize" -> ((s, dir) => {
      Sessionize.sessionStats(T(s, dir, "events"), gapMinutes = 30)
        .orderBy(col("user_id"), col("session_seq"))
    }),

    // ---------------- vector search -------------------------------------
    "q12_knn_l2" -> ((s, dir) => {
      ExactKnn.l2TopK(T(s, dir, "embeddings"), annQueries(s, dir), 10)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q13_knn_cosine" -> ((s, dir) => {
      ExactKnn.cosineTopK(T(s, dir, "embeddings"), annQueries(s, dir), 10)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q23_ann_fullprobe" -> ((s, dir) => {
      // full probe + full rerank ⇒ must equal brute-force exactly; the
      // oracle is the exact-kNN SQL (end-to-end pipeline correctness).
      // rerank is derived from the base count so the exactness invariant
      // holds at every sf (a fixed bound would silently go approximate
      // once the table outgrows it)
      val (model, index) = annIndex(s, dir)
      RabitqQuery.topK(s, model, index, T(s, dir, "embeddings"), annQueries(s, dir),
        nprobe = NumClusters, topk = 10, rerank = fullRerank(s, dir))
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q24_ann_ivf" -> ((s, dir) => {
      // partial-probe approximate path (nprobe=8): k-means clustering has
      // no SQL replay, so the driver check is an invariant gate (the
      // q28/q48 pattern) — three independent invariants as constants:
      //   recall_ok  recall@10 vs exact kNN clears 0.8 (measures ~0.89);
      //   dist_ok    every returned dist IS the true L2 distance of that
      //              (query, neighbor) pair — the rerank stage is exact by
      //              construction and this verifies it independently;
      //   order_ok   exactly topk rows per query, ranks 1..k, dist
      //              non-decreasing in rank.
      val (model, index) = annIndex(s, dir)
      val base = T(s, dir, "embeddings"); val qs = annQueries(s, dir)
      // ≤ |queries|·k rows by contract; localCheckpoint so the three gate
      // aggregates below don't re-run the whole ANN pipeline each
      val approx = RabitqQuery.topK(s, model, index, base, qs,
        nprobe = 8, topk = 10, rerank = 100)
        .select("query_id", "neighbor_id", "dist", "rank").localCheckpoint()
      val truth = ExactKnn.l2TopK(base, qs, 10)
      val recallOk = ExactKnn.recall(approx, truth, 10)
        .select((col("recall") >= 0.8).cast("long").as("recall_ok"))
      val checked = base
        .join(broadcast(approx), col("vec_id") === col("neighbor_id"))
        .join(broadcast(qs), Seq("query_id"))
        .select(col("dist"),
          sqrt(graft.functions.VectorExpressions.l2sq(col("qvec"), col("embedding")))
            .as("true_dist"))
      val distOk = checked.agg(max(abs(col("dist") - col("true_dist"))).as("max_err"))
        .select((col("max_err") < 1e-6).cast("long").as("dist_ok"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy("rank")
      val orderOk = approx
        .withColumn("prev_dist", lag(col("dist"), 1).over(w))
        .agg(
          sum(when(col("prev_dist") > col("dist"), 1L).otherwise(0L)).as("inversions"),
          count(lit(1)).as("n_rows"),
          countDistinct(col("query_id")).as("n_q"),
          sum(when(col("rank") < 1 || col("rank") > 10, 1L).otherwise(0L)).as("bad_rank"))
        .select((col("inversions") === 0 && col("bad_rank") === 0 &&
          col("n_rows") === col("n_q") * 10).cast("long").as("order_ok"))
      recallOk.crossJoin(distOk).crossJoin(orderOk)
    }),
    "q32_ann_cosine" -> ((s, dir) => {
      // cosine ANN via the L2 index on normalized vectors; full probe +
      // full rerank ⇒ ranks must equal exact cosine top-k (q13's oracle)
      val (model, index) = cosIndex(s, dir)
      val baseN = ExactKnn.normalized(T(s, dir, "embeddings"), "embedding")
      val qN = ExactKnn.normalized(
        annQueries(s, dir).withColumnRenamed("qvec", "embedding"), "embedding")
        .withColumnRenamed("embedding", "qvec")
      RabitqQuery.topK(s, model, index, baseN, qN,
        nprobe = NumClusters, topk = 10, rerank = fullRerank(s, dir))
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q31_ann_pruned" -> ((s, dir) => {
      // saved-index path: probed clusters known at plan time ⇒ the scan
      // reads only those cluster_id= directories (static partition
      // pruning; plan evidence in PLANS.md). Like q24, the approximate
      // result has no SQL replay — the gate asserts the invariants that
      // matter for THIS path: recall through the save/load/prune
      // roundtrip, and a well-formed top-k shape. (Exact disk≡memory
      // row equality at the same parameters is q48's gate.)
      val base = T(s, dir, "embeddings"); val qs = annQueries(s, dir)
      val disk = RabitqQuery.topKFromDisk(s, diskIndex(s, dir), base, qs,
        nprobe = 8, topk = 10, rerank = 100)
        .select("query_id", "neighbor_id", "dist", "rank").localCheckpoint()
      val truth = ExactKnn.l2TopK(base, qs, 10)
      val recallOk = ExactKnn.recall(disk, truth, 10)
        .select((col("recall") >= 0.8).cast("long").as("recall_ok"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy("rank")
      val orderOk = disk
        .withColumn("prev_dist", lag(col("dist"), 1).over(w))
        .agg(
          sum(when(col("prev_dist") > col("dist"), 1L).otherwise(0L)).as("inversions"),
          count(lit(1)).as("n_rows"),
          countDistinct(col("query_id")).as("n_q"),
          sum(when(col("rank") < 1 || col("rank") > 10, 1L).otherwise(0L)).as("bad_rank"))
        .select((col("inversions") === 0 && col("bad_rank") === 0 &&
          col("n_rows") === col("n_q") * 10).cast("long").as("order_ok"))
      recallOk.crossJoin(orderOk)
    }),
    "q37_knn_custom_topk" -> ((s, dir) => {
      // same exact-kNN semantics as q12, but the top-k runs through the
      // custom PerGroupTopK plan node (LogicalPlan + Strategy injected via
      // GraftExtensions) instead of the Aggregator — same oracle
      val scored = T(s, dir, "embeddings")
        .crossJoin(broadcast(annQueries(s, dir)))
        .select(col("query_id"), col("vec_id"),
          sqrt(graft.functions.VectorExpressions.l2sq(col("qvec"), col("embedding"))).as("dist"))
      graft.plans.GraftTopK.perGroup(scored, "query_id", "vec_id", "dist", 10)
        .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q28_ann_recall" -> ((s, dir) => {
      // recall gate, driver-visible: emits 1 iff recall@10 ≥ 0.9 so the
      // constant-1 oracle turns the recall requirement into a hash check.
      // nprobe 12/16 + rerank 200: measured recall 0.99 at sf0.01, ≥0.97
      // at sf0.001/sf0.1 — comfortable margin over the 0.9 gate (nprobe 8
      // sits at 0.89, right on the edge)
      val (model, index) = annIndex(s, dir)
      val truth = ExactKnn.l2TopK(T(s, dir, "embeddings"), annQueries(s, dir), 10)
      val approx = RabitqQuery.topK(s, model, index, T(s, dir, "embeddings"),
        annQueries(s, dir), nprobe = 12, topk = 10, rerank = 200)
      ExactKnn.recall(approx, truth, 10)
        .select((col("recall") >= 0.9).cast("long").as("recall_ok"))
    }),

    // ---------------- dedup ----------------------------------------------
    "q14_dedup_exact" -> ((s, dir) => {
      Dedup.exact(T(s, dir, "documents")).orderBy(col("doc_id"))
    }),
    "q15_jaccard_pairs" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(T(s, dir, "documents"), n = 3, threshold = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    }),
    "q20_minhash_pairs" -> ((s, dir) => {
      Dedup.minhashPairs(T(s, dir, "documents"), n = 3, simThreshold = 0.5)
        .select(col("doc_a"), col("doc_b"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),
    "q21_simhash_pairs" -> ((s, dir) => {
      Dedup.simhashPairs(T(s, dir, "documents"), maxHamming = 3)
        .orderBy(col("doc_a"), col("doc_b"))
    }),
    "q22_embedding_neardup" -> ((s, dir) => {
      Dedup.embeddingNearDup(T(s, dir, "embeddings"), threshold = 0.4)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q45_lsh_neardup" -> ((s, dir) => {
      // portable hyperplane LSH: the banded scale path with a full DuckDB
      // replay oracle (deterministic ±1 planes, left-fold dots). 4-bit
      // bands because the demo threshold 0.4 is far below the near-dup
      // regime (p_bit ≈ 0.63 → ~50% sieve recall here; ≈ 1.0 for real
      // near-dups at cos ≥ 0.95, where production uses wider bands)
      Dedup.hyperplaneLshPortable(T(s, dir, "embeddings"), threshold = 0.4,
        numPlanes = 16, bandBits = 4)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---------------- text analysis --------------------------------------
    "q16_token_count" -> ((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"))
        .orderBy(col("doc_id"))
    }),
    "q17_quality_score" -> ((s, dir) => {
      TextOps.qualityFeatures(T(s, dir, "documents")).orderBy(col("doc_id"))
    }),
    "q18_langid" -> ((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    }),
    "q43_bpe_tokens" -> ((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_ws"),
          TextOps.bpeishTokenCount(col("text")).as("n_bpe"))
        .orderBy(col("doc_id"))
    }),
    "q44_repetition" -> ((s, dir) => {
      TextOps.repetitionSignals(T(s, dir, "documents")).orderBy(col("doc_id"))
    }),
    "q50_vocab_topk" -> ((s, dir) => {
      // corpus vocabulary building (the tokenizer/IDF precursor): top-100
      // tokens by total occurrences with document frequency — one
      // explode, one map-side-combinable aggregate, TakeOrdered limit
      val toks = split(trim(lower(col("text"))), "\\s+")
      T(s, dir, "documents")
        .select(col("doc_id"), explode(toks).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("doc_id")).as("df"))
        .orderBy(col("n_occurrences").desc, col("tok"))
        .limit(100)
    }),
    "q19_fingerprint" -> ((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.fingerprint(col("text")).as("fp"),
          TextOps.rollingHash(col("text")).as("rh"))
        .orderBy(col("doc_id"))
    }),

    // ---------------- media frames / salted agg -----------------------------
    "q38_media_frames" -> ((s, dir) => {
      // per-media frame stats from the exploded frame rows (proves the
      // chunk/explode plumbing; counts + lengths are oracle-able integers)
      val media = Multimodal.mediaFromDocuments(T(s, dir, "documents"))
      Multimodal.frameSample(media, frameBytes = 256)
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_frames"), max(col("frame_len")).as("max_frame_len"),
          min(col("frame_len")).as("last_frame_len"))
        .orderBy(col("media_id"))
    }),
    "q39_salted_agg" -> ((s, dir) => {
      // salted two-phase aggregation must equal the plain GROUP BY — run
      // it through the oracle gate (decimal accumulation keeps both
      // phases exact)
      Salting.saltedAgg(T(s, dir, "events"), Seq("event_type"), buckets = 16, Map(
        "total_value" -> (sum(dec6(col("value"))), sum(col("total_value"))),
        "n" -> (count(lit(1)), sum(col("n")).cast("long"))))
        .select(col("event_type"), col("total_value").cast("double").as("total_value"), col("n"))
        .orderBy(col("event_type"))
    }),

    "q41_range_join" -> ((s, dir) => {
      // non-equi band join: events bucketed into value bands by range
      // predicate against a broadcast bands table
      import s.implicits._
      val bands = Seq(("low", 0.0, 10.0), ("mid", 10.0, 100.0), ("high", 100.0, 1e9))
        .toDF("band", "lo", "hi")
      T(s, dir, "events")
        .join(broadcast(bands), col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"), sum(dec6(col("value"))).cast("double").as("total"))
        .orderBy(col("band"))
    }),
    "q42_null_fns" -> ((s, dir) => {
      // null semantics: nullif/coalesce/null-safe equality
      val o = T(s, dir, "orders")
      o.select(
        col("o_orderkey"),
        nullif(col("o_orderpriority"), lit("1-URGENT")).as("prio_or_null"),
        coalesce(nullif(col("o_orderpriority"), lit("1-URGENT")), lit("URGENT!")).as("prio_filled"),
        (nullif(col("o_orderpriority"), lit("1-URGENT")) <=> lit(null)).as("is_urgent"))
        .orderBy(col("o_orderkey"))
    }),
    "q40_asof_join" -> ((s, dir) => {
      // point-in-time lookup: each event joined to the user's latest order
      // at or before the event time
      val e = T(s, dir, "events").select("event_id", "user_id", "ts")
      val o = T(s, dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate")
      AsofJoin.asof(e, o, "user_id", "o_custkey", "ts", "o_orderdate", "o_orderkey")
        .filter(col("o_orderkey").isNotNull) // inner semantics, as the oracle
        .select(col("event_id"), col("user_id"), col("o_orderkey"))
        .orderBy(col("event_id"))
    }),

    // ---------------- window-function / grouping-set breadth ---------------
    "q51_window_fns" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      T(s, dir, "orders").select(
        col("o_orderkey"),
        col("o_custkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        ntile(4).over(w).cast("int").as("quartile"),
        first(col("o_orderkey")).over(w).as("first_order"))
        .orderBy(col("o_orderkey"))
    }),
    "q52_cube" -> ((s, dir) => {
      T(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(dec3(col("l_quantity"))).cast("double").as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),
    "q53_semi_join" -> ((s, dir) => {
      // customers with at least one high-value order (IN-subquery shape →
      // left semi join; no duplication of the left side)
      val c = T(s, dir, "customer")
      val o = T(s, dir, "orders").filter(col("o_totalprice") > 300000.0)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }),

    // ---------------- sketch-accuracy gates --------------------------------
    "q46_hll_distinct" -> ((s, dir) => {
      // HyperLogLog++ distinct-count sketch vs exact, as a driver-visible
      // gate (q28's pattern): emits 1 iff the approximation is within 5%.
      // rsd=0.01 gives ~5x margin; the sketch is deterministic for fixed
      // data, so the gate is stable across runs.
      val e = T(s, dir, "events")
      e.agg(
        approx_count_distinct(col("user_id"), 0.01).as("apx_u"),
        countDistinct(col("user_id")).as("ex_u"),
        approx_count_distinct(col("event_id"), 0.01).as("apx_e"),
        countDistinct(col("event_id")).as("ex_e"))
        .select(
          (abs(col("apx_u") - col("ex_u")).cast("double") / col("ex_u") <= 0.05)
            .cast("long").as("user_ok"),
          (abs(col("apx_e") - col("ex_e")).cast("double") / col("ex_e") <= 0.05)
            .cast("long").as("event_ok"))
    }),
    "q47_quantile_sketch" -> ((s, dir) => {
      // approximate quantiles (Greenwald-Khanna) vs exact percentiles,
      // gated at 1% relative error; deterministic for fixed data
      val o = T(s, dir, "orders")
      o.agg(
        percentile_approx(col("o_totalprice"), array(lit(0.5), lit(0.9), lit(0.99)),
          lit(10000)).as("apx"),
        expr("percentile(o_totalprice, array(0.5D, 0.9D, 0.99D))").as("ex"))
        .select((0 until 3).map { i =>
          (abs(element_at(col("apx"), i + 1) - element_at(col("ex"), i + 1)) /
            element_at(col("ex"), i + 1) <= 0.01).cast("long").as(s"p${Seq(50, 90, 99)(i)}_ok")
        }: _*)
    }),

    // ---------------- subquery / pivot -------------------------------------
    "q35_scalar_subquery" -> ((s, dir) => {
      // scalar subquery as ONE plan: the 1-row aggregate is broadcast and
      // cross-joined (no driver .head() round-trip, no second job)
      val o = T(s, dir, "orders")
      val avgPrice = o.agg(
        (sum(dec3(col("o_totalprice"))).cast("double") / count(lit(1))).as("avg_p"))
      o.crossJoin(broadcast(avgPrice))
        .filter(col("o_totalprice") > col("avg_p"))
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),
    "q36_pivot" -> ((s, dir) => {
      T(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .count()
        .na.fill(0L)
        .orderBy(col("user_id"))
    }),

    // ---------------- rollup / array functions -----------------------------
    "q33_rollup" -> ((s, dir) => {
      T(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(dec3(col("l_quantity"))).cast("double").as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),
    "q34_array_fns" -> ((s, dir) => {
      T(s, dir, "embeddings").select(
        col("vec_id"),
        array_max(col("embedding")).as("mx"),
        array_min(col("embedding")).as("mn"),
        size(col("embedding")).cast("long").as("n_dims"),
        element_at(col("embedding"), 1).as("first_dim"),
        aggregate(col("embedding"), lit(0.0), (a, x) => a + x).as("ssum"))
        .orderBy(col("vec_id"))
    }),

    // ---------------- json / date scalar functions ------------------------
    "q29_json_extract" -> ((s, dir) => {
      T(s, dir, "events")
        .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    }),
    "q30_date_fns" -> ((s, dir) => {
      T(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("int").as("y"),
        month(col("o_orderdate")).cast("int").as("m"),
        dayofmonth(col("o_orderdate")).cast("int").as("d"),
        quarter(col("o_orderdate")).cast("int").as("q"),
        datediff(lit("1998-01-01").cast("date"), col("o_orderdate").cast("date"))
          .cast("int").as("days_to_98"))
        .orderBy(col("o_orderkey"))
    }),

    // ---------------- streaming ------------------------------------------
    "q25_stream_window" -> ((s, dir) => {
      val name = s"events_win_${streamCounter.incrementAndGet()}"
      EventsStream.runOnce(s, s"$dir/events.parquet", minutes = 60, queryName = name)
        .orderBy(col("win_start"), col("event_type"))
    }),

    "q49_stream_dedup" -> ((s, dir) => {
      val name = s"docs_dedup_${streamCounter.incrementAndGet()}"
      graft.streaming.DocsStream
        .distinctFingerprints(s, s"$dir/documents.parquet", name)
        .orderBy(col("fp"))
    }),

    // ---------------- ANN approximate-path gate ----------------------------
    "q48_ann_paths_gate" -> ((s, dir) => {
      // makes the two structurally-unoracled ANN paths driver-checkable:
      // (a) the saved-index/partition-pruned path must return EXACTLY the
      // in-memory path's rows at the same parameters (q24 vs q31 configs),
      // (b) partial-probe recall@10 vs exact kNN must clear a 0.8 floor
      // (nprobe 8/16 measures ~0.89 across sf0.001..sf0.1). Constant-1
      // oracle turns both invariants into hash checks.
      val (model, index) = annIndex(s, dir)
      val base = T(s, dir, "embeddings"); val qs = annQueries(s, dir)
      // the q99 pattern: each leg's ≤ |q|·k result materializes ONCE
      // (localCheckpoint) — `mem` otherwise re-runs its whole ANN
      // pipeline in both exceptAll directions AND the recall join (3×
      // the work for zero invariant strength), and the three legs are
      // independent, so their jobs submit from three threads and the
      // scheduler interleaves their stages across the cores
      val (mem, disk, truth) = Overlap(s,
        RabitqQuery.topK(s, model, index, base, qs,
          nprobe = 8, topk = 10, rerank = 100)
          .select("query_id", "neighbor_id", "rank").localCheckpoint(true),
        RabitqQuery.topKFromDisk(s, diskIndex(s, dir), base, qs,
          nprobe = 8, topk = 10, rerank = 100)
          .select("query_id", "neighbor_id", "rank").localCheckpoint(true),
        ExactKnn.l2TopK(base, qs, 10).localCheckpoint(true))
      val consistent = mem.exceptAll(disk).union(disk.exceptAll(mem))
        .agg(count(lit(1)).as("n_diff"))
        .select((col("n_diff") === 0).cast("long").as("paths_consistent"))
      val recallOk = ExactKnn.recall(mem, truth, 10)
        .select((col("recall") >= 0.8).cast("long").as("recall_ok"))
      consistent.crossJoin(recallOk)
    }),

    "q54_pipeline" -> ((s, dir) => {
      // the end-to-end training-data pipeline in ONE plan: exact-dedup
      // survivors → quality floor (length + alpha ratio) → language
      // filter → corpus statistics. Integer-only output keeps the oracle
      // hash independent of double summation order.
      val docs = T(s, dir, "documents")
      val survivors = Dedup.exact(docs).select("doc_id")
      val kept = docs.join(survivors, Seq("doc_id"), "left_semi")
      val quality = TextOps.qualityFeatures(kept)
        .filter(col("n_tokens") >= 20 && col("alpha_ratio") >= 0.5)
        .select("doc_id", "n_tokens")
      val lang = kept.select(col("doc_id"), TextOps.langId(col("text")).as("lang"))
      quality.join(lang, Seq("doc_id"))
        .filter(col("lang") === "en")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          min(col("n_tokens")).as("min_tokens"),
          max(col("n_tokens")).as("max_tokens"))
    }),

    // ---------------- curation (sampling / decontamination / clustering) --
    "q55_stratified_sample" -> ((s, dir) => {
      // per-language keep rates; absent langs fall back to the default.
      // Hash-deterministic: the same rows survive on any engine/run.
      Curation.stratifiedSample(T(s, dir, "documents"), col("doc_id"), col("lang"),
          SampleRates, SampleDefault)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),
    "q56_contamination" -> ((s, dir) => {
      // benchmark set = every 50th doc (stand-in for an eval suite);
      // flag corpus docs sharing ≥2 distinct trigrams with a bench doc
      val docs = T(s, dir, "documents")
      Curation.contamination(docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0), n = 3, minOverlap = 2)
        .orderBy(col("doc_id"), col("bench_id"))
    }),
    "q57_dedup_clusters" -> ((s, dir) => {
      // near-dup pairs (simhash hamming ≤3) → transitive dedup clusters
      val pairs = Dedup.simhashPairs(T(s, dir, "documents"), maxHamming = 3)
      Curation.connectedComponents(pairs.select("doc_a", "doc_b"))
        .orderBy(col("doc_id"))
    }),
    "q58_redaction_stats" -> ((s, dir) => {
      Curation.redactionStats(T(s, dir, "documents"), RedactPatterns)
        .orderBy(col("doc_id"))
    }),
    "q59_shard_stats" -> ((s, dir) => {
      Curation.shardStats(T(s, dir, "documents"), numShards = 8)
        .orderBy(col("shard"))
    }),
    "q60_latest_by_key" -> ((s, dir) => {
      // CDC latest-wins compaction: newest event per (user, event_type)
      Curation.latestByKey(T(s, dir, "events"),
          Seq(col("user_id"), col("event_type")), col("ts"), col("event_id"),
          Seq("last_event_id" -> col("event_id"), "last_value" -> col("value")))
        .orderBy(col("user_id"), col("event_type"))
    }),
    "q61_stream_asof" -> ((s, dir) => {
      // STREAMING as-of join, same semantics as batch q40: events stream
      // probes the latest order at-or-before each event time. Driven over
      // a deterministic key subset (1 in 5 users — the oracle applies the
      // same predicate). This declares the DEPLOYMENT drive: parquet
      // file-source micro-batches (`maxFilesPerTrigger=1`, mtime-ordered
      // replay) + RocksDB state store + parquet sink — inputs and outputs
      // never touch the driver; the MemoryStream `runOnce` remains the
      // small-spec harness, spec-pinned equal. Emitted rows must equal
      // the batch as-of join on the same subset (q40's oracle verbatim).
      // chunks=4/stateParts=2: four event-time-ordered data micro-batches
      // + the flusher + the engine's required no-data drain batch — the
      // watermark advances chunk by chunk, so cross-batch buffering,
      // progressive ripe-left emission, AND state carried over ≥4 real
      // micro-batches are all exercised in the gate itself (the
      // chunking-invariance spec additionally pins chunk-independence).
      val tmp = graft.TempDirs.create("graft_q61_")
      val out = graft.streaming.AsofStream.runFileSource(s,
        T(s, dir, "events").filter(col("user_id") % 5 === 0),
        T(s, dir, "orders").filter(col("o_custkey") % 5 === 0),
        ("user_id", "ts", "event_id"), ("o_custkey", "o_orderdate", "o_orderkey"),
        dir = tmp, chunks = 4, stateParts = 2, parquetSink = true)
      out.filter(col("right_id").isNotNull)
        .select(col("left_id").as("event_id"), col("key").as("user_id"),
          col("right_id").as("o_orderkey"))
        .orderBy(col("event_id"))
    }),

    "q66_stream_upsert" -> ((s, dir) => {
      // STREAMING CDC upsert view (batch q60's counterpart): per-key
      // latest-wins state emits an Update-mode changelog; compacting the
      // changelog gives the final view, which must equal batch
      // latest-by-key on the same (1-in-7 users) subset — same oracle.
      // Declared on the DEPLOYMENT drive: parquet file source + RocksDB
      // state store + foreachBatch parquet changelog sink (nothing on the
      // driver); compaction is batching-order-proof (winners are monotone
      // per key), so the chunk count only sets micro-batch granularity —
      // 4 chunks = 4 real micro-batches carrying per-key winner state.
      val tmp = graft.TempDirs.create("graft_q66_")
      val changelog = graft.streaming.UpsertStream.runFileSource(s,
        T(s, dir, "events").filter(col("user_id") % 7 === 0),
        dir = tmp, chunks = 4, stateParts = 2, parquetSink = true)
      changelog.groupBy(col("user_id"), col("event_type"))
        .agg(max_by(struct(col("last_event_id"), col("last_value")),
          struct(col("ts_us"), col("last_event_id"))).as("w"))
        .select(col("user_id"), col("event_type"),
          col("w.last_event_id").as("last_event_id"),
          col("w.last_value").as("last_value"))
        .orderBy(col("user_id"), col("event_type"))
    }),
    "q62_training_order" -> ((s, dir) => {
      // deterministic global training order (reproducible "shuffle"):
      // head of the order is TakeOrderedAndProject — bounded per-partition
      // heaps, never a full global sort for a bounded read
      T(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          Curation.trainingOrder(col("doc_id")).as("pos"))
        .orderBy(col("pos"), col("doc_id"))
        .limit(200)
    }),
    "q63_curation_capstone" -> ((s, dir) => {
      // the full curation pipeline in ONE lazy plan: exact-dedup
      // survivors → drop benchmark docs and contaminated docs (≥2 shared
      // trigrams with the benchmark) → stratified sample → shard stats.
      // Integer-only output keeps the oracle hash summation-order-proof
      val docs = T(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 50 =!= 0)
      val bench = docs.filter(col("doc_id") % 50 === 0)
      val survivors = Dedup.exact(docs).select("doc_id")
      val contaminated = Curation.contamination(corpus, bench, n = 3, minOverlap = 2)
        .select("doc_id").distinct()
      val kept = corpus.join(survivors, Seq("doc_id"), "left_semi")
        .join(contaminated, Seq("doc_id"), "left_anti")
      val sampled = Curation.stratifiedSample(kept, col("doc_id"), col("lang"),
        SampleRates, SampleDefault)
      Curation.shardStats(sampled, numShards = 8).orderBy(col("shard"))
    }),

    // ---------------- multimodal ------------------------------------------
    "q26_media_stats" -> ((s, dir) => {
      Multimodal.mediaStats(Multimodal.mediaFromDocuments(T(s, dir, "documents")))
        .orderBy(col("media_id"))
    }),
    "q27_media_features" -> ((s, dir) => {
      // REAL feature extraction (no stub anywhere on this path): decode
      // the synthesized WAV containers with the genuine RIFF parser and
      // emit a per-media amplitude histogram — integer features the
      // oracle replays from the source text independently (the q64
      // parse-vs-construct cross-check, extended to per-sample features).
      // 2048 bins (width 32): the synthetic samples sit ~16 apart, so the
      // histogram actually discriminates (8 coarse bins would put every
      // ASCII-derived sample in bin 0)
      val media = Multimodal.wavMediaFromDocuments(T(s, dir, "documents"), sampleRate = 8000)
      Multimodal.wavFeatures(media, bins = 2048)
        .orderBy(col("media_id"), col("bin"))
    }),
    "q64_wav_decode" -> ((s, dir) => {
      // REAL container decode: synthesize PCM16 WAV payloads from text
      // (deterministic formula), parse them with the genuine RIFF walker,
      // and emit integer metadata + sample folds. The oracle computes the
      // expected output INDEPENDENTLY from the text via the same sample
      // formula — a byte-layout or parser bug breaks the hash match.
      val media = Multimodal.wavMediaFromDocuments(T(s, dir, "documents"), sampleRate = 8000)
      Multimodal.decodeWav(media).orderBy(col("media_id"))
    }),
    "q65_bmp_decode" -> ((s, dir) => {
      // image-side counterpart of q64: synthesize 24-bit BMPs from text,
      // parse with the genuine BMP walker (row padding, header checks),
      // oracle recomputes expected output from the text independently
      val media = Multimodal.bmpMediaFromDocuments(T(s, dir, "documents"))
      Multimodal.decodeBmp(media).orderBy(col("media_id"))
    }),
    "q67_bmp_features" -> ((s, dir) => {
      // image-side feature extraction over REAL decoded pixels (q27's BMP
      // counterpart — both real decoders now feed a feature query):
      // per-channel color histogram, 16 bins of width 16. The oracle
      // replays the expected histogram from the source text via the pixel
      // formula (cp%256, 7cp%256, 13cp%256) — parse-vs-construct per pixel
      val media = Multimodal.bmpMediaFromDocuments(T(s, dir, "documents"))
      Multimodal.bmpFeatures(media, bins = 16)
        .orderBy(col("media_id"), col("channel"), col("bin"))
    }),
    "q71_wav_resample" -> ((s, dir) => {
      // audio FRAME-SAMPLE: PCM decimation ×4 as a payload→payload
      // transform (real RIFF parse → keep every 4th sample → real
      // re-encode at rate/4), verified by re-decoding the resampled
      // bytes; oracle replays every 4th codepoint's sample from the text
      val media = Multimodal.wavMediaFromDocuments(T(s, dir, "documents"), sampleRate = 8000)
      Multimodal.decodeWav(Multimodal.resampleWav(media, factor = 4))
        .orderBy(col("media_id"))
    }),
    "q70_bmp_resize" -> ((s, dir) => {
      // media RESIZE as a payload→payload transform: nearest-neighbor
      // downsample by 3 (real decode → sample → real re-encode), verified
      // by re-decoding the RESIZED bytes with the genuine BMP parser. The
      // oracle replays every 3rd codepoint from the source text — the
      // q65/q67 parse-vs-construct pattern, now through TWO codec passes
      val media = Multimodal.bmpMediaFromDocuments(T(s, dir, "documents"))
      Multimodal.decodeBmp(Multimodal.resizeBmp(media, factor = 3))
        .orderBy(col("media_id"))
    }),
    "q69_heuristic_rerank" -> ((s, dir) => {
      // Q11: the reference's heuristic reranker
      // (/root/reference/src/rerank.rs:117-177, WINDOW_SIZE=12) — the
      // dynamically-tightening-threshold scan, parallel across queries.
      // Like q24, the k-means clustering has no SQL replay, so the driver
      // check is an invariant gate:
      //   recall_ok  recall@10 vs exact kNN clears 0.8 — the heuristic's
      //              pruning must not cost material recall at this scale;
      //   dist_ok    every returned dist IS the true L2 of its pair;
      //   pruned_ok  exact scores strictly fewer than candidates and > 0
      //              — the threshold actually pruned (the heuristic's
      //              entire point), not degenerated to exhaustive rerank.
      val (model, index) = annIndex(s, dir)
      val base = T(s, dir, "embeddings"); val qs = annQueries(s, dir)
      val h = RabitqQuery.heuristicTopK(s, model, index, base, qs,
        nprobe = 8, topk = 10, window = 12)
        .localCheckpoint()
      val truth = ExactKnn.l2TopK(base, qs, 10)
      val recallOk = ExactKnn.recall(h, truth, 10)
        .select((col("recall") >= 0.8).cast("long").as("recall_ok"))
      val checked = base
        .join(broadcast(h), col("vec_id") === col("neighbor_id"))
        .join(broadcast(qs), Seq("query_id"))
        .select(col("dist"),
          sqrt(graft.functions.VectorExpressions.l2sq(col("qvec"), col("embedding")))
            .as("true_dist"))
      val distOk = checked.agg(max(abs(col("dist") - col("true_dist"))).as("max_err"))
        .select((col("max_err") < 1e-6).cast("long").as("dist_ok"))
      val prunedOk = h.groupBy(col("query_id"))
        .agg(max(col("n_precise")).as("p"), max(col("n_candidates")).as("c"))
        .agg(sum(col("p")).as("p"), sum(col("c")).as("c"))
        .select((col("p") > 0 && col("p") < col("c")).cast("long").as("pruned_ok"))
      recallOk.crossJoin(distOk).crossJoin(prunedOk)
    }),
    "q68_fvecs_roundtrip" -> ((s, dir) => {
      // fvecs/u64vecs codec parity — the reference's PRIMARY IO format
      // (/root/reference/src/utils.rs:280-330): export the embeddings
      // through the fvecs writer plus a u64vecs label sidecar, re-ingest
      // both via the binaryFile readers, and join on file position. The
      // declared output is computed ENTIRELY from the re-ingested bytes;
      // hash-matching the parquet-sourced oracle proves the codec is
      // bit-exact f32/u64 end to end (writer ordering ⇒ position = rank
      // of vec_id, which the oracle replays with row_number). The output
      // is all-scalar (the driver's comparator can't sort array cells):
      // per row, three fold-order-exact f64 checksums over the re-ingested
      // floats — plain sum, position-weighted sum, and sum of squares —
      // replayed by the oracle with the q78 list_reduce left-fold pattern.
      // f32→f64 is exact and both engines run the identical IEEE
      // addition/multiplication chain, so the checksums detect any
      // corruption of one or two elements and any reordering; a passing
      // forgery would have to lie in the joint kernel of two independent
      // linear functionals AND the quadratic one — not a guarantee of
      // bit-exactness, but far past any plausible codec failure mode.
      // `+ 0.0` normalizes a −0.0 total at the zero boundary; vec_wsum's
      // sequence(1, dim) is guarded for dim = 0 (sequence(1,0) would
      // descend [1,0] and element_at(vec, 0) errors under ANSI).
      val tmp = graft.TempDirs.create("graft_q68_")
      val emb = T(s, dir, "embeddings")
      graft.sources.Fvecs.writeFvecs(
        emb.select(col("vec_id"), col("embedding").as("vec")), s"$tmp/emb.fvecs")
      graft.sources.Fvecs.writeU64vecs(
        emb.select(col("vec_id"), array(col("label").cast("long")).as("vec")),
        s"$tmp/labels.u64vecs")
      val vecs = graft.sources.Fvecs.readFvecs(s, s"$tmp/emb.fvecs")
      val labels = graft.sources.Fvecs.readU64vecs(s, s"$tmp/labels.u64vecs")
        .select(col("vec_id"), col("vec").getItem(0).as("label"))
      vecs.join(labels, "vec_id")
        .select(col("vec_id"), size(col("vec")).cast("long").as("dim"),
          (aggregate(col("vec"), lit(0.0), (acc, x) => acc + x.cast("double"))
            + lit(0.0)).as("vec_sum"),
          when(size(col("vec")) > 0,
            aggregate(sequence(lit(1), size(col("vec"))), lit(0.0), (acc, d) =>
              acc + element_at(col("vec"), d).cast("double") * d.cast("double"))
              + lit(0.0))
            .otherwise(lit(0.0)).as("vec_wsum"),
          (aggregate(col("vec"), lit(0.0), (acc, x) =>
            acc + x.cast("double") * x.cast("double")) + lit(0.0)).as("vec_ss"),
          col("label"))
        .orderBy(col("vec_id"))
    }),

    // ---------------- training-batch preparation -------------------------
    "q72_seq_pack" -> ((s, dir) => {
      // concat-and-chunk packing at a 1024-token budget across 8
      // deterministic shards; per-shard window, no global sort
      TrainingPrep.sequencePack(T(s, dir, "documents"), budget = 1024,
          nShards = 8, hashFamily = 3)
        .orderBy(col("shard"), col("pack_id"))
    }),
    "q73_chunk_overlap" -> ((s, dir) => {
      // 200-char windows at stride 150 (50-char overlap); narrow plan
      TrainingPrep.chunkOverlap(T(s, dir, "documents"), width = 200, stride = 150)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),
    "q74_embed_int8" -> ((s, dir) => {
      // symmetric per-vector int8 quantization; integer-only outputs so
      // the cross-engine comparison is exact
      TrainingPrep.int8Quant(T(s, dir, "embeddings")).orderBy(col("vec_id"))
    }),
    "q75_domain_mix" -> ((s, dir) => {
      TrainingPrep.domainMix(T(s, dir, "documents"), MixWeights, MixBudget,
          hashFamily = 4)
        .orderBy(col("lang"))
    }),
    "q76_tfidf_top" -> ((s, dir) => {
      // per-doc top TF-IDF term; score rounded before the argmax so the
      // winner is engine-stable (see TextOps.tfidfTopTerm)
      TextOps.tfidfTopTerm(T(s, dir, "documents")).orderBy(col("doc_id"))
    }),
    "q77_length_buckets" -> ((s, dir) => {
      // padding-efficiency report: width-64 token buckets, integer-only
      TrainingPrep.lengthBuckets(T(s, dir, "documents"), width = 64)
        .orderBy(col("bucket"))
    }),
    "q78_jl_project" -> ((s, dir) => {
      // deterministic Rademacher JL projection 64 → 16 dims; long-form
      // (vec_id, j, proj) with the fold-order-exact DuckDB replay
      TrainingPrep.jlProject(T(s, dir, "embeddings"), outDims = 16)
        .orderBy(col("vec_id"), col("j"))
    }),
    "q79_bucketed_join" -> ((s, dir) => {
      // the co-located corpus×corpus equi-join: both sides written
      // bucketed AND sorted on the join key once per session (the
      // "shuffle once at ingest, never again" trade —
      // sources/Bucketed.scala), then joined with ZERO exchanges on
      // either side (plan spec-asserted in OperatorsSpec); decimal-sum
      // aggregates so the cross-engine totals are order-independent
      val (ot, lt) = bucketedTables(s, dir)
      graft.sources.Bucketed.bucketedJoin(s, ot, lt, "o_orderkey", "l_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,3)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,3)")).cast("double")
            .as("sum_price"))
        .orderBy(col("o_orderpriority"))
    }),
    "q80_span_dedup" -> ((s, dir) => {
      // span-level (5-word-shingle) cross-document duplication report —
      // the substring-dedup signal whole-doc dedup misses; only md5
      // digests ever shuffle (Dedup.spanDupStats)
      Dedup.spanDupStats(T(s, dir, "documents"), k = 5).orderBy(col("doc_id"))
    }),
    "q81_token_curriculum" -> ((s, dir) => {
      // global token-budget step assignment via the two-phase distributed
      // prefix sum (no single-partition window); integer-only output
      TrainingPrep.tokenCurriculum(T(s, dir, "documents"), stepBudget = 2048)
        .orderBy(col("doc_id"))
    }),
    "q82_temperature_mix" -> ((s, dir) => {
      // τ=0.7 temperature-scaled domain mixture + duplication factors
      // under a 100k-token epoch budget; domain-sorted left-fold
      // normalizer so the oracle replays the sum bit-for-bit
      TrainingPrep.temperatureMix(T(s, dir, "documents"), tau = 0.7,
          epochTokens = 100000L)
        .orderBy(col("lang"))
    }),
    "q83_unigram_lm" -> ((s, dir) => {
      // per-doc mean unigram log-likelihood (KenLM-filter stand-in);
      // corpus-exchange-once plan shape shared with q76
      TextOps.unigramLogProb(T(s, dir, "documents")).orderBy(col("doc_id"))
    }),
    "q84_zorder_key" -> ((s, dir) => {
      // Morton (Z-order) clustering key over (l_orderkey, l_partkey) —
      // the multi-dimension data-skipping layout (sources/ZOrder.scala);
      // bounds via a broadcast 1-row aggregate (the q81 pattern), the
      // key itself pure codegen integer arithmetic, 16 bits per dim
      val li = T(s, dir, "lineitem")
      val bounds = li.agg(
        min(col("l_orderkey")).as("amin"), max(col("l_orderkey")).as("amax"),
        min(col("l_partkey")).as("bmin"), max(col("l_partkey")).as("bmax"))
      li.select(col("l_orderkey"), col("l_partkey"))
        .join(broadcast(bounds))
        .select(col("l_orderkey"), col("l_partkey"),
          graft.sources.ZOrder.zorderKey(
            col("l_orderkey"), col("amin"), col("amax"),
            col("l_partkey"), col("bmin"), col("bmax"), bits = 16).as("zkey"))
        .orderBy(col("zkey"), col("l_orderkey"), col("l_partkey"))
    }),
    "q85_span_mask" -> ((s, dir) => {
      // the ACTION step behind q80's report: remove every token covered
      // by a cross-document shared 5-span; kept text surfaces as an md5
      // scalar so the rewrite is fully oracle-able (Dedup.maskSharedSpans)
      Dedup.maskSharedSpans(T(s, dir, "documents"), k = 5)
        .orderBy(col("doc_id"))
    }),
    "q86_zorder_key3" -> ((s, dir) => {
      // 3-dim Morton key over (l_orderkey, l_partkey, l_suppkey) — the
      // n-dim generalization (bits ≤ 63/d = 21; 16 used), same broadcast
      // bounds + generated-oracle discipline as q84
      val li = T(s, dir, "lineitem")
      val bounds = li.agg(
        min(col("l_orderkey")).as("amin"), max(col("l_orderkey")).as("amax"),
        min(col("l_partkey")).as("bmin"), max(col("l_partkey")).as("bmax"),
        min(col("l_suppkey")).as("cmin"), max(col("l_suppkey")).as("cmax"))
      li.select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
        .join(broadcast(bounds))
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          graft.sources.ZOrder.zorderKeyN(Seq(
            (col("l_orderkey"), col("amin"), col("amax")),
            (col("l_partkey"), col("bmin"), col("bmax")),
            (col("l_suppkey"), col("cmin"), col("cmax"))), bits = 16).as("zkey"))
        .orderBy(col("zkey"), col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    }),
    "q87_zorder_scan" -> ((s, dir) => {
      // the READ leg of the z-order layout: a 2-dim range predicate over
      // the session-cached z-ordered lineitem copy — row-group min/max
      // stats prune the scan on BOTH dims (spec-asserted vs an unsorted
      // copy in OperatorsSpec); the answer is layout-independent, so the
      // oracle runs the same predicate on the plain table
      val (path, (amin, amax, bmin, bmax)) = zorderedLineitem(s, dir)
      val (aHi, bHi) = (amin + (amax - amin) / 8, bmin + (bmax - bmin) / 8)
      s.read.parquet(path)
        .filter(col("l_orderkey").between(amin, aHi) &&
          col("l_partkey").between(bmin, bHi))
        .agg(count(lit(1)).as("n_rows"),
          sum(dec3(col("l_quantity"))).cast("double").as("sum_qty"),
          min(col("l_orderkey")).as("min_ok"), max(col("l_orderkey")).as("max_ok"),
          min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"))
    }),
    "q88_zorder_scan3" -> ((s, dir) => {
      // READ leg of the 3-dim key (q86): a 3-predicate range aggregate
      // over the session-cached 3-dim-clustered lineitem copy — row-group
      // min/max stats prune on all THREE dims (spec-asserted vs a
      // hash-scattered control); layout-independent answer, so the oracle
      // runs the same predicate on the plain table
      val (path, (amin, amax, bmin, bmax, cmin, cmax)) = zordered3Lineitem(s, dir)
      val (aHi, bHi, cHi) = (amin + (amax - amin) / 8,
        bmin + (bmax - bmin) / 8, cmin + (cmax - cmin) / 8)
      s.read.parquet(path)
        .filter(col("l_orderkey").between(amin, aHi) &&
          col("l_partkey").between(bmin, bHi) &&
          col("l_suppkey").between(cmin, cHi))
        .agg(count(lit(1)).as("n_rows"),
          sum(dec3(col("l_quantity"))).cast("double").as("sum_qty"),
          min(col("l_orderkey")).as("min_ok"), max(col("l_orderkey")).as("max_ok"),
          min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"),
          min(col("l_suppkey")).as("min_sk"), max(col("l_suppkey")).as("max_sk"))
    }),
    "q89_stream_sessions_gate" -> ((s, dir) => {
      // puts the STATEFUL streaming surface (flatMapGroupsWithState
      // sessionization, q11's streaming twin) into the driver's gate. The
      // emitted set is boundary-nondeterministic — a user's final session
      // may or may not close via event-time timeout depending on watermark
      // progress across micro-batches — so the gates are the session
      // algebra's invariants, computed distributed in ONE tagged-union
      // shuffle (bit 1 = batch, bit 2 = definitely-closed, bit 4 = streamed):
      //   definitely-closed ⊆ streamed ⊆ all batch sessions, streamed ≠ ∅,
      //   and matched sessions agree on total_value within 1e-6 (value_ok —
      //   the state machine folds doubles in event order while batch
      //   accumulates decimal, so a tolerance inside the shuffle, not a
      //   hash of the double).
      // Constant oracle turns them into hash checks (the q48 pattern).
      val name = s"sess_gate_${streamCounter.incrementAndGet()}"
      val streamed = graft.streaming.SessionStream
        .runOnce(s, s"$dir/events.parquet", gapMinutes = 30, name)
      Sessionize.sessionGates(
        Sessionize.sessionStats(T(s, dir, "events"), gapMinutes = 30), streamed)
    }),
    "q90_sessionize_bucketed" -> ((s, dir) => {
      // the hot-user-safe sessionizer (every window bounded by (user_id,
      // 6 h bucket), per-bucket summary stitch — Sessionize.scala) against
      // q11's EXACT oracle: the fixture spans weeks, so sessions cross
      // bucket boundaries throughout and the stitch is load-bearing, not
      // incidental
      Sessionize.sessionStatsBucketed(T(s, dir, "events"), gapMinutes = 30,
          bucketMinutes = 360)
        .orderBy(col("user_id"), col("session_seq"))
    }),
    "q91_ann_mutation_gate" -> ((s, dir) => {
      // index MUTATION (insert + delete — the reference's unchecked
      // boxes, /root/reference/README.md:18): model frozen from an 80%
      // build, 20% inserted via appendVectors, vec_id % 7 == 3 deleted
      // by anti-join. Full probe + full rerank over the mutated index
      // must hash-match exact kNN over the final logical set — a deleted
      // vector surfacing, a dropped insert, or a mis-encoded append all
      // flip the oracle row set
      val (model, mutated) = mutatedIndex(s, dir)
      val baseFinal = T(s, dir, "embeddings").filter(col("vec_id") % 7 =!= 3)
      RabitqQuery.topK(s, model, mutated, baseFinal, annQueries(s, dir),
        nprobe = NumClusters, topk = 10, rerank = fullRerank(s, dir))
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q92_ann_earlystop" -> ((s, dir) => {
      // EXACT early-termination search (the reference's unchecked "early
      // stop" box, /root/reference/README.md:19): triangle-inequality
      // ball pruning drops whole clusters before their rows are scanned,
      // and the surviving scan still hash-matches the exact-kNN oracle —
      // the pruned fraction is measured in the spec and PLANS.md
      val (stats, assigned) = ballState(s, dir)
      val (model, _) = annIndex(s, dir)
      RabitqQuery.ballPrunedTopK(s, model, stats, assigned, annQueries(s, dir), 10)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q93_ann_fastscan" -> ((s, dir) => {
      // FASTSCAN estimator (the reference's last unchecked box, "RaBitQ
      // with fastscan", /root/reference/README.md:12): byte-indexed
      // lookup tables replace the 4 bit-plane popcount passes
      // (VectorExpressions.AsymDotLutF32). The kernel is bit-identical to
      // the plane path (property-spec'd), so full probe + full rerank
      // through the LUT estimator must still hash-match exact kNN — the
      // q23 gate on a different generated-code path
      val (model, index) = annIndex(s, dir)
      RabitqQuery.topK(s, model, index, T(s, dir, "embeddings"), annQueries(s, dir),
        nprobe = NumClusters, topk = 10, rerank = fullRerank(s, dir), fastscan = true)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q94_incremental_dedup" -> ((s, dir) => {
      // incremental ingestion dedup (Dedup.incrementalNew): docs of the
      // "incoming" batch (doc_id % 3 ≠ 0) not already in "history"
      // (doc_id % 3 = 0), via distributed Bloom sketch + broadcast-only
      // exact verification — history never shuffles. The oracle is the
      // plain NOT EXISTS on text, so a bloom false positive surviving (or
      // a false negative, which can't happen) flips the row set
      val docs = T(s, dir, "documents")
      Dedup.incrementalNew(
        docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 =!= 0),
        historyBloom(s, dir))
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),
    "q95_stream_incremental" -> ((s, dir) => {
      // streaming twin of q94 (DocsStream.newFingerprints): same bloom
      // prefilter + exact verification, arriving as a file stream with
      // watermarked in-stream dedup. WHICH copy survives a micro-batch is
      // nondeterministic but the distinct new-fingerprint SET is not, so
      // the gate checks set equality with the batch path in ONE
      // tagged-union shuffle (bit 1 = batch, bit 2 = streamed; every fp
      // must carry both bits). Constant oracle → hash check (q48 pattern)
      val docs = T(s, dir, "documents")
      val history = docs.filter(col("doc_id") % 3 === 0)
      val name = s"inc_dedup_${streamCounter.incrementAndGet()}"
      val streamed = graft.streaming.DocsStream.newFingerprints(
        s, s"$dir/documents.parquet", history, 1L << 20, 0.01, name,
        where = col("doc_id") % 3 =!= 0, bloom = Some(historyBloom(s, dir)))
      val batch = Dedup
        .incrementalNew(history, docs.filter(col("doc_id") % 3 =!= 0),
          historyBloom(s, dir))
        .select(Dedup.textFp.as("fp")).filter(col("fp").isNotNull).distinct()
      // set equality + exactly-once streamed emission (the count
      // invariant that constrains within-incoming duplicate handling)
      graft.streaming.DocsStream.parityGate(batch, streamed)
    }),
    "q97_ann_filtered" -> ((s, dir) => {
      // FILTERED vector search (beyond the reference — it has no metadata
      // at all): a label predicate composed into the ANN pipeline as a
      // pre-filter on the label-carrying index (annIndexLabeled), the
      // layout real systems use so selective predicates prune the
      // candidate scan instead of post-filtering with over-fetch (which
      // loses recall) or joining base at query time (which shuffles).
      // Full probe + full rerank over the filtered index must hash-match
      // brute-force kNN over the filtered base — exactness regardless of
      // how selective the predicate is
      val (model, index) = annIndexLabeled(s, dir)
      val pred = col("label") % 4 === 1
      RabitqQuery.topK(s, model, index.filter(pred),
        T(s, dir, "embeddings").filter(pred), annQueries(s, dir),
        nprobe = NumClusters, topk = 10, rerank = fullRerank(s, dir))
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q98_rag_retrieve" -> ((s, dir) => {
      // end-to-end retrieval (the RAG shape): ANN top-k over the vector
      // index, then hydrate each hit with its document row — documents
      // (the big side at scale) joins the broadcast k·|queries| hit set,
      // so the corpus never shuffles. Full probe ⇒ exact, so the oracle
      // replays kNN + join in SQL; doc_id ↔ vec_id is the fixtures' 1:1
      // correspondence
      val (model, index) = annIndex(s, dir)
      val hits = RabitqQuery.topK(s, model, index, T(s, dir, "embeddings"),
        annQueries(s, dir), nprobe = NumClusters, topk = 5,
        rerank = fullRerank(s, dir))
      T(s, dir, "documents")
        .join(broadcast(hits), col("doc_id") === col("neighbor_id"))
        .select(col("query_id"), col("rank"), col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q99_ann_filtered_recall" -> ((s, dir) => {
      // filtered search at PARTIAL probe — the regime where filtered ANN
      // actually fails in production: a selective predicate concentrates
      // the true filtered neighbors in clusters the probe may skip, so
      // recall (not exactness) is the property to gate. q97 proves
      // exactness at full probe; this gate fixes nprobe = 8 of 16 and
      // asserts recall@10 vs FILTERED brute force clears a measured
      // floor at two selectivities (~30% and ~10% of the corpus), and
      // that the saved-index path — where the label predicate lands in
      // PushedFilters beside the cluster partition pruning
      // (topKFromDisk(pred)) — returns exactly the in-memory rows.
      // Floors leave margin under the deterministic measured recalls
      // (sel30: 0.86 at both sf0.001/sf0.01; sel10: 0.73/0.86).
      // Constant-1 oracle turns all four invariants into hash checks.
      val (model, index) = annIndexLabeled(s, dir)
      val emb = T(s, dir, "embeddings")
      val qs = annQueries(s, dir)
      // materialize the saved index ONCE before fanning out (a concurrent
      // first-call race would write it twice)
      val savedIdx = diskIndexLabeled(s, dir)
      def gates(pred: Column, floor: Double, tag: String): DataFrame = {
        // each leg's ≤ |q|·k result is materialized ONCE (localCheckpoint):
        // the truth/mem/disk pipelines would otherwise re-run inside every
        // exceptAll direction and the recall join — 3× the ANN work for
        // zero additional invariant strength. truth/mem/disk depend only
        // on fb, so their jobs are submitted from three threads and the
        // scheduler interleaves their stages across the cores.
        val fb = emb.filter(pred).localCheckpoint(true)
        val (truth, mem, disk) = Overlap(s,
          ExactKnn.l2TopK(fb, qs, 10).localCheckpoint(true),
          RabitqQuery.topK(s, model, index.filter(pred),
            fb, qs, nprobe = 8, topk = 10, rerank = 100).localCheckpoint(true),
          RabitqQuery.topKFromDisk(s, savedIdx,
            fb, qs, nprobe = 8, topk = 10, rerank = 100, pred = pred)
            .localCheckpoint(true))
        val cols = Seq("query_id", "neighbor_id", "rank").map(col)
        val recallOk = ExactKnn.recall(mem, truth, 10)
          .select((col("recall") >= floor).cast("long").as(s"recall_ok_$tag"))
        val pathsOk = mem.select(cols: _*).exceptAll(disk.select(cols: _*))
          .union(disk.select(cols: _*).exceptAll(mem.select(cols: _*)))
          .agg(count(lit(1)).as("n_diff"))
          .select((col("n_diff") === 0).cast("long").as(s"paths_ok_$tag"))
        recallOk.crossJoin(pathsOk)
      }
      // the two selectivity legs are independent eager pipelines (the
      // localCheckpoints above submit real jobs) — run them from two
      // threads so the scheduler interleaves their stages instead of
      // serializing ~10 small jobs end to end (gate-heavy BY DESIGN;
      // this halves its wall clock without weakening any invariant)
      val (sel30, sel10) = Overlap(s,
        gates(col("label") % 4 === 1, 0.8, "sel30"),
        gates(col("label") === 7, 0.65, "sel10"))
      sel30.crossJoin(sel10)
    }),
    "q100_ann_filtered_auto" -> ((s, dir) => {
      // selectivity-aware probe widening (RabitqQuery.filteredTopK — the
      // remedy for q99's measured recall collapse): the caller requests
      // nprobe 4 of 16, the ~10%-selective predicate widens the probe to
      // ceil(4/0.1) clamped to full, so with full rerank the result is
      // EXACTLY filtered brute force — a real-rows oracle (q97's SQL at
      // label = 7), not a constant gate. At corpus scale the same
      // widening keeps effective candidates constant instead of
      // saturating (README "Filtered search at scale": 0.332 → 0.786).
      val (model, index) = annIndexLabeled(s, dir)
      RabitqQuery.filteredTopK(s, model, index, T(s, dir, "embeddings"),
        annQueries(s, dir), col("label") === 7,
        nprobe = 4, topk = 10, rerank = fullRerank(s, dir))
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q101_semantic_dedup" -> ((s, dir) => {
      // SemDeDup-style semantic dedup (Curation.semanticDedup): coarse
      // clusters → within-cluster cosine pairs → component
      // representatives survive. Centroids are a DETERMINISTIC sample
      // (vec_id % 62 == 0, first 8) so DuckDB replays the whole
      // pipeline: argmin assignment (tie on cid), the q22 cosine
      // formula, the q57 recursive-CTE components, min-id survivor —
      // a real-rows oracle over a 4-stage composition
      val emb = T(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") % 62 === 0)
        .orderBy(col("vec_id")).limit(8)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      Curation.semanticDedup(s, emb, centroids, threshold = 0.4)
        .orderBy(col("vec_id"))
    }),
    "q102_semantic_hier_gate" -> ((s, dir) => {
      // the HIER semantic-dedup path's driver gate (q99's two-invariant
      // pattern — approximation at super-cell boundaries is the
      // variant's contract, so the gate pins what IS deterministic):
      //  (1) branch=1 degenerate: one super ⇒ the member scan covers all
      //      k centroids ⇒ assignment ≡ flat ⇒ the hier output must
      //      EXACTLY equal the flat path (q101's oracled pipeline);
      //  (2) planted-copy recovery at real branch=√k: EXACT copies of
      //      existing vectors assign to their source's cluster under ANY
      //      kernel (identical input ⇒ identical argmin), sit at
      //      cosine 1 with a smaller-id source ⇒ every planted copy must
      //      be dropped — deterministic at every SF and every fit.
      // Constant oracle turns both invariants into hash checks.
      val emb = T(s, dir, "embeddings")
      val c8 = emb.filter(col("vec_id") % 62 === 0)
        .orderBy(col("vec_id")).limit(8)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val flat = Curation.semanticDedup(s, emb, c8, threshold = 0.4)
        .localCheckpoint(true)
      val hier1 = Curation.semanticDedupHier(s, emb, c8, threshold = 0.4,
        branch = 1).localCheckpoint(true)
      val eqOk = hier1.exceptAll(flat).union(flat.exceptAll(hier1))
        .agg(count(lit(1)).as("n_diff"))
        .select((col("n_diff") === 0).cast("long").as("branch1_eq_ok"))
      // finer centroid set so branch = √64 = 8 is a real two-level split
      val c64 = emb.filter(col("vec_id") % 7 === 0)
        .orderBy(col("vec_id")).limit(64)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val nPlant = 50
      val copies = emb.filter(col("vec_id") < nPlant)
        .select((col("vec_id") + 1000000000L).as("vec_id"), col("embedding"))
      val planted = Curation.semanticDedupHier(s,
        emb.select("vec_id", "embedding").unionByName(copies), c64, threshold = 0.4)
        .filter(col("vec_id") >= 1000000000L)
        .agg(count(lit(1)).as("n_survived"))
        .select((col("n_survived") === 0).cast("long").as("recovery_ok"))
      eqOk.crossJoin(planted)
    }),
    "q103_ann_filtered_disk" -> ((s, dir) => {
      // the filtered-ANN DISK + KNOWN-selectivity composition
      // (RabitqQuery.filteredTopKFromDisk): selectivity arrives as a
      // catalog statistic (no measurement scan — the amortized contract
      // at scale), widens the probe 4 → ceil(4/0.1) = 40, clamps to full
      // at fixture scale ⇒ exactly filtered brute force (q100's
      // real-rows oracle). The widened probedClusterIds static prune +
      // label-in-PushedFilters composition and mem ≡ disk equality are
      // plan-asserted in the spec (OperatorsSpec "filtered disk path").
      val pred = col("label") === 7
      RabitqQuery.filteredTopKFromDisk(s, diskIndexLabeled(s, dir),
        T(s, dir, "embeddings").filter(pred), annQueries(s, dir), pred,
        nprobe = 4, topk = 10, rerank = fullRerank(s, dir),
        selectivity = Some(0.1))
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q104_incremental_semantic" -> ((s, dir) => {
      // incremental SEMANTIC dedup (Curation.incrementalSemanticDedup) —
      // the q94 composition in embedding space, the daily-ingest shape:
      // incoming (vec_id % 3 ≠ 0) survives iff NO history member
      // (vec_id % 3 = 0) of its own coarse cluster is cosine-≥-0.4 near
      // it. History streams through a map-side join (broadcast incoming,
      // id-only matched set); same deterministic-sample centroids as
      // q101, so DuckDB replays assignment + the cross-set cosine
      // NOT EXISTS verbatim — a real-rows oracle.
      val emb = T(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") % 62 === 0)
        .orderBy(col("vec_id")).limit(8)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      Curation.incrementalSemanticDedup(s,
        emb.filter(col("vec_id") % 3 === 0),
        emb.filter(col("vec_id") % 3 =!= 0),
        centroids, threshold = 0.4)
        .orderBy(col("vec_id"))
    }),
    "q105_stream_semantic" -> ((s, dir) => {
      // STREAMING twin of q104 (VecsStream.newVectors): the same incoming
      // split arrives as 4 parquet chunk files replayed one per
      // micro-batch; each vector is assigned by the same codegen argmin
      // and anti-joined against same-cluster history. The per-row
      // decision is STATELESS, so the emitted rows EXACTLY equal the
      // batch operator regardless of batching — the oracle is q104's SQL
      // verbatim (a real-rows gate, stronger than q95's set-parity,
      // which exists there only because fingerprint survivorship is
      // batch-dependent).
      val emb = T(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") % 62 === 0)
        .orderBy(col("vec_id")).limit(8)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val tmp = graft.TempDirs.create("graft_q105_")
      emb.filter(col("vec_id") % 3 =!= 0).select("vec_id", "embedding")
        .repartition(4).write.parquet(s"$tmp/in")
      val name = s"sem_stream_${streamCounter.incrementAndGet()}"
      graft.streaming.VecsStream.newVectors(s, s"$tmp/in",
        emb.filter(col("vec_id") % 3 === 0), centroids, threshold = 0.4,
        name, maxFilesPerTrigger = Some(1))
        .orderBy(col("vec_id"))
    }),
    "q106_incremental_minhash" -> ((s, dir) => {
      // incremental NEAR-dup dedup (Dedup.incrementalMinhashNew) — the
      // q94 contract lifted from exact to minhash near-duplicates,
      // completing the incremental matrix (exact q94/q95, semantic
      // q104/q105, n-gram near-dup here): incoming (doc_id % 3 ≠ 0)
      // survives iff no history doc (doc_id % 3 = 0) shares a band AND
      // clears exact-Jaccard 0.5. History bands stream map-side against
      // the broadcast day-batch bands; the oracle replays signatures,
      // banding, and verification verbatim (q20's machinery, cross-set)
      val docs = T(s, dir, "documents")
      Dedup.incrementalMinhashNew(
        docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 =!= 0),
        n = 3, simThreshold = 0.5)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),
    "q107_ingest_capstone" -> ((s, dir) => {
      // the DAILY-INGEST capstone: a new doc ships iff it survives exact
      // dedup (q94), minhash near-dup (q106), AND semantic near-dup
      // (q104) vs the standing corpus — three incremental operators
      // composed in one pipeline. Each stage's drop decision depends
      // only on (doc, history), never on fellow incoming docs, so the
      // composition is a pure intersection: stage order only affects
      // cost (cheapest filter first — the bloom exact pass — so later
      // stages scan only prior survivors). doc_id ↔ vec_id is the
      // fixtures' 1:1 correspondence (the q98 pattern).
      val docs = T(s, dir, "documents")
      val emb = T(s, dir, "embeddings")
      val history = docs.filter(col("doc_id") % 3 === 0)
      val incoming = docs.filter(col("doc_id") % 3 =!= 0)
      val centroids = emb.filter(col("vec_id") % 62 === 0)
        .orderBy(col("vec_id")).limit(8)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      // anti-join the semantically MATCHED ids (incoming embeddings ∖
      // survivors), not semi-join the survivors: a doc with no vector
      // in the embeddings table cannot match and must SURVIVE this
      // stage — q112's streaming formulation and the oracle's
      // semantics. The semi-join formulation silently dropped every
      // no-embedding doc, caught by the sf0.1 verify where documents
      // outnumber embeddings 5000:2000 (at sf0.01 they're 1:1).
      def semDroppedPlan = emb.filter(col("vec_id") % 3 =!= 0)
        .select(col("vec_id").as("doc_id"))
        .join(Curation.incrementalSemanticDedup(s,
          emb.filter(col("vec_id") % 3 === 0),
          emb.filter(col("vec_id") % 3 =!= 0),
          centroids, threshold = 0.4)
          .select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_anti")
      // the semantic leg (embedding-space) is INDEPENDENT of the
      // text-space exact+minhash chain, which materializes eagerly
      // (incrementalMinhashNew checkpoints its result): compute the
      // dropped-id set on a thread while that chain runs (guide §2.6),
      // then attach it with the same broadcast anti-join. Under the
      // plan-dump's lazyPlans mode nothing materializes, so the full
      // lazy plan stays inspectable — and identical to the sequential
      // formulation.
      def minhashChain = Dedup.incrementalMinhashNew(history,
        Dedup.incrementalNew(history, incoming, historyBloom(s, dir)),
        n = 3, simThreshold = 0.5)
      val (semDropped, afterMinhash) =
        if (sys.props.get("graft.dedup.lazyPlans").contains("true"))
          (semDroppedPlan, minhashChain)
        else Overlap(s, semDroppedPlan.localCheckpoint(true), minhashChain)
      afterMinhash.join(broadcast(semDropped), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),
    "q108_quality_model" -> ((s, dir) => {
      // MODEL-based quality filter (fastText/CCNet shape): hashed
      // unigram+bigram bag features (the minhash tier's portable token
      // polyhash, mod B=4096) through a linear scorer + sigmoid. The
      // gate runs the deterministic weight table (Knuth-hash weights —
      // engine-replayable); Quality.train fits real MLlib weights over
      // the SAME feature space for scoreWith (spec'd, not oracled —
      // LBFGS isn't portable arithmetic). Scoring is ONE codegen pass,
      // zero shuffles, model state embedded in the plan.
      Quality.qualityScore(T(s, dir, "documents")).orderBy(col("doc_id"))
    }),
    "q110_bpe_pair_stats" -> ((s, dir) => {
      // the SQL-expressible slice of distributed BPE tokenizer training
      // (BpeTrain): weighted adjacent character-pair counts over the
      // word-frequency table — the statistic every merge iteration
      // maximizes — top-50 under the trainer's own deterministic
      // (cnt desc, pair asc) tie-break. The corpus is touched once
      // (word counts); the pair scan runs on the compressed word table.
      BpeTrain.pairStats(T(s, dir, "documents"), 50)
    }),
    "q111_bpe_train" -> ((s, dir) => {
      // FULL distributed BPE training as an invariant gate (the q24/q28
      // pattern for iterative, non-SQL-expressible ops). Invariants:
      // 20 merges learned; the first merge IS the q110 top pair;
      // training is deterministic (two full runs, identical merge
      // sequences); and the symbol bookkeeping holds its exact
      // two-sided bound per step — greedy application merges ⌊chain/2⌋
      // of each overlapping run, so freq/2 ≤ removed ≤ freq.
      val docs = T(s, dir, "documents")
      // the gate's three legs are INDEPENDENT computations — two
      // deterministic training runs plus the q110 top pair — that ran
      // sequentially; each is a chain of tiny vocabulary-sized jobs
      // separated by driver latency, so overlapping the chains from
      // threads (guide §2.6, the q48 pattern) fills those gaps without
      // changing any leg's result (training is deterministic — that
      // equality IS the gate)
      val (r2, top, r1) = Overlap(s,
        BpeTrain.learn(s, docs, numMerges = 20),
        BpeTrain.pairStats(docs, 1).collect()(0),
        BpeTrain.learn(s, docs, numMerges = 20))
      val firstOk = r1.merges.nonEmpty &&
        r1.merges.head.left == top.getString(0) &&
        r1.merges.head.right == top.getString(1) &&
        r1.merges.head.freq == top.getLong(2)
      val totals = r1.initialSymbols +: r1.stepSymbols
      val comprOk = r1.merges.indices.forall { i =>
        val removed = totals(i) - totals(i + 1)
        val f = r1.merges(i).freq
        removed * 2 >= f && removed <= f
      }
      import s.implicits._
      Seq((r1.merges.length.toLong, if (firstOk) 1L else 0L,
        if (r1 == r2) 1L else 0L, if (comprOk) 1L else 0L))
        .toDF("n_merges", "first_matches", "deterministic", "compression_exact")
    }),
    "q112_stream_ingest" -> ((s, dir) => {
      // CONTINUOUS daily-ingest curation (IngestStream.curatedIngest) —
      // the q107 capstone running on the ingest firehose, with the q108
      // model-quality filter composed in: incoming docs arrive as 4
      // parquet chunk files replayed one per micro-batch; each batch
      // ships the docs that clear quality margin > 0 AND exact AND
      // minhash AND semantic dedup vs the standing corpus. Every stage
      // decision is (doc, static history)-only, so the emitted set
      // equals the batch conjunction at any batching — a real-rows
      // oracle (q107's SQL ∧ the integer-margin quality clause).
      val docs = T(s, dir, "documents")
      val emb = T(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") % 62 === 0)
        .orderBy(col("vec_id")).limit(8)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val tmp = graft.TempDirs.create("graft_q112_")
      docs.filter(col("doc_id") % 3 =!= 0)
        .select("doc_id", "text", "n_chars")
        .repartition(4).write.parquet(s"$tmp/in")
      graft.streaming.IngestStream.curatedIngest(s, s"$tmp/in",
        docs.filter(col("doc_id") % 3 === 0),
        emb.filter(col("vec_id") % 3 === 0),
        emb, centroids, historyBloom(s, dir),
        cosineThreshold = 0.4, shingleN = 3, simThreshold = 0.5,
        tmp, s"ingest_stream_${streamCounter.incrementAndGet()}",
        maxFilesPerTrigger = Some(1),
        statics = Some(ingestStatics(s, dir)))
        .orderBy(col("doc_id"))
    }),
    "q113_stream_index" -> ((s, dir) => {
      // CONTINUOUS INDEXING (VecsStream.appendToIndex) — q91's insert
      // leg on the ingest stream: bootstrap model + index from the
      // vec_id % 5 == 0 slice, stream the other 80% in as 3 chunk files
      // replayed one per micro-batch, each encoded with the FROZEN
      // model and appended to the saved cluster_id-partitioned layout.
      // Full probe + full rerank over the RELOADED index must equal
      // brute force over ALL vectors — q23's exact-kNN oracle through
      // an index that was mostly built by the stream.
      val emb = T(s, dir, "embeddings")
      val tmp = graft.TempDirs.create("graft_q113_")
      val (model, index0) = RabitqIndex.build(s,
        emb.filter(col("vec_id") % 5 === 0), NumClusters, Seed)
      RabitqIndex.save(s, model, index0, s"$tmp/idx")
      emb.filter(col("vec_id") % 5 =!= 0).select("vec_id", "embedding")
        .repartition(3).write.parquet(s"$tmp/in")
      graft.streaming.VecsStream.appendToIndex(s, s"$tmp/in", s"$tmp/idx",
        s"$tmp/ckpt", model,
        s"index_stream_${streamCounter.incrementAndGet()}",
        maxFilesPerTrigger = Some(1))
      val (m2, idx2) = RabitqIndex.load(s, s"$tmp/idx")
      RabitqQuery.topK(s, m2, idx2, emb, annQueries(s, dir),
        nprobe = NumClusters, topk = 10, rerank = fullRerank(s, dir))
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q114_stream_ingest_index" -> ((s, dir) => {
      // THE DAILY LOOP in one stream (q112 ∘ q113): per micro-batch,
      // incoming docs pass quality ∧ exact ∧ minhash ∧ semantic vs the
      // standing corpus, and exactly the SURVIVORS' vectors are encoded
      // with the frozen model and appended into the saved index — new
      // data becomes searchable as it ships. Gate: full probe + full
      // rerank over the reloaded index vs the FINAL logical base
      // (history ∪ survivors) must equal brute force — the q23 oracle
      // restricted to the q112 conjunction's survivor set, so a doc
      // that shipped without being indexed, or was indexed without
      // shipping, flips the row set.
      val docs = T(s, dir, "documents")
      val emb = T(s, dir, "embeddings")
      val histEmb = emb.filter(col("vec_id") % 3 === 0)
      val centroids = emb.filter(col("vec_id") % 62 === 0)
        .orderBy(col("vec_id")).limit(8)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val tmp = graft.TempDirs.create("graft_q114_")
      val (model, index0) = RabitqIndex.build(s, histEmb, NumClusters, Seed)
      RabitqIndex.save(s, model, index0, s"$tmp/idx")
      docs.filter(col("doc_id") % 3 =!= 0)
        .select("doc_id", "text", "n_chars")
        .repartition(3).write.parquet(s"$tmp/in")
      val surv = graft.streaming.IngestStream.curatedIngest(s, s"$tmp/in",
        docs.filter(col("doc_id") % 3 === 0), histEmb, emb, centroids,
        historyBloom(s, dir),
        cosineThreshold = 0.4, shingleN = 3, simThreshold = 0.5,
        tmp, s"ingest_index_stream_${streamCounter.incrementAndGet()}",
        maxFilesPerTrigger = Some(1),
        indexInto = Some((model, s"$tmp/idx")),
        statics = Some(ingestStatics(s, dir)))
      val (m2, idx2) = RabitqIndex.load(s, s"$tmp/idx")
      val baseFinal = histEmb.unionByName(
        emb.join(surv.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi"),
        allowMissingColumns = false)
      RabitqQuery.topK(s, m2, idx2, baseFinal, annQueries(s, dir),
        nprobe = NumClusters, topk = 10, rerank = fullRerank(s, dir))
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q115_stream_index_maint" -> ((s, dir) => {
      // CONTINUOUS index MAINTENANCE (VecsStream.maintainIndex) — both
      // reference mutation boxes on one stream: (op, vec_id, embedding)
      // rows arrive as 3 files replayed one per micro-batch; adds
      // (vec_id % 5 ≥ 3) encode against the frozen model and append
      // into the layout, dels (vec_id % 7 = 3 — hitting BOTH initial
      // and streamed-in rows, in arbitrary batch order) append to the
      // id-only tombstone log. Tombstones are terminal until
      // compaction, so the final logical set is (initial ∪ adds) ∖ dels
      // regardless of interleaving. loadLive anti-joins the log;
      // full probe + full rerank over the live rows must equal brute
      // force over vec_id % 7 ≠ 3 — q91's oracle through the streamed
      // maintenance path (surviving tombstoned row, dropped add, or
      // resurrected delete all flip the row set).
      val emb = T(s, dir, "embeddings")
      val tmp = graft.TempDirs.create("graft_q115_")
      val initial = emb.filter(col("vec_id") % 5 < 3)
      val (model, index0) = RabitqIndex.build(s, initial, NumClusters, Seed)
      RabitqIndex.save(s, model, index0, s"$tmp/idx")
      emb.filter(col("vec_id") % 5 >= 3)
        .select(lit("add").as("op"), col("vec_id"), col("embedding"))
        .unionByName(emb.filter(col("vec_id") % 7 === 3)
          .select(lit("del").as("op"), col("vec_id"),
            lit(null).cast("array<float>").as("embedding")))
        .repartition(3).write.parquet(s"$tmp/in")
      graft.streaming.VecsStream.maintainIndex(s, s"$tmp/in", s"$tmp/idx",
        s"$tmp/ckpt", model,
        s"index_maint_stream_${streamCounter.incrementAndGet()}",
        maxFilesPerTrigger = Some(1))
      val (m2, live) = RabitqIndex.loadLive(s, s"$tmp/idx")
      val baseFinal = emb.filter(col("vec_id") % 7 =!= 3)
      RabitqQuery.topK(s, m2, live, baseFinal, annQueries(s, dir),
        nprobe = NumClusters, topk = 10, rerank = fullRerank(s, dir))
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q116_index_rebalance" -> ((s, dir) => {
      // SCHEDULED REBALANCE (RabitqIndex.rebalanceIndex) — the lifecycle
      // step after continuous appends skew cluster sizes: bootstrap the
      // model on the embedding[0] < 0 halfspace only, append the other
      // half through the frozen model (it piles into the boundary
      // clusters — guaranteed oversize), then rebalance. Rebalance is a
      // pure layout op — only oversized clusters are re-fit (one task
      // each), their members re-encoded, their partition dirs rewritten —
      // so full probe + full rerank over the reloaded index must STILL
      // equal brute-force kNN over all vectors (q23's oracle); a vector
      // lost, duplicated, or re-encoded against the wrong centroid flips
      // the row set. The require() makes a silently-no-op rebalance fail
      // the gate rather than pass it vacuously.
      val emb = T(s, dir, "embeddings")
      val tmp = graft.TempDirs.create("graft_q116_")
      val (model, index0) = RabitqIndex.build(s,
        emb.filter(element_at(col("embedding"), 1) < 0f), NumClusters, Seed)
      RabitqIndex.save(s, model, index0, s"$tmp/idx")
      RabitqIndex.appendVectors(s, model,
          emb.filter(element_at(col("embedding"), 1) >= 0f))
        .write.mode("append").partitionBy("cluster_id").parquet(s"$tmp/idx/index")
      val report = RabitqIndex.rebalanceIndex(s, s"$tmp/idx", emb,
        maxSizeFactor = 1.4)
      require(report.split.nonEmpty,
        s"rebalance gate is vacuous: no cluster exceeded 1.4x mean ($report)")
      require(report.maxSizeAfter < report.maxSizeBefore,
        s"rebalance did not reduce the max cluster size ($report)")
      val (m2, idx2) = RabitqIndex.load(s, s"$tmp/idx")
      RabitqQuery.topK(s, m2, idx2, emb, annQueries(s, dir),
        nprobe = m2.params.numClusters, topk = 10, rerank = fullRerank(s, dir))
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q117_index_lifecycle" -> ((s, dir) => {
      // THE FULL CONTINUOUS-INDEX LIFECYCLE in one gate: bootstrap on
      // the embedding[0] < 0 halfspace → maintenance stream 1 (adds:
      // upper halfspace evens; dels: vec_id % 11 = 4, id-only
      // tombstones) → SCHEDULED REBALANCE (the appends piled into the
      // boundary clusters; require() a real split) → writers RELOAD the
      // model (rebalance invalidates frozen models — split ids are
      // re-used with new centroids, the q116 contract) → maintenance
      // stream 2 with the reloaded model (adds: upper halfspace odds;
      // dels: vec_id % 13 = 6) → loadLive. Tombstones are
      // terminal and never compacted here, so the final logical set is
      // simply ALL ∖ dels regardless of phase interleaving; full probe
      // + full rerank must equal brute force over vec_id % 11 ≠ 4 ∧
      // % 13 ≠ 6 — a stale-model encode, a lost tombstone across the
      // rebalance, or a resurrected delete all flip the row set.
      val emb = T(s, dir, "embeddings")
      val tmp = graft.TempDirs.create("graft_q117_")
      val upper = element_at(col("embedding"), 1) >= 0f
      val (model, index0) = RabitqIndex.build(s,
        emb.filter(element_at(col("embedding"), 1) < 0f), NumClusters, Seed)
      def opsFile(adds: DataFrame, delPred: Column, path: String): Unit =
        adds.select(lit("add").as("op"), col("vec_id"), col("embedding"))
          .unionByName(emb.filter(delPred)
            .select(lit("del").as("op"), col("vec_id"),
              lit(null).cast("array<float>").as("embedding")))
          .repartition(2).write.parquet(path)
      // each phase's ops-file write is INDEPENDENT of the layout op that
      // precedes its stream (save / rebalance) — overlap them (guide
      // §2.6). Started only AFTER build() returns: overlapping a write
      // onto the k-means fit was A/B-measured slower in a prior round
      // (the fit saturates the cores); save and rebalance are tiny-job
      // latency-bound, so the write backfills their idle capacity. The
      // streams start only after BOTH legs complete — the file set and
      // the layout are bit-identical to the sequential order, and the
      // gate's logical set is batching-invariant by contract anyway.
      Overlap(s,
        opsFile(emb.filter(upper && col("vec_id") % 2 === 0),
          col("vec_id") % 11 === 4, s"$tmp/in1"),
        RabitqIndex.save(s, model, index0, s"$tmp/idx"))
      graft.streaming.VecsStream.maintainIndex(s, s"$tmp/in1", s"$tmp/idx",
        s"$tmp/ckpt1", model,
        s"lifecycle_p1_${streamCounter.incrementAndGet()}",
        maxFilesPerTrigger = Some(1))
      val (_, m2) = Overlap(s,
        opsFile(emb.filter(upper && col("vec_id") % 2 === 1),
          col("vec_id") % 13 === 6, s"$tmp/in2"), {
        val report = RabitqIndex.rebalanceIndex(s, s"$tmp/idx", emb,
          maxSizeFactor = 1.4)
        require(report.split.nonEmpty,
          s"lifecycle gate is vacuous: rebalance was a no-op ($report)")
        RabitqIndex.load(s, s"$tmp/idx")._1
      })
      graft.streaming.VecsStream.maintainIndex(s, s"$tmp/in2", s"$tmp/idx",
        s"$tmp/ckpt2", m2,
        s"lifecycle_p2_${streamCounter.incrementAndGet()}",
        maxFilesPerTrigger = Some(1))
      val (m3, live) = RabitqIndex.loadLive(s, s"$tmp/idx")
      val baseFinal = emb.filter(col("vec_id") % 11 =!= 4 && col("vec_id") % 13 =!= 6)
      RabitqQuery.topK(s, m3, live, baseFinal, annQueries(s, dir),
        nprobe = m3.params.numClusters, topk = 10, rerank = fullRerank(s, dir))
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q118_rebalance_labeled" -> ((s, dir) => {
      // REBALANCE × FILTERED SEARCH composition: metadata columns riding
      // in the layout must survive the rebalance rewrite. Rewritten rows
      // are re-encoded from the base, so a rewrite that forgot the carry
      // would null the label on exactly the oversized clusters — filtered
      // search would then silently drop those rows while untouched
      // partitions keep answering (parquet merges the mixed schemas
      // without complaint, which is what makes this failure silent).
      // Gate: q116's skew construction with the label riding throughout,
      // rebalance (require a real split), then FULL-probe filtered search
      // from the rebalanced disk layout ≡ brute force over the label
      // predicate (q97's oracle) — a nulled or corrupted label flips the
      // row set.
      val emb = T(s, dir, "embeddings")
      val labels = emb.select(col("vec_id"), col("label"))
      val tmp = graft.TempDirs.create("graft_q118_")
      val lower = element_at(col("embedding"), 1) < 0f
      val (model, index0) = RabitqIndex.build(s, emb.filter(lower),
        NumClusters, Seed)
      RabitqIndex.save(s, model, index0.join(labels, Seq("vec_id")),
        s"$tmp/idx")
      RabitqIndex.appendVectors(s, model, emb.filter(!lower))
        .join(labels, Seq("vec_id"))
        .write.mode("append").partitionBy("cluster_id").parquet(s"$tmp/idx/index")
      val report = RabitqIndex.rebalanceIndex(s, s"$tmp/idx", emb,
        maxSizeFactor = 1.4)
      require(report.split.nonEmpty,
        s"labeled-rebalance gate is vacuous: rebalance was a no-op ($report)")
      val pred = col("label") % 4 === 1
      RabitqQuery.filteredTopKFromDisk(s, s"$tmp/idx", emb.filter(pred),
        annQueries(s, dir), pred, nprobe = report.numClustersAfter,
        topk = 10, rerank = fullRerank(s, dir), selectivity = Some(1.0))
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q119_index_stats" -> ((s, dir) => {
      // INDEX OBSERVABILITY (RabitqIndex.describeIndex): the one-row
      // layout/health report an operator reads to SCHEDULE maintenance —
      // tombstone debt decides when compaction is worth the rewrite,
      // skew/oversized decide when rebalance is (describeIndex applies
      // rebalanceIndex's own split criterion, so report and op can never
      // disagree). n_rows is a parquet-metadata count; the sizes are one
      // slim two-column scan + numClusters-row aggregate — never the
      // codes, never the corpus width. Gate pins the deterministic
      // columns against SQL over the construction: full index saved,
      // vec_id % 9 = 2 tombstoned, describe. The skew/debt/needs_rebalance
      // semantics are spec-asserted on a constructed-skew layout.
      val emb = T(s, dir, "embeddings")
      val (model, index) = annIndex(s, dir)
      val tmp = graft.TempDirs.create("graft_q119_")
      RabitqIndex.save(s, model, index, s"$tmp/idx")
      emb.filter(col("vec_id") % 9 === 2).select("vec_id")
        .write.parquet(s"$tmp/idx/deletes")
      RabitqIndex.describeIndex(s, s"$tmp/idx")
        .select(col("num_clusters"), col("n_rows"), col("n_live"),
          col("n_tombstones"))
    }),
    "q121_swap_recovery" -> ((s, dir) => {
      // CRASH-WINDOW gate for the rebalance publish: a process died after
      // writing a COMPLETE next generation but before the MANIFEST write
      // — index-v2 holds its re-encoded data, its `_CARRY` listing and
      // the grown model's `_model.json`, and nothing references it.
      // Readers must keep resolving `index`, vacuumIndex must reclaim
      // index-v2 as unreferenced debris (without following its listing
      // into the live generation's files), and search through the
      // layout must still equal brute force. Construction: save a
      // healthy index, then manufacture the unpublished generation —
      // cluster 0 "re-split" into clusters 0 and k (half the rows each,
      // re-labeled only, centroid k an exact COPY of centroid 0) and
      // every other cluster carried by the real listing builder. A
      // reader resolving the orphan, its k+1-centroid model leaking, a
      // vacuum that spares it, or one that reclaims a file its listing
      // names flips the require()s or the row set.
      val emb = T(s, dir, "embeddings")
      val tmp = graft.TempDirs.create("graft_q121_")
      val idx = s"$tmp/idx"
      val next = s"$idx/index-v2"
      val (model, index0) = RabitqIndex.build(s, emb, NumClusters, Seed)
      RabitqIndex.save(s, model, index0, idx)
      val c0 = s.read.parquet(s"$idx/index").filter(col("cluster_id") === 0)
      require(c0.count() >= 2, "fixture cluster 0 too small for a split")
      c0.withColumn("cluster_id",
          when(col("vec_id") % 2 === 0, lit(0)).otherwise(lit(NumClusters)))
        .write.partitionBy("cluster_id").parquet(next)
      RabitqIndex.writeCarryListing(idx, "index-v2",
        RabitqIndex.resolve(idx).carryEntries(Set(0)))
      RabitqIndex.writeModel(idx, next, model.copy(
        params = model.params.copy(numClusters = NumClusters + 1),
        centroids = model.centroids :+ model.centroids(0)))
      require(RabitqIndex.readCarry(idx, "index-v2").nonEmpty,
        "gate is vacuous: the unpublished generation carries nothing")
      require(RabitqIndex.indexDataDir(idx) == s"$idx/index",
        "readers resolved a generation no MANIFEST write published")
      val rep = RabitqIndex.vacuumIndex(idx) // default retention window
      require(rep.removed.contains(next) && !new java.io.File(next).exists,
        s"the unpublished generation was not reclaimed as debris ($rep)")
      val (m2, live) = RabitqIndex.loadLive(s, idx)
      require(m2.params.numClusters == NumClusters,
        "the unpublished generation's grown model reached a reader")
      RabitqQuery.topK(s, m2, live, emb, annQueries(s, dir),
        nprobe = m2.params.numClusters, topk = 10, rerank = fullRerank(s, dir))
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q122_append_vs_compact" -> ((s, dir) => {
      // MECHANICAL APPEND-vs-MAINTENANCE EXCLUSION: a compaction swap
      // fires in the one window a scheduling convention could never
      // police — between a streamed batch's staged write and its
      // promote. The promote runs under the layout lease and re-resolves
      // the generation inside it, so the batch lands whole in the NEW
      // generation (its rows were never in the old one, so the rewrite
      // neither carried nor lost them). Construction: build on
      // vec_id % 5 ≠ 0, tombstone vec_id % 7 = 3, then append the
      // % 5 = 0 holdout through IdempotentSink with the compaction fired
      // from the onStaged seam. The tombstones fold BEFORE the appends
      // land, so the live set is exactly (% 5 ≠ 0 ∧ % 7 ≠ 3) ∪ (% 5 = 0)
      // — a batch lost to the dead generation, folded twice, or
      // double-promoted all flip the full-probe + full-rerank row set.
      val emb = T(s, dir, "embeddings")
      val tmp = graft.TempDirs.create("graft_q122_")
      val (model, index0) = RabitqIndex.build(s,
        emb.filter(col("vec_id") % 5 =!= 0), NumClusters, Seed)
      RabitqIndex.save(s, model, index0, s"$tmp/idx")
      emb.filter(col("vec_id") % 7 === 3 && col("vec_id") % 5 =!= 0)
        .select("vec_id")
        .write.parquet(RabitqIndex.tombstoneLogDir(s"$tmp/idx"))
      graft.streaming.IdempotentSink.appendBatch(
        RabitqIndex.appendVectors(s, model, emb.filter(col("vec_id") % 5 === 0)),
        RabitqIndex.indexDataDir(s"$tmp/idx"), s"$tmp/idx", "q122", 0L,
        partitionCols = Seq("cluster_id"),
        onStaged = () =>
          graft.streaming.VecsStream.compactIndex(s, s"$tmp/idx"))
      require(RabitqIndex.indexDataDir(s"$tmp/idx") == s"$tmp/idx/index-v2",
        "gate is vacuous: the compaction did not swap mid-batch")
      val (m2, live) = RabitqIndex.loadLive(s, s"$tmp/idx")
      val baseFinal = emb.filter(
        col("vec_id") % 5 === 0 || col("vec_id") % 7 =!= 3)
      RabitqQuery.topK(s, m2, live, baseFinal, annQueries(s, dir),
        nprobe = m2.params.numClusters, topk = 10, rerank = fullRerank(s, dir))
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q123_condput_lifecycle" -> ((s, dir) => {
      // OBJECT-STORE DEPLOYMENT SHAPE, driver-gated: the FULL
      // append → replay → delete → rebalance → compact → vacuum
      // lifecycle with every commit primitive routed through
      // CondPutCommit — the conditional-PUT (If-None-Match create +
      // atomic whole-object PUT, no rename) implementation the
      // CommitOps contract names as the object-store deployment
      // path. The same schedules that TEAR under a naive object-store
      // double (LifecycleContractSpec: last-writer-wins create admits
      // concurrent mutators; a reader racing the MANIFEST publish
      // resolves a vacuumed generation) must run to the exact brute-force
      // row set here: a non-exclusive batch marker double-appends the
      // replay, a torn MANIFEST publish loses the generation, a
      // mis-swept staging loses the batch, a mis-carried tombstone log
      // resurrects deletes, a generation missing its grown `_model.json`
      // decodes against pre-split centroids — all flip the full-probe +
      // full-rerank oracle. Construction (the q120 skew recipe so the
      // rebalance REALLY splits): build on the lower halfspace, append
      // the upper half (batch 0 — it piles into the boundary clusters —
      // then a verbatim REPLAY of batch 0 that must no-op via the
      // If-None-Match marker), tombstone vec_id % 9 = 2, REBALANCE
      // (index-v2 with the grown model riding inside it and the
      // uncompacted log carried, published by one atomic MANIFEST PUT),
      // compact (folds the carried log into
      // index-v3 AND writes the grown model into it),
      // vacuum at retain 0 (reclaims both retired generations) — live
      // set = ALL ∖ (% 9 = 2).
      val emb = T(s, dir, "embeddings")
      val tmp = graft.TempDirs.create("graft_q123_")
      val lower = element_at(col("embedding"), 1) < 0f
      val idx = graft.operators.Layout(s"$tmp/idx", graft.operators.CondPutCommit)
      val (model, index0) = RabitqIndex.build(s,
        emb.filter(lower), NumClusters, Seed)
      RabitqIndex.save(s, model, index0, idx)
      def appendHoldout(): Unit = {
        graft.streaming.IdempotentSink.appendBatch(
          RabitqIndex.appendVectors(s, model, emb.filter(!lower)),
          RabitqIndex.indexDataDir(idx), idx, "q123", 0L,
          partitionCols = Seq("cluster_id"))
        ()
      }
      appendHoldout()
      appendHoldout() // replay: the conditional-PUT marker must no-op it
      graft.streaming.IdempotentSink.appendBatch(
        emb.filter(col("vec_id") % 9 === 2).select("vec_id"),
        RabitqIndex.tombstoneLogDir(idx), idx, "q123-del", 1L)
      val rep = RabitqIndex.rebalanceIndex(s, idx, emb)
      require(rep.numClustersAfter > rep.numClustersBefore,
        "gate is vacuous: the skewed layout did not split")
      require(RabitqIndex.indexDataDir(idx) == s"$tmp/idx/index-v2",
        "gate is vacuous: the generation-versioned rebalance did not publish")
      graft.streaming.VecsStream.compactIndex(s, idx)
      require(RabitqIndex.indexDataDir(idx) == s"$tmp/idx/index-v3",
        "gate is vacuous: the conditional-PUT MANIFEST publish did not swap")
      RabitqIndex.vacuumIndex(idx, retainMs = 0L)
      require(!new java.io.File(s"$tmp/idx/index").exists &&
          !new java.io.File(s"$tmp/idx/index-v2").exists,
        "vacuum under CondPutCommit failed to reclaim the retired generations")
      val (m2, live) = RabitqIndex.loadLive(s, idx)
      require(m2.params.numClusters > NumClusters,
        "load() did not resolve the generation's (grown) model file")
      val baseFinal = emb.filter(col("vec_id") % 9 =!= 2)
      RabitqQuery.topK(s, m2, live, baseFinal, annQueries(s, dir),
        nprobe = m2.params.numClusters, topk = 10, rerank = fullRerank(s, dir))
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q124_generation_manifest" -> ((s, dir) => {
      // FILE-REFERENCE GENERATION MANIFEST, driver-gated: the
      // rebalance carries every untouched cluster BY
      // REFERENCE — the published generation's `_CARRY` listing names
      // the immutable source files in place (the Iceberg-manifest
      // shape; IO ∝ skew) instead of per-file copy (∝ corpus, the
      // ≤ r18 shape) — and vacuum REFCOUNTS listed files across
      // retained generations instead of retiring whole directories.
      // Construction: q116's skew recipe (model fit on the lower
      // halfspace, everything appended through the frozen model);
      // rebalance publishes index-v2 whose untouched
      // clusters are listing lines. require()s: a real split; a
      // non-empty listing with ZERO listed files physically copied
      // into the new generation; a retain-0 vacuum that reclaims the
      // retired generation's unreferenced files while every listed
      // file survives (file-level refcount). Gate: full probe + full
      // rerank THROUGH the listing-resolved generation (own ∪ carried
      // branches, partition pruning intact) ≡ brute-force kNN — a
      // dropped carry line, a torn union, a double-listed file, or a
      // vacuum that reclaimed a referenced file all flip the row set.
      val emb = T(s, dir, "embeddings")
      val tmp = graft.TempDirs.create("graft_q124_")
      val (model, index0) = RabitqIndex.build(s,
        emb.filter(element_at(col("embedding"), 1) < 0f), NumClusters, Seed)
      RabitqIndex.save(s, model, index0, s"$tmp/idx")
      RabitqIndex.appendVectors(s, model,
          emb.filter(element_at(col("embedding"), 1) >= 0f))
        .write.mode("append").partitionBy("cluster_id").parquet(s"$tmp/idx/index")
      val report = RabitqIndex.rebalanceIndex(s, s"$tmp/idx", emb,
        maxSizeFactor = 1.4)
      require(report.split.nonEmpty,
        s"manifest gate is vacuous: no cluster split ($report)")
      val carry = RabitqIndex.readCarry(s"$tmp/idx", "index-v2")
      require(carry.nonEmpty,
        "manifest gate is vacuous: nothing was carried by reference")
      val carryNames = carry.map(_.split('/').last).toSet
      val copied = Option(new java.io.File(s"$tmp/idx/index-v2").listFiles())
        .getOrElse(Array.empty[java.io.File]).filter(_.isDirectory)
        .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty[java.io.File]))
        .count(f => carryNames.contains(f.getName))
      require(copied == 0,
        s"$copied carried files were physically copied — the carry " +
          "must be metadata-only")
      RabitqIndex.vacuumIndex(s"$tmp/idx", retainMs = 0L)
      carry.foreach(e => require(new java.io.File(s"$tmp/idx/$e").isFile,
        s"refcounted vacuum reclaimed a file the active listing " +
          s"references: $e"))
      val (m2, live) = RabitqIndex.loadLive(s, s"$tmp/idx")
      RabitqQuery.topK(s, m2, live, emb, annQueries(s, dir),
        nprobe = m2.params.numClusters, topk = 10, rerank = fullRerank(s, dir))
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q120_maintenance_loop" -> ((s, dir) => {
      // SELF-SCHEDULED MAINTENANCE (VecsStream.maintenanceLoop) — the
      // ops loop the q119 health report exists for, driven end-to-end:
      // construct a layout with BOTH tombstone debt and skew (bootstrap
      // on the lower halfspace, stream in the upper half as adds —
      // they pile into the boundary clusters — plus vec_id % 6 = 1
      // dels), then let the loop read describeIndex and act: debt ≥
      // threshold → compactIndex (versioned rewrite + atomic MANIFEST
      // swap), needs_rebalance → rebalanceIndex. require()s pin that
      // BOTH actions actually fired, that the re-described layout has
      // zero debt (physically folded, not masked), and that the max
      // cluster shrank. Then the q115-shape oracle: full probe + full
      // rerank over the post-loop layout ≡ brute force over
      // vec_id % 6 ≠ 1 — a row lost by compaction, a resurrected
      // delete, or a bad rebalance re-encode all flip the row set.
      val emb = T(s, dir, "embeddings")
      val tmp = graft.TempDirs.create("graft_q120_")
      val lower = element_at(col("embedding"), 1) < 0f
      val (model, index0) = RabitqIndex.build(s, emb.filter(lower),
        NumClusters, Seed)
      // ops-file write ∥ save (guide §2.6, the q117 pattern): started
      // after build() so nothing rides on the k-means fit; the stream
      // starts only after both complete — file set and layout identical
      // to the sequential order
      Overlap(s,
        emb.filter(!lower)
          .select(lit("add").as("op"), col("vec_id"), col("embedding"))
          .unionByName(emb.filter(col("vec_id") % 6 === 1)
            .select(lit("del").as("op"), col("vec_id"),
              lit(null).cast("array<float>").as("embedding")))
          .repartition(2).write.parquet(s"$tmp/in"),
        RabitqIndex.save(s, model, index0, s"$tmp/idx"))
      graft.streaming.VecsStream.maintainIndex(s, s"$tmp/in", s"$tmp/idx",
        s"$tmp/ckpt", model,
        s"maint_loop_${streamCounter.incrementAndGet()}",
        maxFilesPerTrigger = Some(1))
      val before = RabitqIndex.describeIndex(s, s"$tmp/idx",
        maxSizeFactor = 1.4).head()
      require(before.getAs[Double]("tombstone_debt") >= 0.1 &&
        before.getAs[Boolean]("needs_rebalance"),
        s"loop gate is vacuous: construction created no debt/skew ($before)")
      val report = graft.streaming.VecsStream.maintenanceLoop(s, s"$tmp/idx",
        emb, debtThreshold = 0.1, maxSizeFactor = 1.4)
      require(report.compacted, s"loop did not compact ($report)")
      require(report.rebalanced.exists(_.split.nonEmpty),
        s"loop did not rebalance ($report)")
      val after = RabitqIndex.describeIndex(s, s"$tmp/idx",
        maxSizeFactor = 1.4).head()
      require(after.getAs[Long]("n_tombstones") == 0L &&
        after.getAs[Double]("tombstone_debt") == 0.0 &&
        after.getAs[Long]("n_rows") == after.getAs[Long]("n_live"),
        s"debt survived the loop ($after)")
      require(after.getAs[Long]("max_cluster_size") <
        before.getAs[Long]("max_cluster_size"),
        s"rebalance did not shrink the max cluster ($before → $after)")
      val (m2, live) = RabitqIndex.loadLive(s, s"$tmp/idx")
      val baseFinal = emb.filter(col("vec_id") % 6 =!= 1)
      RabitqQuery.topK(s, m2, live, baseFinal, annQueries(s, dir),
        nprobe = m2.params.numClusters, topk = 10, rerank = fullRerank(s, dir))
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q109_dsir_resample" -> ((s, dir) => {
      // DSIR importance resampling (Xie et al. 2023): weight every
      // non-English doc by how target-like (lang='en') its hashed-ngram
      // bag is — per-bucket add-one-smoothed log-likelihood ratios,
      // SCALED TO INTEGERS (round(1e6·ln r)) so doc sums are
      // engine-exact — and keep the top 100 (weight desc, doc_id asc).
      // Fit = one B-bucket map-combined aggregation; scoring = zero
      // shuffles (llr table rides in the plan); top-m = bounded
      // per-partition heaps, never a global sort.
      Quality.dsirResample(s, T(s, dir, "documents"),
        col("lang") === "en", m = 100)
    }),
    "q96_char_entropy" -> ((s, dir) => {
      // codepoint-entropy quality signal (graft.functions.CharEntropy —
      // native codegen expression, one byte pass per row): the classic
      // gibberish/boilerplate detector. Rounded to 4 decimals on both
      // sides (the q76 float-discipline pattern) since log2 arithmetic
      // can differ in the last ulp across libm implementations
      T(s, dir, "documents")
        .filter(length(col("text")) > 0)
        .select(col("doc_id"),
          round(graft.functions.TextExpressions.charEntropy(col("text")), 4)
            .as("entropy"))
        .orderBy(col("doc_id"))
    }),
  )

  // ---- generated oracles for the portable-hash signature pipelines ------

  /** DuckDB replay of `Curation.rowHash` — same affine literals, same
    * overflow-guarding `% P` placement. Single source for every oracle
    * that samples/shards/orders by the row hash, so the arithmetic can't
    * drift per query.
    */
  private def rowHashSql(family: Int, idCol: String): String = {
    val (a, b) = Dedup.affine(family)
    s"(($a * ($idCol % ${Dedup.P}) + $b) % ${Dedup.P})"
  }

  /** DuckDB replay of the `SampleRates`/`SampleDefault` threshold CASE in
    * `Curation.stratifiedSample`.
    */
  private def sampleThresholdSql(langCol: String): String = {
    val cases = SampleRates.map { case (k, r) =>
      s"WHEN '$k' THEN ${math.floor(r * Dedup.P).toLong}"
    }.mkString(" ")
    s"(CASE $langCol $cases ELSE ${math.floor(SampleDefault * Dedup.P).toLong} END)"
  }

  /** DuckDB replay of the `MixWeights` lookup in `TrainingPrep.domainMix`:
    * weights as explicit DOUBLE casts (DuckDB parses bare decimal literals
    * as DECIMAL, whose exact arithmetic would diverge from Spark's f64),
    * NULL for unlisted domains so the WHERE drops them like the inner
    * join does.
    */
  private def mixWeightSql(langCol: String): String = {
    val cases = MixWeights.toSeq.sortBy(_._1).map { case (k, w) =>
      s"WHEN '$k' THEN CAST($w AS DOUBLE)"
    }.mkString(" ")
    s"(CASE $langCol $cases ELSE NULL END)"
  }

  /** DuckDB replay of `Dedup.minhashPairs` (n=3, t=0.5, 8 hashes in
    * 4 bands × 2 rows): same polynomial shingle hash, same affine
    * minhash families (literals embedded from `Dedup.affine`), same
    * band join + exact-Jaccard verification.
    */
  // incremental semantic dedup replayed in SQL — shared by q104 (batch)
  // and q105 (streaming twin; its per-row decision is stateless, so the
  // emitted rows are batching-independent and equal the batch operator):
  // q101's argmin CTEs over ALL vectors, then incoming (vec_id % 3 ≠ 0)
  // survives iff no same-cluster history member is cosine-≥-0.4 near it
  // the q101/q104 argmin-assignment CTEs (deterministic-sample centroids,
  // list_distance argmin with cid tie) as a reusable fragment
  private val semanticAssignCtes: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT vec_id AS cid, v AS ce FROM e WHERE vec_id % 62 = 0 ORDER BY vec_id LIMIT 8),
      |ar AS (SELECT e.vec_id, c.cid,
      |         row_number() OVER (PARTITION BY e.vec_id
      |                            ORDER BY list_distance(e.v, c.ce), c.cid) AS rk
      |       FROM e CROSS JOIN c),
      |a AS (SELECT vec_id, cid AS cluster FROM ar WHERE rk = 1)""".stripMargin

  // incoming vectors with a cosine-near same-cluster HISTORY member —
  // the semantic drop set, shared by q104/q105's survivors oracle and
  // the q107 capstone conjunction
  private val semanticMatchedCte: String =
    """sem_matched AS (SELECT i.vec_id FROM a i
      |  WHERE i.vec_id % 3 <> 0 AND EXISTS (
      |    SELECT 1 FROM a h
      |    JOIN e he ON he.vec_id = h.vec_id
      |    JOIN e ie ON ie.vec_id = i.vec_id
      |    WHERE h.vec_id % 3 = 0 AND h.cluster = i.cluster
      |      AND list_dot_product(ie.v, he.v) /
      |          (sqrt(list_dot_product(ie.v, ie.v)) * sqrt(list_dot_product(he.v, he.v))) >= 0.4))""".stripMargin

  private val incrementalSemanticSql: String =
    "WITH " + semanticAssignCtes + ",\n" + semanticMatchedCte + "\n" +
      """SELECT i.vec_id, i.cluster FROM a i
        |WHERE i.vec_id % 3 <> 0
        |  AND i.vec_id NOT IN (SELECT vec_id FROM sem_matched)
        |ORDER BY i.vec_id""".stripMargin

  // filtered brute-force kNN at label = 7 — shared by q100 (in-memory
  // auto-widened) and q103 (disk + known-selectivity): both saturate to
  // full probe at fixture scale, so both must produce exactly these rows
  private val filteredKnnLabel7Sql: String =
    """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 10),
      |b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS be FROM embeddings WHERE label = 7),
      |d AS (SELECT q.query_id, b.vec_id AS neighbor_id,
      |        row_number() OVER (PARTITION BY q.query_id ORDER BY list_distance(q.qe, b.be), b.vec_id) AS rank
      |      FROM q CROSS JOIN b)
      |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM d WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** Shared CTE prefix replaying the minhash signature machinery in
    * DuckDB — wide-shingle sets (`sh`), 8 permutation minima (`m`),
    * 4×2 band keys (`bands`), set sizes (`sizes`) — used by both the
    * within-corpus pair oracle (q20) and the cross-set incremental
    * oracle (q106). Per-family min over the recombined permuted
    * components — hi/lo extracted by div/mod 2^31, exactly
    * minhashPairs' shift/mask.
    */
  private def minhashCtePrefix: String = {
    val P = Dedup.P
    val Hi = 1L << 31
    val mins = (0 until 8).map { j =>
      val (a1, b1) = Dedup.affine(j); val (a2, b2) = Dedup.affine(j + 8)
      s"MIN((($a1*(s//$Hi)+$b1) % $P) * $Hi + (($a2*(s%$Hi)+$b2) % $P)) AS m$j"
    }.mkString(", ")
    // 4 bands × 2 rows, matching minhashPairs' default banding: a
    // candidate must agree on BOTH minhashes of some band
    val bandSel = (0 until 4).map(j =>
      s"SELECT doc_id, $j AS j, m${2 * j} AS mh1, m${2 * j + 1} AS mh2 FROM m")
      .mkString(" UNION ALL ")
    raw"""WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
         |th AS (SELECT doc_id, list_transform(t, tok -> list_reduce(list_prepend(CAST(0 AS BIGINT),
         |         list_transform(range(1, length(tok) + 1),
         |           i -> CAST(ascii(substring(tok, CAST(i AS INT), 1)) AS BIGINT))),
         |         (a, c) -> (a * 131 + c) % $P)) AS th
         |       FROM toks WHERE len(t) >= 3),
         |sh AS (SELECT DISTINCT doc_id,
         |         ((th[CAST(i + 1 AS INT)] * 131 + th[CAST(i + 2 AS INT)]) % $P * 131
         |           + th[CAST(i + 3 AS INT)]) % $P * $Hi
         |         + (((th[CAST(i + 1 AS INT)] * th[CAST(i + 1 AS INT)]) % $P * 137
         |             + (th[CAST(i + 2 AS INT)] * th[CAST(i + 2 AS INT)]) % $P) % $P * 137
         |           + (th[CAST(i + 3 AS INT)] * th[CAST(i + 3 AS INT)]) % $P) % $P AS s
         |       FROM th, LATERAL unnest(range(len(th) - 2)) AS r(i)),
         |m AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
         |bands AS ($bandSel),
         |sizes AS (SELECT doc_id, COUNT(*) AS ns FROM sh GROUP BY doc_id)""".stripMargin
  }

  private def minhashOracle: String =
    minhashCtePrefix +
      """,
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM bands a JOIN bands b
        |           ON a.j = b.j AND a.mh1 = b.mh1 AND a.mh2 = b.mh2
        |         WHERE a.doc_id < b.doc_id),
        |inter AS (SELECT doc_a, doc_b, COUNT(*) AS nc FROM cand
        |          JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b AND y.s = x.s
        |          GROUP BY 1, 2)
        |SELECT doc_a, doc_b FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(nc AS DOUBLE) / (sa.ns + sb.ns - nc) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin

  // incoming docs with a band-matched, Jaccard-verified HISTORY partner —
  // the minhash drop set, shared by q106 and the q107 capstone
  private val minhashMatchedCtes: String =
    """cand AS (SELECT DISTINCT a.doc_id AS inc_id, b.doc_id AS hist_id
      |         FROM bands a JOIN bands b
      |           ON a.j = b.j AND a.mh1 = b.mh1 AND a.mh2 = b.mh2
      |         WHERE a.doc_id % 3 <> 0 AND b.doc_id % 3 = 0),
      |inter AS (SELECT inc_id, hist_id, COUNT(*) AS nc FROM cand
      |          JOIN sh x ON x.doc_id = inc_id JOIN sh y ON y.doc_id = hist_id AND y.s = x.s
      |          GROUP BY 1, 2),
      |mh_matched AS (SELECT DISTINCT inc_id FROM inter
      |            JOIN sizes sa ON sa.doc_id = inc_id
      |            JOIN sizes sb ON sb.doc_id = hist_id
      |            WHERE CAST(nc AS DOUBLE) / (sa.ns + sb.ns - nc) >= 0.5)""".stripMargin

  /** Cross-set variant for q106: incoming (doc_id % 3 ≠ 0) survives iff
    * no history (doc_id % 3 = 0) doc shares a band AND clears exact
    * Jaccard at 0.5 — band-unmatched and too-short-to-shingle incoming
    * docs trivially survive (NOT IN never sees them).
    */
  private def incrementalMinhashOracle: String =
    minhashCtePrefix + ",\n" + minhashMatchedCtes + "\n" +
      """SELECT d.doc_id, d.n_chars FROM documents d
        |WHERE d.doc_id % 3 <> 0
        |  AND d.doc_id NOT IN (SELECT inc_id FROM mh_matched)
        |ORDER BY d.doc_id""".stripMargin

  /** Shared CTE prefix replaying `Quality.featureBuckets` in DuckDB:
    * normalized tokens → per-token polyhash (base 131 mod P — the
    * minhash tier's arithmetic verbatim) → unigram + bigram buckets
    * mod B, multiplicity kept. Used by the q108 scorer and the q109
    * DSIR resampler.
    */
  private def qualityFeatureCtes: String = {
    val P = Dedup.P; val B = Quality.B
    raw"""WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
         |              FROM documents WHERE trim(lower(text)) <> ''),
         |th AS (SELECT doc_id, list_transform(t, tok -> list_reduce(list_prepend(CAST(0 AS BIGINT),
         |         list_transform(range(1, length(tok) + 1),
         |           i -> CAST(ascii(substring(tok, CAST(i AS INT), 1)) AS BIGINT))),
         |         (a, c) -> (a * 131 + c) % $P)) AS th
         |       FROM toks),
         |feat AS (SELECT doc_id, th[CAST(i + 1 AS INT)] % $B AS b
         |         FROM th, LATERAL unnest(range(len(th))) AS r(i)
         |         UNION ALL
         |         SELECT doc_id, ((th[CAST(i + 1 AS INT)] * 131 + th[CAST(i + 2 AS INT)]) % $P) % $B AS b
         |         FROM th, LATERAL unnest(range(len(th) - 1)) AS r(i))""".stripMargin
  }

  /** q108: deterministic-weight linear scorer — integer margins, one
    * sigmoid rounded to 6 (the q76/q96 float-discipline pattern).
    */
  private def qualityModelOracle: String =
    qualityFeatureCtes +
      """,
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feat,
        |               CAST(SUM((b * 2654435761) % 2001 - 1000) AS BIGINT) AS margin_sum
        |        FROM feat GROUP BY doc_id)
        |SELECT doc_id, n_feat, margin_sum,
        |       round(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) +
        |         exp(-(CAST(margin_sum AS DOUBLE) / CAST(n_feat AS DOUBLE)) / CAST(1000 AS DOUBLE))), 6) AS quality_prob
        |FROM agg ORDER BY doc_id""".stripMargin

  /** q109: DSIR — per-bucket integer-scaled smoothed LLR vs the
    * lang='en' target, doc weight = exact integer sum, top-100.
    */
  private def dsirOracle: String = {
    val B = Quality.B
    qualityFeatureCtes +
      s""",
         |lab AS (SELECT doc_id, lang FROM documents),
         |cnt AS (SELECT b, CAST(SUM(CASE WHEN lab.lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         |               CAST(SUM(CASE WHEN lab.lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS cr
         |        FROM feat JOIN lab ON lab.doc_id = feat.doc_id GROUP BY b),
         |tot AS (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) AS nt,
         |               CAST(COALESCE(SUM(cr), 0) AS BIGINT) AS nr FROM cnt),
         |llr AS (SELECT CAST(g.b0 AS BIGINT) AS b,
         |               CAST(round(CAST(1000000 AS DOUBLE) * ln(
         |                 (CAST(COALESCE(cnt.ct, 0) + 1 AS DOUBLE) / CAST(tot.nt + $B AS DOUBLE)) /
         |                 (CAST(COALESCE(cnt.cr, 0) + 1 AS DOUBLE) / CAST(tot.nr + $B AS DOUBLE)))) AS BIGINT) AS llr_scaled
         |        FROM range($B) AS g(b0) LEFT JOIN cnt ON cnt.b = g.b0 CROSS JOIN tot),
         |docw AS (SELECT f.doc_id, CAST(SUM(l.llr_scaled) AS BIGINT) AS dsir_weight
         |         FROM feat f JOIN llr l ON l.b = f.b
         |         JOIN lab ON lab.doc_id = f.doc_id
         |         WHERE lab.lang <> 'en' GROUP BY f.doc_id)
         |SELECT doc_id, dsir_weight FROM docw
         |ORDER BY dsir_weight DESC, doc_id LIMIT 100""".stripMargin
  }

  /** q107: the daily-ingest capstone — a new doc ships iff it survives
    * exact dedup AND minhash near-dup AND semantic near-dup vs the
    * standing corpus (doc_id ↔ vec_id is the fixtures' 1:1
    * correspondence, the q98 pattern). Each stage's drop decision
    * depends only on (doc, history), so the composition is a pure
    * conjunction and replay order is irrelevant.
    */
  private def ingestCapstoneOracle: String =
    minhashCtePrefix + ",\n" + semanticAssignCtes + ",\n" +
      minhashMatchedCtes + ",\n" + semanticMatchedCte + "\n" +
      """SELECT d.doc_id, d.n_chars FROM documents d
        |WHERE d.doc_id % 3 <> 0
        |  AND NOT EXISTS (SELECT 1 FROM documents h
        |                  WHERE h.doc_id % 3 = 0 AND h.text = d.text)
        |  AND d.doc_id NOT IN (SELECT inc_id FROM mh_matched)
        |  AND d.doc_id NOT IN (SELECT vec_id FROM sem_matched)
        |ORDER BY d.doc_id""".stripMargin

  /** q112: the streaming ingest capstone — q107's conjunction extended
    * with the q108 model-quality clause (kept iff integer margin_sum >
    * 0 ⇔ sigmoid > 0.5 — exact in both engines, no float threshold).
    * The quality CTEs are the q108 feature machinery under q-prefixed
    * names (its `toks`/`th` differ from the minhash prefix's: no
    * 3-token minimum, empty-text docs dropped — which is also why
    * empty docs vanish here: no features ⇒ no positive margin).
    */
  /** Shared CTE prefix for q112/q114: the q107 conjunction machinery
    * plus the q-prefixed quality CTEs (its `toks`/`th` differ from the
    * minhash prefix's: no 3-token minimum, empty-text docs dropped).
    */
  private def streamIngestCtes: String = {
    val P = Dedup.P; val B = Quality.B
    minhashCtePrefix + ",\n" + semanticAssignCtes + ",\n" +
      minhashMatchedCtes + ",\n" + semanticMatchedCte + ",\n" +
      raw"""qth AS (SELECT doc_id, list_transform(string_split_regex(trim(lower(text)), '\s+'),
           |         tok -> list_reduce(list_prepend(CAST(0 AS BIGINT),
           |           list_transform(range(1, length(tok) + 1),
           |             i -> CAST(ascii(substring(tok, CAST(i AS INT), 1)) AS BIGINT))),
           |           (a, c) -> (a * 131 + c) % $P)) AS th
           |       FROM documents WHERE trim(lower(text)) <> ''),
           |qfeat AS (SELECT doc_id, th[CAST(i + 1 AS INT)] % $B AS b
           |          FROM qth, LATERAL unnest(range(len(th))) AS r(i)
           |          UNION ALL
           |          SELECT doc_id, ((th[CAST(i + 1 AS INT)] * 131 + th[CAST(i + 2 AS INT)]) % $P) % $B AS b
           |          FROM qth, LATERAL unnest(range(len(th) - 1)) AS r(i)),
           |qpos AS (SELECT doc_id FROM qfeat GROUP BY doc_id
           |         HAVING SUM((b * 2654435761) % 2001 - 1000) > 0)""".stripMargin
  }

  private val streamIngestConjunction: String =
    """d.doc_id % 3 <> 0
      |  AND d.doc_id IN (SELECT doc_id FROM qpos)
      |  AND NOT EXISTS (SELECT 1 FROM documents h
      |                  WHERE h.doc_id % 3 = 0 AND h.text = d.text)
      |  AND d.doc_id NOT IN (SELECT inc_id FROM mh_matched)
      |  AND d.doc_id NOT IN (SELECT vec_id FROM sem_matched)""".stripMargin

  private def streamIngestOracle: String =
    streamIngestCtes + "\n" +
      s"""SELECT d.doc_id, d.n_chars FROM documents d
         |WHERE $streamIngestConjunction
         |ORDER BY d.doc_id""".stripMargin

  /** q114: curate→index in ONE stream — exact kNN over the FINAL
    * logical base (history ∪ curated survivors). The survivor set is
    * the q112 conjunction; the kNN tail is q23's brute force restricted
    * to that base.
    */
  private def streamIngestIndexOracle: String =
    streamIngestCtes + ",\n" +
      s"""surv AS (SELECT d.doc_id FROM documents d
         |  WHERE $streamIngestConjunction),
         |qq AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 10),
         |bb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS be FROM embeddings
         |       WHERE vec_id % 3 = 0 OR vec_id IN (SELECT doc_id FROM surv)),
         |dd AS (SELECT qq.query_id, bb.vec_id AS neighbor_id,
         |        row_number() OVER (PARTITION BY qq.query_id ORDER BY list_distance(qq.qe, bb.be), bb.vec_id) AS rank
         |      FROM qq CROSS JOIN bb)
         |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM dd
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** DuckDB replay of `Dedup.simhashPairs` (maxHamming=3): portable token
    * hash, 64 affine parity votes, two's-complement signature assembly
    * (bit 63 enters as min-long so BIGINT arithmetic never overflows),
    * 16-bit sub-band join, bit_count hamming.
    */
  private def simhashOracle: String = {
    val P = Dedup.P
    val votes = (0 until 64).map { i =>
      val (a, b) = Dedup.affine(i)
      s"SUM(CASE WHEN ((($a*h+$b) % $P) % 2) = 1 THEN 1 ELSE -1 END) AS v$i"
    }.mkString(", ")
    val bits = (0 until 64).reverse.map { i =>
      if (i == 63) "(CASE WHEN v63 > 0 THEN CAST(-9223372036854775808 AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
      else s"(CASE WHEN v$i > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    raw"""WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok FROM documents),
         |th AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
         |         range(1, length(tok) + 1),
         |         i -> CAST(ascii(substring(tok, CAST(i AS INT), 1)) AS BIGINT))),
         |         (a, c) -> (a * 131 + c) % $P) AS h FROM toks WHERE length(tok) > 0),
         |v AS (SELECT doc_id, $votes FROM th GROUP BY doc_id),
         |sg AS (SELECT doc_id, $bits AS sig FROM v),
         |banded AS (SELECT doc_id, sig, j, (sig >> (16 * CAST(j AS INT))) & 65535 AS bits
         |           FROM sg, LATERAL unnest([0, 1, 2, 3]) AS t(j)),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |                 bit_count(xor(a.sig, b.sig)) AS hamming
         |          FROM banded a JOIN banded b ON a.j = b.j AND a.bits = b.bits
         |          WHERE a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming FROM pairs
         |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin
  }

  /** DuckDB replay of `Dedup.hyperplaneLshPortable` (16 ±1 planes from
    * the shared affine families, left-fold double dots, 4×4-bit bands,
    * exact-cosine confirmation at 0.4 — q22's proven arithmetic).
    */
  private def lshOracle: String = {
    val P = Dedup.P
    val sigSum = (0 until 16).map { j =>
      val (a, b) = Dedup.affine(j)
      s"""CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list_transform(range(1, len(embedding) + 1),
         |    d -> (CASE WHEN (($a*d+$b) % $P) % 2 = 1 THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)
         |         * CAST(embedding[CAST(d AS INT)] AS DOUBLE))),
         |  (acc, x) -> acc + x) > 0 THEN ${1L << j} ELSE 0 END""".stripMargin
    }.mkString(" + ")
    raw"""WITH sg AS (SELECT vec_id, $sigSum AS sig FROM embeddings),
         |banded AS (SELECT vec_id, sig, j, (sig >> (4 * CAST(j AS INT))) & 15 AS bits
         |           FROM sg, LATERAL unnest([0, 1, 2, 3]) AS t(j)),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |         FROM banded a JOIN banded b ON a.j = b.j AND a.bits = b.bits
         |         WHERE a.vec_id < b.vec_id),
         |ed AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         |SELECT id_a, id_b FROM cand
         |JOIN ed a ON a.vec_id = id_a JOIN ed b ON b.vec_id = id_b
         |WHERE list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
         |ORDER BY id_a, id_b""".stripMargin
  }

  // ---- DuckDB oracle SQL (omitted only where structurally approximate:
  //      q24/q31 nprobe<k ANN, q27 stub features — those get the driver's
  //      rows-only check) ------------------------------------------------
  def oracleSql: Map[String, String] = {
    val revenue = "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,3)) * (CAST(1.0 AS DECIMAL(4,3)) - CAST(l_discount AS DECIMAL(18,3)))) AS DOUBLE)"
    val sessionizeSql =
      """WITH s AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s2 AS (
        |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq FROM s)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, COUNT(*) AS n_events,
        |  epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS span_us,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM s2 GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin
    val knnSql =
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 10),
        |b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS be FROM embeddings),
        |d AS (SELECT q.query_id, b.vec_id AS neighbor_id,
        |        row_number() OVER (PARTITION BY q.query_id ORDER BY list_distance(q.qe, b.be), b.vec_id) AS rank
        |      FROM q CROSS JOIN b)
        |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM d WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    Map(
      "q01_pricing_summary" ->
        s"""SELECT l_returnflag, l_linestatus,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,3))) AS DOUBLE) AS sum_qty,
           |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,3))) AS DOUBLE) AS sum_base_price,
           |  $revenue AS sum_disc_price,
           |  COUNT(*) AS count_order
           |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
           |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
      "q02_revenue_by_nation" ->
        s"""SELECT n_name, $revenue AS revenue, COUNT(DISTINCT o_orderkey) AS n_orders
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
           |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
      "q03_top_orders" ->
        s"""SELECT l_orderkey, $revenue AS revenue FROM lineitem
           |GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
      "q04_window_top_orders" ->
        """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn FROM (
          |  SELECT o_custkey, o_orderkey, o_totalprice,
          |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
          |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
      "q05_filter_project" ->
        """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity
          |FROM lineitem WHERE l_quantity > 45 AND l_shipdate >= TIMESTAMP '1997-01-01'
          |ORDER BY l_orderkey, l_linenumber""".stripMargin,
      "q06_distinct_segments" ->
        "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer ORDER BY c_mktsegment, c_nationkey",
      "q07_anti_join" ->
        """SELECT c_custkey FROM customer
          |WHERE NOT EXISTS (SELECT 1 FROM orders
          |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
          |ORDER BY c_custkey""".stripMargin,
      "q08_setops" ->
        """SELECT 'both' AS tag, nationkey FROM (
          |  (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
          |  INTERSECT (SELECT DISTINCT c_nationkey AS nationkey FROM customer))
          |UNION ALL
          |SELECT 'cust_only' AS tag, nationkey FROM (
          |  (SELECT DISTINCT c_nationkey AS nationkey FROM customer)
          |  EXCEPT (SELECT DISTINCT s_nationkey AS nationkey FROM supplier))
          |ORDER BY tag, nationkey""".stripMargin,
      "q09_scalar_fns" ->
        """SELECT p_partkey, upper(p_brand) AS brand_u, CAST(length(p_name) AS BIGINT) AS name_len,
          |  substring(p_type, 1, 5) AS type_pre,
          |  CAST(CAST(p_retailprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(2,1)) AS DOUBLE) AS price_adj
          |FROM part ORDER BY p_partkey""".stripMargin,
      "q10_event_hourly" ->
        """SELECT date_trunc('hour', ts) AS hour_ts, event_type, COUNT(*) AS n,
          |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "q11_sessionize" -> sessionizeSql,
      // q90: the hot-user-safe bucketed sessionizer must be EXACTLY the
      // single-window sessionization — same oracle, bucket size chosen so
      // the fixture genuinely spans many buckets (stitch active)
      "q90_sessionize_bucketed" -> sessionizeSql,
      "q12_knn_l2" -> knnSql,
      "q23_ann_fullprobe" -> knnSql,
      "q37_knn_custom_topk" -> knnSql,
      // q92: ball pruning is EXACT — same oracle as brute force
      "q92_ann_earlystop" -> knnSql,
      // q93: the fastscan LUT estimator is bit-identical to the plane
      // estimator, so full probe stays exact — same oracle as q23
      "q93_ann_fastscan" -> knnSql,
      // q94: the bloom path must equal the plain text anti-join exactly —
      // the sketch only prunes, the verification join restores exactness
      "q94_incremental_dedup" ->
        """SELECT d.doc_id, d.n_chars FROM documents d
          |WHERE d.doc_id % 3 <> 0
          |  AND NOT EXISTS (SELECT 1 FROM documents h
          |                  WHERE h.doc_id % 3 = 0 AND h.text = d.text)
          |ORDER BY d.doc_id""".stripMargin,
      // q95: streamed-vs-batch incremental-dedup set equality + the
      // exactly-once emission count invariant (constant oracle)
      "q95_stream_incremental" ->
        ("SELECT CAST(1 AS BIGINT) AS set_ok, CAST(1 AS BIGINT) AS nonempty_ok, " +
          "CAST(1 AS BIGINT) AS once_ok"),
      // q97: filtered search is exact at full probe — the filtered-base
      // kNN oracle (queries stay unfiltered; the corpus is filtered)
      "q97_ann_filtered" ->
        """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 10),
          |b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS be FROM embeddings WHERE label % 4 = 1),
          |d AS (SELECT q.query_id, b.vec_id AS neighbor_id,
          |        row_number() OVER (PARTITION BY q.query_id ORDER BY list_distance(q.qe, b.be), b.vec_id) AS rank
          |      FROM q CROSS JOIN b)
          |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM d WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
      // q98: retrieval = exact kNN (full probe) + metadata join, replayed
      // verbatim in SQL
      "q98_rag_retrieve" ->
        """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 10),
          |b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS be FROM embeddings),
          |d AS (SELECT q.query_id, b.vec_id AS neighbor_id,
          |        row_number() OVER (PARTITION BY q.query_id ORDER BY list_distance(q.qe, b.be), b.vec_id) AS rank
          |      FROM q CROSS JOIN b)
          |SELECT d.query_id, CAST(d.rank AS BIGINT) AS rank, doc.doc_id, doc.lang, doc.n_chars
          |FROM d JOIN documents doc ON doc.doc_id = d.neighbor_id
          |WHERE d.rank <= 5 ORDER BY d.query_id, d.rank""".stripMargin,
      // q101: the full SemDeDup pipeline replayed — deterministic-sample
      // centroids, argmin assignment (list_distance, tie on cid), q22's
      // cosine formula within clusters, q57's recursive-CTE components,
      // min-id representative survives
      "q101_semantic_dedup" ->
        """WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |c AS (SELECT vec_id AS cid, v AS ce FROM e WHERE vec_id % 62 = 0 ORDER BY vec_id LIMIT 8),
          |ar AS (SELECT e.vec_id, c.cid,
          |         row_number() OVER (PARTITION BY e.vec_id
          |                            ORDER BY list_distance(e.v, c.ce), c.cid) AS rk
          |       FROM e CROSS JOIN c),
          |a AS (SELECT vec_id, cid AS cluster FROM ar WHERE rk = 1),
          |pr AS (SELECT x.vec_id AS doc_a, y.vec_id AS doc_b
          |       FROM a ax JOIN e x ON x.vec_id = ax.vec_id
          |       JOIN a ay ON ay.cluster = ax.cluster
          |       JOIN e y ON y.vec_id = ay.vec_id
          |       WHERE x.vec_id < y.vec_id
          |         AND list_dot_product(x.v, y.v) / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.4),
          |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr UNION ALL SELECT doc_b, doc_a FROM pr),
          |reach(node, comp) AS (
          |  SELECT src, src FROM edges
          |  UNION
          |  SELECT e2.src, r.comp FROM reach r JOIN edges e2 ON e2.dst = r.node WHERE r.comp < e2.src
          |),
          |comps AS (SELECT node, MIN(comp) AS component FROM reach GROUP BY node)
          |SELECT a.vec_id, a.cluster FROM a
          |LEFT JOIN comps ON comps.node = a.vec_id
          |WHERE comps.node IS NULL OR comps.component = a.vec_id
          |ORDER BY a.vec_id""".stripMargin,
      // q100: auto-widened filtered search saturates to full probe at
      // this selectivity ⇒ exactly filtered brute force (real-rows
      // oracle — filtered kNN at label = 7)
      "q100_ann_filtered_auto" -> filteredKnnLabel7Sql,
      // q103: the disk + known-selectivity composition widens to the same
      // full probe ⇒ the same filtered-brute-force rows (mem ≡ disk and
      // the plan-shape assertions live in the spec)
      "q103_ann_filtered_disk" -> filteredKnnLabel7Sql,
      // q102: hier-path invariants — branch=1 degenerate equality with
      // the flat (q101-oracled) pipeline + planted-copy recovery at
      // branch=√k (constant oracle, the q48/q99 pattern)
      "q102_semantic_hier_gate" ->
        ("SELECT CAST(1 AS BIGINT) AS branch1_eq_ok, " +
          "CAST(1 AS BIGINT) AS recovery_ok"),
      // q104: incremental semantic dedup replayed verbatim — argmin
      // assignment over ALL vectors (q101's CTEs), then incoming
      // survives iff no same-cluster history member is cosine-near
      "q104_incremental_semantic" -> incrementalSemanticSql,
      // q105: the streaming twin's per-row decision is stateless, so its
      // rows EXACTLY equal batch q104 — same oracle verbatim
      "q105_stream_semantic" -> incrementalSemanticSql,
      // q99: partial-probe filtered recall + mem≡disk path equality as
      // invariants (constant oracle — the q48 pattern)
      "q99_ann_filtered_recall" ->
        ("SELECT CAST(1 AS BIGINT) AS recall_ok_sel30, CAST(1 AS BIGINT) AS paths_ok_sel30, " +
          "CAST(1 AS BIGINT) AS recall_ok_sel10, CAST(1 AS BIGINT) AS paths_ok_sel10"),
      // q96: DuckDB's entropy() is log2 over the same per-character split
      // (codepoint-aware) — round(4) on both sides absorbs libm ulps
      "q96_char_entropy" ->
        """SELECT doc_id, round(entropy(c), 4) AS entropy
          |FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
          |      FROM documents WHERE length(text) > 0) t
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // q91: exact kNN over the post-mutation logical set (inserts are
      // the full table again; deletes are vec_id % 7 == 3)
      "q91_ann_mutation_gate" ->
        """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 10),
          |b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS be FROM embeddings WHERE vec_id % 7 <> 3),
          |d AS (SELECT q.query_id, b.vec_id AS neighbor_id,
          |        row_number() OVER (PARTITION BY q.query_id ORDER BY list_distance(q.qe, b.be), b.vec_id) AS rank
          |      FROM q CROSS JOIN b)
          |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM d WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
      "q20_minhash_pairs" -> minhashOracle,
      "q106_incremental_minhash" -> incrementalMinhashOracle,
      "q107_ingest_capstone" -> ingestCapstoneOracle,
      "q112_stream_ingest" -> streamIngestOracle,
      "q113_stream_index" -> knnSql,
      "q114_stream_ingest_index" -> streamIngestIndexOracle,
      // q115 reuses q91's oracle verbatim: the final logical set after
      // streamed adds + tombstoned deletes is exactly vec_id % 7 ≠ 3
      "q115_stream_index_maint" ->
        """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 10),
          |b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS be FROM embeddings WHERE vec_id % 7 <> 3),
          |d AS (SELECT q.query_id, b.vec_id AS neighbor_id,
          |        row_number() OVER (PARTITION BY q.query_id ORDER BY list_distance(q.qe, b.be), b.vec_id) AS rank
          |      FROM q CROSS JOIN b)
          |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM d WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
      // q116: rebalance is a pure layout op over the full vector set, so
      // the oracle is q23's exact kNN verbatim
      "q116_index_rebalance" -> knnSql,
      // q117: initial ∪ both phases' adds = ALL vectors, tombstones are
      // terminal and uncompacted, so the final logical set is simply
      // ALL ∖ (vec_id % 11 = 4) ∖ (vec_id % 13 = 6)
      "q117_index_lifecycle" ->
        """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 10),
          |b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS be FROM embeddings WHERE vec_id % 11 <> 4 AND vec_id % 13 <> 6),
          |d AS (SELECT q.query_id, b.vec_id AS neighbor_id,
          |        row_number() OVER (PARTITION BY q.query_id ORDER BY list_distance(q.qe, b.be), b.vec_id) AS rank
          |      FROM q CROSS JOIN b)
          |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM d WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
      // q118: rebalance is layout-pure and must preserve the riding label,
      // so filtered full-probe search from the rebalanced layout is q97's
      // filtered brute force verbatim
      "q118_rebalance_labeled" ->
        """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 10),
          |b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS be FROM embeddings WHERE label % 4 = 1),
          |d AS (SELECT q.query_id, b.vec_id AS neighbor_id,
          |        row_number() OVER (PARTITION BY q.query_id ORDER BY list_distance(q.qe, b.be), b.vec_id) AS rank
          |      FROM q CROSS JOIN b)
          |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM d WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
      // q119: the report's deterministic columns replay as plain counts
      // over the construction (full index + vec_id % 9 = 2 tombstones)
      "q119_index_stats" ->
        s"""SELECT CAST($NumClusters AS INT) AS num_clusters,
           |  (SELECT count(*) FROM embeddings) AS n_rows,
           |  (SELECT count(*) FROM embeddings WHERE vec_id % 9 <> 2) AS n_live,
           |  (SELECT count(*) FROM embeddings WHERE vec_id % 9 = 2) AS n_tombstones""".stripMargin,
      // q120: after the ops loop (compaction folds the % 6 = 1
      // tombstones, rebalance is layout-pure), the live set is exactly
      // ALL ∖ (vec_id % 6 = 1) — the q115 oracle shape
      "q120_maintenance_loop" ->
        """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 10),
          |b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS be FROM embeddings WHERE vec_id % 6 <> 1),
          |d AS (SELECT q.query_id, b.vec_id AS neighbor_id,
          |        row_number() OVER (PARTITION BY q.query_id ORDER BY list_distance(q.qe, b.be), b.vec_id) AS rank
          |      FROM q CROSS JOIN b)
          |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM d WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
      // q121: the unpublished generation is reclaimed and the original
      // layout serves the full vector set, so the oracle is q23's exact
      // kNN verbatim
      "q121_swap_recovery" -> knnSql,
      // q122: the mid-compaction batch lands whole in the new
      // generation and the folded tombstones stay folded, so the live
      // set is (built ∖ dels) ∪ appends — plain predicates
      "q122_append_vs_compact" ->
        """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 10),
          |b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS be FROM embeddings WHERE vec_id % 5 = 0 OR vec_id % 7 <> 3),
          |d AS (SELECT q.query_id, b.vec_id AS neighbor_id,
          |        row_number() OVER (PARTITION BY q.query_id ORDER BY list_distance(q.qe, b.be), b.vec_id) AS rank
          |      FROM q CROSS JOIN b)
          |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM d WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
      // q123: the conditional-PUT lifecycle is exactly-once end to end
      // (replayed batch no-ops, log folds once, generation swap is an
      // atomic PUT), so the live set is ALL ∖ (vec_id % 9 = 2)
      "q123_condput_lifecycle" ->
        """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 10),
          |b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS be FROM embeddings WHERE vec_id % 9 <> 2),
          |d AS (SELECT q.query_id, b.vec_id AS neighbor_id,
          |        row_number() OVER (PARTITION BY q.query_id ORDER BY list_distance(q.qe, b.be), b.vec_id) AS rank
          |      FROM q CROSS JOIN b)
          |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM d WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
      // q124: the carry is metadata-only and the rebalance is
      // layout-pure over the full vector set (no deletes in this gate),
      // so the oracle is q23's exact kNN verbatim — any torn or
      // double-resolved carry flips the row set
      "q124_generation_manifest" -> knnSql,
      "q108_quality_model" -> qualityModelOracle,
      "q109_dsir_resample" -> dsirOracle,
      // q110: word counts → char split → weighted adjacent pairs, the
      // trainer's own tie-break (DuckDB string_split(word, '') is
      // codepoint-aware like Spark substr)
      "q110_bpe_pair_stats" ->
        raw"""WITH w AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word FROM documents),
             |wc AS (SELECT word, COUNT(*) AS freq FROM w WHERE word <> '' GROUP BY word),
             |sy AS (SELECT freq, string_split(word, '') AS s FROM wc),
             |p AS (SELECT s[CAST(j + 1 AS INT)] AS pair_left, s[CAST(j + 2 AS INT)] AS pair_right, freq
             |      FROM sy, LATERAL unnest(range(len(s) - 1)) AS r(j))
             |SELECT pair_left, pair_right, CAST(SUM(freq) AS BIGINT) AS cnt
             |FROM p GROUP BY 1, 2 ORDER BY cnt DESC, pair_left, pair_right LIMIT 50""".stripMargin,
      // q111: invariant gate over the full iterative trainer (constant
      // oracle — the q24/q28 pattern)
      "q111_bpe_train" ->
        ("SELECT CAST(20 AS BIGINT) AS n_merges, CAST(1 AS BIGINT) AS first_matches, " +
          "CAST(1 AS BIGINT) AS deterministic, CAST(1 AS BIGINT) AS compression_exact"),
      "q21_simhash_pairs" -> simhashOracle,
      "q45_lsh_neardup" -> lshOracle,
      "q28_ann_recall" -> "SELECT CAST(1 AS BIGINT) AS recall_ok",
      // q24/q31: invariant gates over the approximate ANN paths (see the
      // query bodies) — constant oracles turn the invariants into hash
      // checks, the same pattern q28/q48 established
      "q24_ann_ivf" ->
        """SELECT CAST(1 AS BIGINT) AS recall_ok, CAST(1 AS BIGINT) AS dist_ok,
          |  CAST(1 AS BIGINT) AS order_ok""".stripMargin,
      "q31_ann_pruned" ->
        "SELECT CAST(1 AS BIGINT) AS recall_ok, CAST(1 AS BIGINT) AS order_ok",
      "q46_hll_distinct" ->
        "SELECT CAST(1 AS BIGINT) AS user_ok, CAST(1 AS BIGINT) AS event_ok",
      "q48_ann_paths_gate" ->
        "SELECT CAST(1 AS BIGINT) AS paths_consistent, CAST(1 AS BIGINT) AS recall_ok",
      "q69_heuristic_rerank" ->
        """SELECT CAST(1 AS BIGINT) AS recall_ok, CAST(1 AS BIGINT) AS dist_ok,
          |  CAST(1 AS BIGINT) AS pruned_ok""".stripMargin,
      // ×4 PCM decimation keeps codepoints 0, 4, 8, … — q64's sample
      // formula over every 4th character, at rate 8000/4
      "q71_wav_resample" ->
        """SELECT doc_id AS media_id,
          |  CAST(2000 AS BIGINT) AS sample_rate,
          |  CAST(1 AS BIGINT) AS n_channels,
          |  CAST(16 AS BIGINT) AS bits_per_sample,
          |  CAST(ceil(COALESCE(length(text), 0) / 4.0) AS BIGINT) AS n_samples,
          |  CAST(COALESCE(list_max(list_transform(
          |    range(0, CAST(ceil(COALESCE(length(text), 0) / 4.0) AS BIGINT)),
          |    j -> abs((ascii(substring(text, CAST(j * 4 + 1 AS INT), 1)) % 4096 - 2048) * 16))),
          |    0) AS BIGINT) AS peak,
          |  CAST((COALESCE(list_sum(list_transform(
          |    range(0, CAST(ceil(COALESCE(length(text), 0) / 4.0) AS BIGINT)),
          |    j -> (ascii(substring(text, CAST(j * 4 + 1 AS INT), 1)) % 4096 - 2048) * 16)), 0)
          |    % 1000000007 + 1000000007) % 1000000007 AS BIGINT) AS checksum
          |FROM documents ORDER BY media_id""".stripMargin,
      // nearest-neighbor ×3 downsample of the 1×len(text) synthetic BMP
      // keeps codepoints 0, 3, 6, … — replayed from the text with the
      // same per-pixel channel formula as q65/q67
      "q70_bmp_resize" ->
        """WITH px AS (
          |  SELECT doc_id AS media_id, text,
          |    CAST(ceil(COALESCE(length(text), 0) / 3.0) AS BIGINT) AS rw
          |  FROM documents),
          |sel AS (
          |  SELECT media_id,
          |    ascii(substring(text, CAST(j * 3 + 1 AS INT), 1)) AS cp
          |  FROM px, LATERAL unnest(range(0, rw)) AS t(j)),
          |v AS (
          |  SELECT media_id, cp % 256 + cp * 7 % 256 + cp * 13 % 256 AS s FROM sel)
          |SELECT p.media_id, p.rw AS width,
          |  CAST(CASE WHEN p.rw > 0 THEN 1 ELSE 0 END AS BIGINT) AS height,
          |  CAST(24 AS BIGINT) AS bpp,
          |  p.rw * CAST(CASE WHEN p.rw > 0 THEN 1 ELSE 0 END AS BIGINT) AS n_pixels,
          |  CAST(COALESCE(MAX(v.s), 0) AS BIGINT) AS peak,
          |  CAST(COALESCE(SUM(v.s), 0) % 1000000007 AS BIGINT) AS checksum
          |FROM px p LEFT JOIN v USING (media_id)
          |GROUP BY p.media_id, p.rw
          |ORDER BY p.media_id""".stripMargin,
      "q51_window_fns" ->
        """SELECT o_orderkey, o_custkey,
          |  lag(o_totalprice, 1) OVER w AS prev_price,
          |  lead(o_totalprice, 1) OVER w AS next_price,
          |  CAST(ntile(4) OVER w AS INT) AS quartile,
          |  first_value(o_orderkey) OVER w AS first_order
          |FROM orders
          |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
          |ORDER BY o_orderkey""".stripMargin,
      "q52_cube" ->
        """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,3))) AS DOUBLE) AS sum_qty
          |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
      "q53_semi_join" ->
        """SELECT c_custkey, c_mktsegment FROM customer
          |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0)
          |ORDER BY c_custkey""".stripMargin,
      "q54_pipeline" ->
        """WITH survivors AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
          |kept AS (SELECT d.doc_id, d.text FROM documents d
          |         WHERE d.doc_id IN (SELECT doc_id FROM survivors)),
          |q AS (SELECT doc_id,
          |        CASE WHEN length(trim(text)) = 0 THEN 0
          |             ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) END AS n_tokens,
          |        CASE WHEN length(text) = 0 THEN 0.0
          |             ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) END AS alpha_ratio,
          |        CASE WHEN greatest(
          |               len(regexp_extract_all(text, '\b(the|and|of|is|to|with)\b')),
          |               len(regexp_extract_all(text, '\b(el|la|de|que|los|una)\b')),
          |               len(regexp_extract_all(text, '\b(der|die|das|und|ist|nicht)\b')),
          |               len(regexp_extract_all(text, '\b(le|la|les|des|est|une)\b'))) = 0 THEN 'unknown'
          |             WHEN len(regexp_extract_all(text, '\b(the|and|of|is|to|with)\b')) = greatest(
          |               len(regexp_extract_all(text, '\b(the|and|of|is|to|with)\b')),
          |               len(regexp_extract_all(text, '\b(el|la|de|que|los|una)\b')),
          |               len(regexp_extract_all(text, '\b(der|die|das|und|ist|nicht)\b')),
          |               len(regexp_extract_all(text, '\b(le|la|les|des|est|une)\b'))) THEN 'en'
          |             ELSE 'other' END AS lang
          |      FROM kept)
          |SELECT COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
          |  MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens
          |FROM q WHERE n_tokens >= 20 AND round(alpha_ratio, 4) >= 0.5 AND lang = 'en'""".stripMargin,
      "q49_stream_dedup" ->
        "SELECT DISTINCT md5(text) AS fp FROM documents ORDER BY fp",
      "q50_vocab_topk" ->
        raw"""WITH w AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok FROM documents)
             |SELECT tok, COUNT(*) AS n_occurrences, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
             |FROM w WHERE length(tok) > 0
             |GROUP BY tok ORDER BY n_occurrences DESC, tok LIMIT 100""".stripMargin,
      "q47_quantile_sketch" ->
        "SELECT CAST(1 AS BIGINT) AS p50_ok, CAST(1 AS BIGINT) AS p90_ok, CAST(1 AS BIGINT) AS p99_ok",
      "q44_repetition" ->
        raw"""WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
             |w AS (SELECT doc_id, unnest(t) AS tok FROM toks),
             |wc AS (SELECT doc_id, tok, COUNT(*) AS n FROM w GROUP BY 1, 2),
             |ws AS (SELECT doc_id, MAX(n) AS mx, CAST(SUM(n) AS BIGINT) AS tot FROM wc GROUP BY doc_id),
             |bgr AS (SELECT doc_id, t[CAST(i + 1 AS INT)] || ' ' || t[CAST(i + 2 AS INT)] AS bgram
             |        FROM toks, LATERAL unnest(range(len(t) - 1)) AS r(i) WHERE len(t) >= 2),
             |bc AS (SELECT doc_id, bgram, COUNT(*) AS n FROM bgr GROUP BY 1, 2),
             |bs AS (SELECT doc_id, MAX(n) AS mxb, CAST(SUM(n) AS BIGINT) AS totb FROM bc GROUP BY doc_id)
             |SELECT ws.doc_id, tot AS n_tokens,
             |  CAST(mx AS DOUBLE) / tot AS top_word_frac,
             |  coalesce(CAST(mxb AS DOUBLE) / totb, 0.0) AS top_bigram_frac
             |FROM ws LEFT JOIN bs ON ws.doc_id = bs.doc_id
             |ORDER BY ws.doc_id""".stripMargin,
      "q41_range_join" ->
        """WITH bands(band, lo, hi) AS (VALUES ('low', 0.0, 10.0), ('mid', 10.0, 100.0), ('high', 100.0, 1e9))
          |SELECT band, COUNT(*) AS n,
          |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
          |FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
          |GROUP BY band ORDER BY band""".stripMargin,
      "q42_null_fns" ->
        """SELECT o_orderkey,
          |  nullif(o_orderpriority, '1-URGENT') AS prio_or_null,
          |  coalesce(nullif(o_orderpriority, '1-URGENT'), 'URGENT!') AS prio_filled,
          |  nullif(o_orderpriority, '1-URGENT') IS NOT DISTINCT FROM NULL AS is_urgent
          |FROM orders ORDER BY o_orderkey""".stripMargin,
      "q40_asof_join" ->
        """SELECT e.event_id, e.user_id, o.o_orderkey
          |FROM events e JOIN orders o
          |  ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
          |QUALIFY row_number() OVER (PARTITION BY e.event_id
          |  ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) = 1
          |ORDER BY e.event_id""".stripMargin,
      "q38_media_frames" ->
        """SELECT doc_id AS media_id,
          |  CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE) / 256) AS BIGINT) AS n_frames,
          |  CAST(least(256, octet_length(encode(text))) AS BIGINT) AS max_frame_len,
          |  CAST(octet_length(encode(text)) - 256 * (CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE) / 256) AS BIGINT) - 1) AS BIGINT) AS last_frame_len
          |FROM documents WHERE octet_length(encode(text)) > 0
          |ORDER BY media_id""".stripMargin,
      "q39_salted_agg" ->
        """SELECT event_type,
          |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
          |  COUNT(*) AS n
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      "q35_scalar_subquery" ->
        """SELECT o_orderkey, o_totalprice FROM orders
          |WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,3))) AS DOUBLE) / COUNT(*) FROM orders)
          |ORDER BY o_orderkey""".stripMargin,
      "q36_pivot" ->
        """SELECT user_id,
          |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
          |  COUNT(*) FILTER (WHERE event_type = 'view') AS view,
          |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
          |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
          |  COUNT(*) FILTER (WHERE event_type = 'error') AS error
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
      "q33_rollup" ->
        """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,3))) AS DOUBLE) AS sum_qty
          |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
      "q34_array_fns" ->
        """SELECT vec_id, list_max(embedding) AS mx, list_min(embedding) AS mn,
          |  CAST(len(embedding) AS BIGINT) AS n_dims, embedding[1] AS first_dim,
          |  list_sum(CAST(embedding AS DOUBLE[])) AS ssum
          |FROM embeddings ORDER BY vec_id""".stripMargin,
      "q29_json_extract" ->
        """SELECT event_type, COUNT(*) AS n,
          |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
          |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      "q30_date_fns" ->
        """SELECT o_orderkey,
          |  CAST(year(o_orderdate) AS INT) AS y,
          |  CAST(month(o_orderdate) AS INT) AS m,
          |  CAST(day(o_orderdate) AS INT) AS d,
          |  CAST(quarter(o_orderdate) AS INT) AS q,
          |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS INT) AS days_to_98
          |FROM orders ORDER BY o_orderkey""".stripMargin,
      "q32_ann_cosine" ->
        """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 10),
          |b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS be FROM embeddings),
          |d AS (SELECT q.query_id, b.vec_id AS neighbor_id,
          |        row_number() OVER (PARTITION BY q.query_id
          |          ORDER BY list_dot_product(q.qe, b.be) / (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(b.be, b.be))) DESC,
          |          b.vec_id) AS rank
          |      FROM q CROSS JOIN b)
          |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM d WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
      "q13_knn_cosine" ->
        """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 10),
          |b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS be FROM embeddings),
          |d AS (SELECT q.query_id, b.vec_id AS neighbor_id,
          |        row_number() OVER (PARTITION BY q.query_id
          |          ORDER BY list_dot_product(q.qe, b.be) / (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(b.be, b.be))) DESC,
          |          b.vec_id) AS rank
          |      FROM q CROSS JOIN b)
          |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM d WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
      "q14_dedup_exact" ->
        """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies FROM documents
          |GROUP BY text ORDER BY doc_id""".stripMargin,
      "q15_jaccard_pairs" ->
        """WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
          |sh AS (SELECT DISTINCT doc_id, array_to_string(t[CAST(i + 1 AS INT):CAST(i + 3 AS INT)], ' ') AS shingle
          |       FROM toks, LATERAL unnest(range(len(t) - 2)) AS r(i) WHERE len(t) >= 3),
          |sizes AS (SELECT doc_id, COUNT(*) AS ns FROM sh GROUP BY doc_id),
          |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS nc
          |          FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
          |SELECT doc_a, doc_b, CAST(nc AS DOUBLE) / (sa.ns + sb.ns - nc) AS jaccard
          |FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
          |WHERE CAST(nc AS DOUBLE) / (sa.ns + sb.ns - nc) >= 0.5
          |ORDER BY doc_a, doc_b""".stripMargin,
      "q22_embedding_neardup" ->
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
          |SELECT a.vec_id AS id_a, b.vec_id AS id_b
          |FROM e a CROSS JOIN e b
          |WHERE a.vec_id < b.vec_id
          |  AND list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
          |ORDER BY id_a, id_b""".stripMargin,
      "q43_bpe_tokens" ->
        raw"""SELECT doc_id,
             |  CASE WHEN length(trim(text)) = 0 THEN 0
             |       ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) END AS n_ws,
             |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe
             |FROM documents ORDER BY doc_id""".stripMargin,
      "q16_token_count" ->
        """SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
          |  ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) END AS n_tokens
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q17_quality_score" ->
        """SELECT doc_id,
          |  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) END AS n_tokens,
          |  round(CAST(length(text) AS DOUBLE), 1) AS n_chars_d,
          |  round(CASE WHEN length(trim(text)) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / len(string_split_regex(trim(text), '\s+')) END, 4) AS avg_tok_len,
          |  round(CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) END, 4) AS alpha_ratio,
          |  round(CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text) END, 4) AS punct_ratio,
          |  round(CASE WHEN length(trim(text)) = 0 THEN 0.0 ELSE CAST(len(regexp_extract_all(text, '\b(the|a|of|and|to|in|is)\b')) AS DOUBLE) / len(string_split_regex(trim(text), '\s+')) END, 4) AS stop_ratio
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q18_langid" ->
        """SELECT doc_id,
          |  CASE WHEN mx = 0 THEN 'unknown' WHEN en = mx THEN 'en' WHEN es = mx THEN 'es'
          |       WHEN de = mx THEN 'de' ELSE 'fr' END AS lang_pred
          |FROM (SELECT doc_id,
          |    len(regexp_extract_all(text, '\b(the|and|of|is|to|with)\b')) AS en,
          |    len(regexp_extract_all(text, '\b(el|la|de|que|los|una)\b')) AS es,
          |    len(regexp_extract_all(text, '\b(der|die|das|und|ist|nicht)\b')) AS de,
          |    len(regexp_extract_all(text, '\b(le|la|les|des|est|une)\b')) AS fr,
          |    greatest(len(regexp_extract_all(text, '\b(the|and|of|is|to|with)\b')),
          |             len(regexp_extract_all(text, '\b(el|la|de|que|los|una)\b')),
          |             len(regexp_extract_all(text, '\b(der|die|das|und|ist|nicht)\b')),
          |             len(regexp_extract_all(text, '\b(le|la|les|des|est|une)\b'))) AS mx
          |  FROM documents)
          |ORDER BY doc_id""".stripMargin,
      "q19_fingerprint" ->
        """SELECT doc_id,
          |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
          |  list_reduce(
          |    list_prepend(CAST(0 AS BIGINT), list_transform(
          |      range(1, length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) + 1),
          |      i -> CAST(ascii(substring(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), CAST(i AS INT), 1)) AS BIGINT))),
          |    (a, c) -> (a * 131 + c) % 1000000007) AS rh
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q25_stream_window" ->
        """SELECT date_trunc('hour', ts) AS win_start, event_type, COUNT(*) AS n,
          |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "q26_media_stats" ->
        """SELECT doc_id AS media_id,
          |  CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'audio/wav' END AS media_type,
          |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
          |  md5(text) AS payload_md5
          |FROM documents ORDER BY media_id""".stripMargin,
      // expected WAV decode computed from the TEXT, not the bytes — the
      // independent side of the parse-vs-construct cross-check. Sample
      // formula mirrors Multimodal.wavBytes: (codepoint % 4096 − 2048)·16
      "q64_wav_decode" ->
        """SELECT doc_id AS media_id,
          |  CAST(8000 AS BIGINT) AS sample_rate,
          |  CAST(1 AS BIGINT) AS n_channels,
          |  CAST(16 AS BIGINT) AS bits_per_sample,
          |  CAST(COALESCE(length(text), 0) AS BIGINT) AS n_samples,
          |  CAST(COALESCE(list_max(list_transform(range(1, length(text) + 1),
          |    i -> abs((ascii(substring(text, CAST(i AS INT), 1)) % 4096 - 2048) * 16))), 0) AS BIGINT) AS peak,
          |  CAST((COALESCE(list_sum(list_transform(range(1, length(text) + 1),
          |    i -> (ascii(substring(text, CAST(i AS INT), 1)) % 4096 - 2048) * 16)), 0)
          |    % 1000000007 + 1000000007) % 1000000007 AS BIGINT) AS checksum
          |FROM documents ORDER BY media_id""".stripMargin,
      // expected WAV amplitude histogram computed from the TEXT (sample
      // formula mirrors Multimodal.wavBytes; bin width 32 = 65536/2048) —
      // the independent side of q27's parse-vs-construct feature check
      "q27_media_features" ->
        """WITH s AS (SELECT doc_id AS media_id,
          |    list_transform(range(1, length(text) + 1),
          |      i -> (ascii(substring(text, CAST(i AS INT), 1)) % 4096 - 2048) * 16) AS samples
          |  FROM documents)
          |SELECT media_id, CAST((sample + 32768) // 32 AS BIGINT) AS bin, COUNT(*) AS n
          |FROM s, LATERAL unnest(samples) AS u(sample)
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      // expected BMP decode from the TEXT: pixel channel-sum per codepoint
      // cp is (cp%256 + 7cp%256 + 13cp%256); height 0 for empty text
      "q65_bmp_decode" ->
        """SELECT doc_id AS media_id,
          |  CAST(COALESCE(length(text), 0) AS BIGINT) AS width,
          |  CAST(CASE WHEN COALESCE(length(text), 0) = 0 THEN 0 ELSE 1 END AS BIGINT) AS height,
          |  CAST(24 AS BIGINT) AS bpp,
          |  CAST(COALESCE(length(text), 0) AS BIGINT) AS n_pixels,
          |  CAST(COALESCE(list_max(list_transform(range(1, length(text) + 1),
          |    i -> (ascii(substring(text, CAST(i AS INT), 1)) % 256)
          |       + (ascii(substring(text, CAST(i AS INT), 1)) * 7 % 256)
          |       + (ascii(substring(text, CAST(i AS INT), 1)) * 13 % 256))), 0) AS BIGINT) AS peak,
          |  CAST(COALESCE(list_sum(list_transform(range(1, length(text) + 1),
          |    i -> (ascii(substring(text, CAST(i AS INT), 1)) % 256)
          |       + (ascii(substring(text, CAST(i AS INT), 1)) * 7 % 256)
          |       + (ascii(substring(text, CAST(i AS INT), 1)) * 13 % 256))), 0) % 1000000007 AS BIGINT) AS checksum
          |FROM documents ORDER BY media_id""".stripMargin,
      // expected BMP channel histogram from the TEXT (pixel formula
      // mirrors Multimodal.bmpBytes; channel 0/1/2 = b/g/r storage order,
      // bin width 16 = 256/16) — q67's independent parse-vs-construct side
      "q67_bmp_features" ->
        """WITH px AS (SELECT doc_id AS media_id,
          |    list_transform(range(1, length(text) + 1),
          |      i -> ascii(substring(text, CAST(i AS INT), 1))) AS cps
          |  FROM documents),
          |ch AS (
          |  SELECT media_id, 0 AS channel, cp % 256 AS v FROM px, LATERAL unnest(cps) AS u(cp)
          |  UNION ALL
          |  SELECT media_id, 1 AS channel, cp * 7 % 256 AS v FROM px, LATERAL unnest(cps) AS u(cp)
          |  UNION ALL
          |  SELECT media_id, 2 AS channel, cp * 13 % 256 AS v FROM px, LATERAL unnest(cps) AS u(cp))
          |SELECT media_id, CAST(channel AS BIGINT) AS channel,
          |  CAST(v // 16 AS BIGINT) AS bin, COUNT(*) AS n
          |FROM ch GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
      // fvecs position = rank of vec_id (writer orders by vec_id); the
      // roundtrip is bit-exact, so the parquet embedding IS the oracle:
      // replay the same left-fold f64 sums (list_reduce ≡ Spark
      // aggregate fold order, the q78 pattern; + 0.0 normalizes −0.0)
      "q68_fvecs_roundtrip" ->
        """SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS vec_id,
          |  CAST(len(embedding) AS BIGINT) AS dim,
          |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
          |      list_transform(embedding, x -> CAST(x AS DOUBLE))),
          |    (acc, x) -> acc + x) + CAST(0 AS DOUBLE) AS vec_sum,
          |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
          |      list_transform(range(1, len(embedding) + 1),
          |        d -> CAST(embedding[CAST(d AS INT)] AS DOUBLE) * CAST(d AS DOUBLE))),
          |    (acc, x) -> acc + x) + CAST(0 AS DOUBLE) AS vec_wsum,
          |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
          |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
          |    (acc, x) -> acc + x) + CAST(0 AS DOUBLE) AS vec_ss,
          |  CAST(label AS BIGINT) AS label
          |FROM embeddings ORDER BY vec_id""".stripMargin,
      "q55_stratified_sample" ->
        s"""SELECT doc_id, lang FROM documents
           |WHERE ${rowHashSql(0, "doc_id")} < ${sampleThresholdSql("lang")}
           |ORDER BY doc_id""".stripMargin,
      "q56_contamination" ->
        raw"""WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
             |sh AS (SELECT DISTINCT doc_id, array_to_string(t[CAST(i + 1 AS INT):CAST(i + 3 AS INT)], ' ') AS shingle
             |       FROM toks, LATERAL unnest(range(len(t) - 2)) AS r(i) WHERE len(t) >= 3),
             |b AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 50 = 0),
             |c AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 50 <> 0)
             |SELECT c.doc_id, b.bench_id, COUNT(*) AS n_overlap
             |FROM c JOIN b USING (shingle) GROUP BY 1, 2 HAVING COUNT(*) >= 2
             |ORDER BY doc_id, bench_id""".stripMargin,
      "q57_dedup_clusters" ->
        s"""WITH RECURSIVE pr AS (SELECT doc_a, doc_b FROM ($simhashOracle)),
           |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr UNION ALL SELECT doc_b, doc_a FROM pr),
           |reach(node, comp) AS (
           |  SELECT src, src FROM edges
           |  UNION
           |  SELECT e.src, r.comp FROM reach r JOIN edges e ON e.dst = r.node WHERE r.comp < e.src
           |)
           |SELECT node AS doc_id, MIN(comp) AS component FROM reach GROUP BY node
           |ORDER BY doc_id""".stripMargin,
      "q58_redaction_stats" -> {
        val counts = RedactPatterns.map { case (nm, re) =>
          s"CAST(len(regexp_extract_all(text, '$re')) AS BIGINT) AS n_$nm"
        }.mkString(",\n  ")
        val redacted = RedactPatterns.foldLeft("text") { case (acc, (_, re)) =>
          s"regexp_replace($acc, '$re', '[REDACTED]', 'g')"
        }
        s"""SELECT doc_id,
           |  $counts,
           |  md5($redacted) AS redacted_fp
           |FROM documents ORDER BY doc_id""".stripMargin
      },
      "q59_shard_stats" ->
        raw"""SELECT ${rowHashSql(1, "doc_id")} % 8 AS shard,
             |  COUNT(*) AS n_docs,
             |  CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
             |    ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS total_tokens,
             |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
             |FROM documents GROUP BY shard ORDER BY shard""".stripMargin,
      "q60_latest_by_key" ->
        """SELECT user_id, event_type, event_id AS last_event_id, value AS last_value
          |FROM (SELECT user_id, event_type, event_id, value,
          |        row_number() OVER (PARTITION BY user_id, event_type
          |                           ORDER BY ts DESC, event_id DESC) AS rn
          |      FROM events) WHERE rn = 1
          |ORDER BY user_id, event_type""".stripMargin,
      // the streaming as-of emits exactly the batch as-of result — q40's
      // oracle restricted to the driven key subset
      "q61_stream_asof" ->
        """SELECT e.event_id, e.user_id, o.o_orderkey
          |FROM events e JOIN orders o
          |  ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
          |WHERE e.user_id % 5 = 0
          |QUALIFY row_number() OVER (PARTITION BY e.event_id
          |  ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) = 1
          |ORDER BY e.event_id""".stripMargin,
      "q62_training_order" ->
        s"""SELECT doc_id, source, ${rowHashSql(2, "doc_id")} AS pos
           |FROM documents ORDER BY pos, doc_id LIMIT 200""".stripMargin,
      // q60's latest-by-key oracle restricted to the driven key subset
      "q66_stream_upsert" ->
        """SELECT user_id, event_type, event_id AS last_event_id, value AS last_value
          |FROM (SELECT user_id, event_type, event_id, value,
          |        row_number() OVER (PARTITION BY user_id, event_type
          |                           ORDER BY ts DESC, event_id DESC) AS rn
          |      FROM events WHERE user_id % 7 = 0) WHERE rn = 1
          |ORDER BY user_id, event_type""".stripMargin,
      "q63_curation_capstone" ->
        raw"""WITH surv AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
             |toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
             |sh AS (SELECT DISTINCT doc_id, array_to_string(t[CAST(i + 1 AS INT):CAST(i + 3 AS INT)], ' ') AS shingle
             |       FROM toks, LATERAL unnest(range(len(t) - 2)) AS r(i) WHERE len(t) >= 3),
             |cont AS (SELECT DISTINCT doc_id FROM (
             |  SELECT c.doc_id FROM sh c
             |  JOIN (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 50 = 0) b USING (shingle)
             |  WHERE c.doc_id % 50 <> 0
             |  GROUP BY c.doc_id, b.bench_id HAVING COUNT(*) >= 2)),
             |kept AS (SELECT d.doc_id, d.lang, d.text FROM documents d
             |  JOIN surv USING (doc_id)
             |  WHERE d.doc_id % 50 <> 0
             |    AND d.doc_id NOT IN (SELECT doc_id FROM cont)
             |    AND ${rowHashSql(0, "d.doc_id")} < ${sampleThresholdSql("d.lang")})
             |SELECT ${rowHashSql(1, "doc_id")} % 8 AS shard,
             |  COUNT(*) AS n_docs,
             |  CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
             |    ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS total_tokens,
             |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
             |FROM kept GROUP BY shard ORDER BY shard""".stripMargin,
      // q72: same affine shard hash, same token-count expression as q16,
      // same first-token pack rule (offset // budget via f64 floor — both
      // engines do float division then floor on exact-in-f64 integers)
      "q72_seq_pack" ->
        raw"""WITH d AS (SELECT doc_id, ${rowHashSql(3, "doc_id")} % 8 AS shard,
             |  CASE WHEN length(trim(text)) = 0 THEN 0
             |       ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) END AS n_tokens
             |  FROM documents),
             |c AS (SELECT shard, n_tokens,
             |  SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d)
             |SELECT shard, CAST(floor((cum - n_tokens) / 1024) AS BIGINT) AS pack_id,
             |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
             |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      // q73: substr is 1-based character addressing in both engines; the
      // chunk count ⌊(len−1)/150⌋+1 is replayed with integer division
      "q73_chunk_overlap" ->
        """WITH nz AS (SELECT doc_id, text FROM documents WHERE length(text) > 0),
          |ch AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
          |         substr(text, CAST(i * 150 + 1 AS INT), 200) AS chunk
          |       FROM nz, LATERAL unnest(range((length(text) - 1) // 150 + 1)) AS r(i))
          |SELECT doc_id, chunk_idx, CAST(length(chunk) AS BIGINT) AS chunk_len,
          |  md5(chunk) AS chunk_md5
          |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,
      // q74: identical f64 expression tree (widen f32 → abs-max → one
      // division → round-half-away-from-zero) so integer codes match
      // bit-for-bit; checksum/zero-count/range are exact comparisons
      "q74_embed_int8" ->
        """WITH ex AS (SELECT vec_id, CAST(i AS BIGINT) AS i,
          |    CAST(v[CAST(i + 1 AS INT)] AS DOUBLE) AS x
          |  FROM (SELECT vec_id, embedding AS v FROM embeddings) AS e,
          |    LATERAL unnest(range(len(v))) AS r(i)),
          |sc AS (SELECT vec_id, MAX(abs(x)) AS amax FROM ex GROUP BY 1),
          |co AS (SELECT ex.vec_id, ex.i,
          |    CASE WHEN sc.amax = 0 THEN 0
          |         ELSE CAST(round(ex.x / (sc.amax / CAST(127 AS DOUBLE))) AS BIGINT) END AS c
          |  FROM ex JOIN sc USING (vec_id))
          |SELECT vec_id, COUNT(*) AS n_dims,
          |  CAST(SUM(c * (i + 1)) AS BIGINT) AS checksum,
          |  CAST(SUM(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
          |  CAST(MAX(c) AS BIGINT) AS max_code, CAST(MIN(c) AS BIGINT) AS min_code
          |FROM co GROUP BY 1 ORDER BY 1""".stripMargin,
      // q75: rate_d = min(1, budget·w_d/n_d) replayed with the same f64
      // operation order; selection via affine family 4, like the Spark side
      "q75_domain_mix" ->
        s"""WITH cnt AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
           |th AS (SELECT lang, n,
           |    CAST(floor(LEAST(CAST(1.0 AS DOUBLE),
           |      CAST(${MixBudget} AS DOUBLE) * ${mixWeightSql("lang")} / n) * ${Dedup.P}) AS BIGINT) AS t
           |  FROM cnt WHERE ${mixWeightSql("lang")} IS NOT NULL),
           |sel AS (SELECT d.lang, d.doc_id,
           |    CASE WHEN ${rowHashSql(4, "d.doc_id")} < th.t THEN 1 ELSE 0 END AS s
           |  FROM documents d JOIN th USING (lang))
           |SELECT lang, COUNT(*) AS n_available, CAST(SUM(s) AS BIGINT) AS n_selected,
           |  CAST(SUM(s * doc_id) AS BIGINT) AS sel_sum
           |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin,
      // q76: tf·ln(N/df) with the same f64 operation order; the 4-decimal
      // round happens BEFORE the per-doc argmax in both engines, so a
      // last-ulp ln() difference cannot flip the winning term
      "q76_tfidf_top" ->
        raw"""WITH toks AS (SELECT doc_id, t AS term
             |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts
             |        FROM documents) AS d, LATERAL unnest(ts) AS u(t)
             |  WHERE length(t) > 0),
             |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
             |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
             |n AS (SELECT COUNT(*) AS n FROM documents),
             |sc AS (SELECT doc_id, term, tf, df,
             |    round(tf * ln(CAST(n AS DOUBLE) / df), 4) AS tfidf
             |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
             |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
             |    ORDER BY tfidf DESC, term) AS rn FROM sc)
             |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
             |  tfidf
             |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
      // q77: width-64 buckets over the q16 token count; pure integer
      // arithmetic ((n-1) // 64 replayed as f64 floor — exact for these
      // magnitudes in both engines)
      "q77_length_buckets" ->
        raw"""WITH t AS (SELECT CASE WHEN length(trim(text)) = 0 THEN 0
             |    ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) END AS n_tokens
             |  FROM documents),
             |b AS (SELECT n_tokens, CAST(floor((n_tokens - 1) / 64) AS BIGINT) AS bucket
             |  FROM t WHERE n_tokens > 0)
             |SELECT bucket, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
             |  MAX(n_tokens) AS max_tokens,
             |  COUNT(*) * (bucket + 1) * 64 AS padded_tokens,
             |  COUNT(*) * (bucket + 1) * 64 - CAST(SUM(n_tokens) AS BIGINT) AS waste_tokens
             |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
      // q78: same ±1 planes as q45's LSH (affine parity), same LEFT-FOLD
      // dot (list_reduce ≡ Spark aggregate fold order), ×1/√16 then
      // round(4) — the projected values themselves, not just their signs.
      // The trailing + 0.0 normalizes −0.0 (C rounding) to +0.0 (JVM
      // decimal rounding) so the engines agree at the zero boundary
      "q78_jl_project" -> {
        val projs = (0 until 16).map { j =>
          val (a, b) = Dedup.affine(j)
          s"""round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             |    list_transform(range(1, len(embedding) + 1),
             |      d -> (CASE WHEN (($a*d+$b) % ${Dedup.P}) % 2 = 1 THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)
             |           * CAST(embedding[CAST(d AS INT)] AS DOUBLE))),
             |    (acc, x) -> acc + x) * CAST(0.25 AS DOUBLE), 4) + CAST(0 AS DOUBLE)""".stripMargin
        }.mkString(",\n")
        raw"""WITH p AS (SELECT vec_id, [$projs] AS pr FROM embeddings)
             |SELECT vec_id, CAST(j AS BIGINT) AS j, pr[CAST(j + 1 AS INT)] AS proj
             |FROM p, LATERAL unnest(range(len(pr))) AS r(j)
             |ORDER BY vec_id, j""".stripMargin
      },
      // q79: the bucketing is a physical-layout property — the answer is
      // the plain equi-join's; decimal sums make the totals fold-order-free
      "q79_bucketed_join" ->
        """SELECT o_orderpriority, COUNT(*) AS n_items,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,3))) AS DOUBLE) AS sum_qty,
          |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,3))) AS DOUBLE) AS sum_price
          |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      // q80: distinct 5-word spans per doc (md5-digested, as in Spark),
      // shared = present in >= 2 docs; short docs surface with n_spans 0
      "q80_span_dedup" ->
        raw"""WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
             |sp AS (SELECT DISTINCT doc_id, md5(array_to_string(t[CAST(i + 1 AS INT):CAST(i + 5 AS INT)], ' ')) AS h
             |       FROM toks, LATERAL unnest(range(len(t) - 4)) AS r(i) WHERE len(t) >= 5),
             |sd AS (SELECT h, COUNT(*) AS nd FROM sp GROUP BY 1),
             |pd AS (SELECT doc_id, COUNT(*) AS n_spans,
             |         SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS n_shared
             |       FROM sp JOIN sd USING (h) GROUP BY 1)
             |SELECT doc_id, CAST(COALESCE(n_spans, 0) AS BIGINT) AS n_spans,
             |  CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_shared,
             |  ROUND(COALESCE(CAST(n_shared AS DOUBLE) / n_spans, 0), 4) AS shared_frac
             |FROM documents LEFT JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin,
      // q81: the same prefix sum replayed as a plain SQL window (the
      // oracle runs at sf-small where a one-task window is fine; the
      // Spark side is the two-phase distributed scan)
      "q81_token_curriculum" ->
        raw"""WITH t AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
             |    ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) END AS n_tokens
             |  FROM documents),
             |c AS (SELECT doc_id, n_tokens,
             |        SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |      FROM t)
             |SELECT doc_id, n_tokens, CAST(cum AS BIGINT) AS cum_tokens,
             |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS step
             |FROM c ORDER BY doc_id""".stripMargin,
      // q82: pow on exact per-domain integers; normalizer = left-fold over
      // the domain-sorted list (list_reduce ≡ Spark aggregate fold)
      "q82_temperature_mix" ->
        raw"""WITH c AS (SELECT lang, COUNT(*) AS n_docs,
             |    SUM(CASE WHEN length(trim(text)) = 0 THEN 0
             |        ELSE len(string_split_regex(trim(text), '\s+')) END) AS n_tokens
             |  FROM documents GROUP BY 1),
             |p AS (SELECT lang, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
             |        pow(CAST(n_tokens AS DOUBLE), 0.7) AS p FROM c),
             |tp AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE), list(p ORDER BY lang)),
             |         (acc, x) -> acc + x) AS tp FROM p)
             |SELECT lang, n_docs, n_tokens, ROUND(p / tp, 4) AS mix_weight,
             |  ROUND(CASE WHEN n_tokens = 0 THEN 0.0
             |    ELSE p / tp * 100000.0 / CAST(n_tokens AS DOUBLE) END, 4) AS dup_factor
             |FROM p, tp ORDER BY lang""".stripMargin,
      // q83: per-doc sum of tf·ln(cnt/total) as a term-sorted left-fold
      // (q78 fold-order rule), mean rounded to 4 decimals (q76 rule)
      "q83_unigram_lm" ->
        raw"""WITH toks AS (SELECT doc_id,
             |    list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0) AS t
             |  FROM documents),
             |w AS (SELECT doc_id, u.w AS term FROM toks, LATERAL unnest(t) AS u(w)),
             |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY 1, 2),
             |ug AS (SELECT term, COUNT(*) AS cnt FROM w GROUP BY 1),
             |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM w),
             |lp AS (SELECT doc_id, term, tf,
             |         CAST(tf AS DOUBLE) * ln(CAST(cnt AS DOUBLE) / total) AS lp
             |       FROM tf JOIN ug USING (term), tot)
             |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
             |  ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE), list(lp ORDER BY term)),
             |      (acc, x) -> acc + x) / CAST(SUM(tf) AS DOUBLE), 4) AS avg_logprob
             |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // q84: normalization + bit interleave generated from the SAME
      // ZOrder constants the Spark expression uses (single source of
      // truth); bounds from a 1-row CTE ≡ the broadcast bounds aggregate
      "q84_zorder_key" -> {
        val na = graft.sources.ZOrder.normSql("l_orderkey", "amin", "amax", 16)
        val nb = graft.sources.ZOrder.normSql("l_partkey", "bmin", "bmax", 16)
        val il = graft.sources.ZOrder.interleaveSql("na", "nb", 16)
        s"""WITH bounds AS (SELECT min(l_orderkey) AS amin, max(l_orderkey) AS amax,
           |    min(l_partkey) AS bmin, max(l_partkey) AS bmax FROM lineitem),
           |nrm AS (SELECT l_orderkey, l_partkey, $na AS na, $nb AS nb
           |        FROM lineitem, bounds)
           |SELECT l_orderkey, l_partkey, CAST($il AS BIGINT) AS zkey
           |FROM nrm ORDER BY zkey, l_orderkey, l_partkey""".stripMargin
      },
      // q85: the span-removal rewrite replayed in full — same in-row span
      // digests as q80, shared = digest in >= 2 DISTINCT docs, a token
      // drops iff a shared span STARTS in [i-k+1, i]; the kept text
      // compares as an md5 scalar, never as a text column
      "q85_span_mask" ->
        raw"""WITH toks AS (SELECT doc_id,
             |    list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0) AS t
             |  FROM documents),
             |sp AS (SELECT doc_id, i, md5(array_to_string(t[CAST(i + 1 AS INT):CAST(i + 5 AS INT)], ' ')) AS h
             |       FROM toks, LATERAL unnest(range(len(t) - 4)) AS r(i) WHERE len(t) >= 5),
             |shared AS (SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM sp GROUP BY 1) WHERE nd >= 2),
             |ss AS (SELECT doc_id, list(DISTINCT i ORDER BY i) AS ss
             |       FROM sp WHERE h IN (SELECT h FROM shared) GROUP BY 1),
             |m AS (SELECT toks.doc_id, t, COALESCE(ss, []) AS ss FROM toks LEFT JOIN ss USING (doc_id)),
             |k AS (SELECT doc_id, len(t) AS n_tokens,
             |        list_transform(list_filter(range(len(t)),
             |          i -> len(list_filter(ss, s -> i >= s AND i <= s + 4)) = 0),
             |          i -> t[CAST(i + 1 AS INT)]) AS kept
             |      FROM m)
             |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             |  CAST(len(kept) AS BIGINT) AS n_kept,
             |  CAST(n_tokens - len(kept) AS BIGINT) AS n_removed,
             |  md5(COALESCE(array_to_string(kept, ' '), '')) AS kept_hash
             |FROM k ORDER BY doc_id""".stripMargin,
      // q86: the 3-dim key generated from the SAME ZOrder bit positions
      // as the Spark expression (single source of truth, as q84)
      "q86_zorder_key3" -> {
        val na = graft.sources.ZOrder.normSql("l_orderkey", "amin", "amax", 16)
        val nb = graft.sources.ZOrder.normSql("l_partkey", "bmin", "bmax", 16)
        val nc = graft.sources.ZOrder.normSql("l_suppkey", "cmin", "cmax", 16)
        val il = graft.sources.ZOrder.interleaveSqlN(Seq("na", "nb", "nc"), 16)
        s"""WITH bounds AS (SELECT min(l_orderkey) AS amin, max(l_orderkey) AS amax,
           |    min(l_partkey) AS bmin, max(l_partkey) AS bmax,
           |    min(l_suppkey) AS cmin, max(l_suppkey) AS cmax FROM lineitem),
           |nrm AS (SELECT l_orderkey, l_partkey, l_suppkey, $na AS na, $nb AS nb, $nc AS nc
           |        FROM lineitem, bounds)
           |SELECT l_orderkey, l_partkey, l_suppkey, CAST($il AS BIGINT) AS zkey
           |FROM nrm ORDER BY zkey, l_orderkey, l_partkey, l_suppkey""".stripMargin
      },
      // q87: the z-ordered LAYOUT does not change the answer — the oracle
      // runs the identical predicate + decimal aggregate on the plain
      // table; integer division matches the Scala bound arithmetic
      "q87_zorder_scan" ->
        """WITH bounds AS (SELECT min(l_orderkey) AS amin, max(l_orderkey) AS amax,
          |    min(l_partkey) AS bmin, max(l_partkey) AS bmax FROM lineitem)
          |SELECT COUNT(*) AS n_rows,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,3))) AS DOUBLE) AS sum_qty,
          |  min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
          |  min(l_partkey) AS min_pk, max(l_partkey) AS max_pk
          |FROM lineitem, bounds
          |WHERE l_orderkey BETWEEN amin AND amin + (amax - amin) // 8
          |  AND l_partkey BETWEEN bmin AND bmin + (bmax - bmin) // 8""".stripMargin,
      // q88: same layout-independence as q87, one more clustered dimension
      "q88_zorder_scan3" ->
        """WITH bounds AS (SELECT min(l_orderkey) AS amin, max(l_orderkey) AS amax,
          |    min(l_partkey) AS bmin, max(l_partkey) AS bmax,
          |    min(l_suppkey) AS cmin, max(l_suppkey) AS cmax FROM lineitem)
          |SELECT COUNT(*) AS n_rows,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,3))) AS DOUBLE) AS sum_qty,
          |  min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
          |  min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
          |  min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk
          |FROM lineitem, bounds
          |WHERE l_orderkey BETWEEN amin AND amin + (amax - amin) // 8
          |  AND l_partkey BETWEEN bmin AND bmin + (bmax - bmin) // 8
          |  AND l_suppkey BETWEEN cmin AND cmin + (cmax - cmin) // 8""".stripMargin,
      // q89: invariant gates over the stateful streaming sessionizer —
      // the emitted set is boundary-nondeterministic, so the oracle is
      // constant and the invariants live in the query body (q48 pattern)
      "q89_stream_sessions_gate" ->
        ("SELECT CAST(1 AS BIGINT) AS closed_ok, CAST(1 AS BIGINT) AS bounded_ok, " +
          "CAST(1 AS BIGINT) AS nonempty_ok, CAST(1 AS BIGINT) AS value_ok"),
    )
  }
}
