package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorOps

/** Deduplication operators for a training-data pipeline over `documents`
  * (north-star extensions, SURVEY.md §7 M5 / BASELINE.json). The reference
  * has no text surface; these reuse its binary-signature machinery in
  * spirit (MinHash/SimHash signatures ≈ B8's bit codes).
  *
  * Scale notes: every variant avoids the O(n²) document cross join —
  * exact dedup is a hash aggregate; n-gram Jaccard uses frequency-ordered
  * prefix filtering (AllPairs/PPJoin — lossless candidate pruning, then
  * exact set verification); MinHash-LSH joins on (band, minhash);
  * SimHash joins on 16-bit sub-bands; embedding near-dup joins on
  * hyperplane-LSH sub-bands. The only all-pairs scan is the
  * deliberately-exact oracle counterpart `embeddingNearDup`.
  */
object Dedup {

  // observe() names must be unique within a plan (DUPLICATED_METRICS_NAME
  // otherwise); listeners match on the stable `dedup_candidates_` prefix
  private val obsCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Modulus for all portable hashing: prime 1e9+7. Everything stays well
    * inside i64 (a·h + b < 2^61), so DuckDB's checked arithmetic and the
    * JVM agree bit-for-bit — the property that makes the minhash/simhash
    * pipelines oracle-able end to end.
    */
  val P = 1000000007L

  /** Guard for floating-point boundary error in threshold arithmetic:
    * `ceil(ns * t)` can land one above the exact rational bound when
    * `ns * t` rounds up past an integer (e.g. t = 0.07, ns = 100 →
    * 7.000000000000001, ceil = 8 where the exact product is 7), which
    * would shorten a "lossless" prefix by one and silently drop boundary
    * pairs. Subtracting EPS (≫ any double rounding error at ns ≤ 2^40,
    * ≪ the 1/ns gap between distinct rational bounds) restores the exact
    * bound; it can only ever WIDEN a prefix / LOOSEN a prune, never drop.
    */
  private val EPS = 1e-9

  /** Lossless prefix length for AllPairs filtering at threshold `t`:
    * |s| − ⌈t·|s|⌉ + 1, with the ceil computed on `t·ns − EPS` so a
    * product that fp-rounds just above an exact integer (t = 0.07,
    * ns = 100 → 7.000000000000001, naive ceil = 8) still yields the exact
    * rational bound (7 → prefix 94, not 93). Exposed for direct testing.
    */
  def prefixLen(ns: Column, t: Double): Column =
    ns - ceil(ns * t - EPS) + 1

  /** Eagerly materialize `result` (lineage-truncating local checkpoint),
    * then release the intermediate frames the pipeline persisted. Without
    * this the per-invocation persist()s stay registered in the session's
    * CacheManager forever (each call leaks cached blocks); with it the
    * only storage the caller holds is the checkpointed result itself,
    * which the ContextCleaner reclaims once the frame is unreferenced.
    * Cost: the result is computed at call time rather than lazily.
    *
    * Set system property `graft.dedup.lazyPlans=true` to skip the eager
    * checkpoint (keeping the full lazy plan inspectable — PlanDump does
    * this); in that mode the intermediate caches stay registered for the
    * session, the exact leak the default mode exists to prevent.
    */
  private def materializeAndRelease(result: DataFrame, cached: DataFrame*): DataFrame = {
    if (sys.props.get("graft.dedup.lazyPlans").contains("true")) result
    else {
      val out = result.localCheckpoint(true)
      cached.foreach(_.unpersist())
      out
    }
  }

  /** 64 affine hash families (aᵢ·h + bᵢ) mod P over a base hash h, with
    * constants from a fixed-seed generator: the DuckDB oracle embeds the
    * same literals, so both engines derive identical signatures.
    * Families 0..63 drive the simhash bit votes; 0..numHashes-1 drive the
    * minhash permutations (independent inputs, so sharing is harmless).
    */
  val affine: IndexedSeq[(Long, Long)] = {
    val rng = new java.util.Random(0x5eed5eedL)
    IndexedSeq.fill(64)((1L + rng.nextInt(1000000000).toLong, rng.nextInt(1000000000).toLong))
  }

  /** Portable polynomial string hash: base 131, mod P, over character
    * codes — the `TextOps.rollingHash` arithmetic applied to a single
    * value. Native codegen expression (`PolyHashString`) with arithmetic
    * byte-identical to DuckDB's `list_reduce` replay (the q19
    * fingerprint oracle proves the pattern) and to the interpreted
    * `aggregate(split(...))` HOF chain it replaces.
    */
  def polyHash(s: Column, base: Long = 131L): Column =
    graft.functions.TextExpressions.polyHash(s, base, P)

  /** Word n-gram shingles as 64-bit hashes, WITHOUT materializing the
    * shingle strings: xxhash64 over the n token columns directly, inside a
    * `transform` lambda (whole-stage codegen, no concat/regex per
    * shingle). Tokens contain no whitespace, so distinct hash ≡ distinct
    * shingle string up to a ~2⁻⁶⁴ collision — exact-jaccard results over
    * these longs match the string-set oracle while every downstream
    * shuffle/sort/intersection runs on primitives.
    */
  def shingleHashes(docs: DataFrame, n: Int): DataFrame =
    docShingleSets(docs, n)
      .select(col("doc_id"), explode(col("set")).as("shingle"))

  /** Per-doc DISTINCT shingle-hash set with its size, computed entirely
    * inside the row (`array_distinct` over the codegen'd shingle array) —
    * zero shuffles, unlike the explode→distinct→groupBy formulation this
    * replaced, which paid two full shuffles of the posting set before any
    * real work started. Per-row cost is bounded by document length, so
    * the narrow pipeline holds at any corpus scale.
    */
  def docShingleSets(docs: DataFrame, n: Int): DataFrame = {
    val toks = split(trim(lower(col("text"))), "\\s+")
    // the token array is BOUND as a lambda variable (transform over a
    // 1-element array) so each element_at reads the bound value —
    // referencing a projected column directly would re-evaluate the whole
    // split per element_at after projection collapse (an O(len²) blowup)
    val shingleArr = flatten(transform(array(toks), ts =>
      transform(sequence(lit(0), size(ts) - n),
        i => xxhash64((0 until n).map(j => element_at(ts, i + j + 1)): _*))))
    docs.filter(size(toks) >= n)
      .select(col("doc_id"), array_distinct(shingleArr).as("set"))
      .withColumn("ns", size(col("set")).cast("long"))
  }

  /** Exact dedup: canonical doc per distinct text (min doc_id wins).
    * Groups on the md5 digest, NOT the text — at 100 TB the shuffle moves
    * 16-byte digests instead of whole documents (same result barring an
    * md5 collision, which at 2^64 docs is ~2^-64).
    * Output: (doc_id, n_copies) per surviving representative.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")

  /** Incremental exact dedup — the 100 TB ingestion pattern: keep the
    * docs of an `incoming` batch whose text does NOT already appear in a
    * (much larger) `history` corpus, without ever shuffling history.
    *
    *   1. build a Bloom filter over history text digests, distributed
    *      (the bitmap format behind Spark's runtime join filters): partial
    *      filter per partition, OR-merged on the executors — only the merged
    *      bitmap (~1.2 B/doc at 1% fpp) reaches the driver, where it is
    *      embedded as a plan literal;
    *   2. cheap-test every incoming digest against it with the codegen
    *      `BloomFilterMightContain` predicate — no false negatives, so
    *      the negatives are DEFINITELY new and skip everything below;
    *   3. make the positive slice (true dups + fpp·|new|) exact: one
    *      broadcast semi-join confirms which positive digests truly
    *      exist in history (history scans narrowly, broadcast side is the
    *      tiny positive set), then one broadcast anti-join removes the
    *      confirmed dups from incoming.
    *
    * The result equals the full `incoming ANTI JOIN history ON digest`
    * at any fpp — the Bloom parameters trade only verification-join size,
    * never correctness (spec drives fpp to ~1 to prove it). History-side
    * cost is two narrow scans (sketch build + confirm), zero exchanges of
    * history rows — the property that survives a 1000-executor corpus.
    * Digest equality stands in for text equality as in `exact` (xxhash64
    * here: the filter is keyed on longs; collision odds 2^-64).
    *
    * `expectedHistoryDocs` sizes the filter (an upper bound is fine; no
    * session cap clamps it). At corpora where the bitmap itself outgrows
    * the driver (≥ ~10^10 docs at 1% fpp) raise fpp — exactness is
    * unaffected, only step 3's broadcast grows.
    *
    * Output: the incoming rows that are new, original schema.
    */
  /** The text-digest column every incremental-dedup path fingerprints on
    * (LongType — the Bloom filter's key type; collision odds
    * 2^-64, same contract as `exact`'s md5 grouping). NULL text → NULL
    * digest (not the seed hash): SQL equality never matches NULLs, so a
    * null-text incoming row must never count as a duplicate of a
    * null-text history row — NULL fps are filtered out of the bloom
    * build and survive every anti-join below
    * (NULL keys never match), which is exactly the NOT EXISTS semantics
    * the q94 oracle states.
    */
  def textFp: Column = when(col("text").isNotNull, xxhash64(col("text")))

  /** Distributed Bloom-sketch build over `history`'s text digests +
    * membership predicate over a `fp` column: a partial filter per
    * partition over the non-NULL digests, OR-merged on the executors in a
    * tree whose last merge also runs on an executor, so only the final
    * bitmap reaches the driver (one bitmap per history partition would
    * count ~1.2 MB each against `spark.driver.maxResultSize` at 2^20
    * items); the merged bitmap is embedded as a plan literal read by the
    * codegen `BloomFilterMightContain` predicate. The filter is built directly
    * (the bytes `BloomFilterAggregate` would produce) rather than through
    * that aggregate, which SILENTLY clamps its size to the session's
    * runtime-join-filter maxima (maxNumItems default 4M, maxNumBits
    * default 67M bits ≈ 7M items at 1% fpp) — honoring the requested size
    * through it would mean raising session-global caps that a concurrent
    * query's injected runtime filters also read. None ⇔ no non-NULL
    * digest in history. Shared by the batch (`incrementalNew`) and
    * streaming (`DocsStream.newFingerprints`) ingest paths so their
    * pruning can never diverge.
    */
  def historyBloomPredicate(history: DataFrame, expectedHistoryDocs: Long,
                            fpp: Double): Option[Column] = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graft.ColumnShim
    import org.apache.spark.util.sketch.BloomFilter
    val nItems = math.max(expectedHistoryDocs, 1L)
    val numBits = BloomFilter.optimalNumOfBits(nItems, fpp)
    val bloom = history.select(textFp.as("fp")).where(col("fp").isNotNull)
      .as(org.apache.spark.sql.Encoders.scalaLong).rdd
      .treeAggregate(BloomFilter.create(nItems, numBits),
        (bf: BloomFilter, fp: Long) => { bf.putLong(fp); bf },
        (a: BloomFilter, b: BloomFilter) => a.mergeInPlace(b),
        depth = 2, finalAggregateOnExecutor = true)
    // an empty history (no non-NULL digest) means everything incoming is new
    Some(bloom).filter(_.cardinality() > 0)
      .map { bf =>
        val bytes = new java.io.ByteArrayOutputStream()
        bf.writeTo(bytes)
        ColumnShim.column(BloomFilterMightContain(
          Literal.create(bytes.toByteArray, org.apache.spark.sql.types.BinaryType),
          ColumnShim.expression(col("fp"))))
      }
  }

  def incrementalNew(history: DataFrame, incoming: DataFrame,
                     expectedHistoryDocs: Long, fpp: Double = 0.01): DataFrame =
    incrementalNew(history, incoming,
      historyBloomPredicate(history, expectedHistoryDocs, fpp))

  /** Variant taking a prebuilt bloom predicate (from
    * [[historyBloomPredicate]]) so a caller running several incremental
    * passes against the same history — or pairing the batch path with
    * its streaming twin, as the q95 gate does — pays the sketch build
    * once instead of once per consumer.
    */
  def incrementalNew(history: DataFrame, incoming: DataFrame,
                     bloom: Option[Column]): DataFrame =
    bloom match {
      case None => incoming
      case Some(mightContain) =>
        // collision-safe internal key: a caller-supplied `fp` column must
        // survive untouched in the output, so the join key lives under a
        // reserved name and is dropped before return. The bloom predicate
        // tests `fp` by contract — it is applied inside single-column
        // projections where `fp` can only mean the digest, then renamed.
        val key = "__graft_fp"
        val fp = textFp
        val positives = incoming.select(fp.as("fp")).filter(mightContain)
          .select(col("fp").as(key)).distinct()
        val confirmed = history.select(fp.as(key))
          .join(broadcast(positives), Seq(key), "left_semi").distinct()
        // NULL-text rows carry a NULL key: the anti-join can never match
        // them, so they come out as new — the NOT EXISTS (h.text = d.text)
        // contract, which never matches NULLs either
        incoming.withColumn(key, fp)
          .join(broadcast(confirmed), Seq(key), "left_anti")
          .drop(key)
    }

  /** Word n-gram shingles, lowercase, as distinct STRINGS per doc — the
    * readable reference form of `shingleHashes` (which the hot paths use);
    * kept for tests and debugging.
    */
  def shingles(docs: DataFrame, n: Int): DataFrame = {
    val toks = split(trim(lower(col("text"))), "\\s+")
    docs.select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(
        transform(sequence(lit(0), size(col("toks")) - n),
          i => concat_ws(" ", slice(col("toks"), i + 1, lit(n))))).as("shingle"))
      .distinct()
  }

  /** Exact n-gram Jaccard similarity join via inverted index: pairs of
    * docs sharing ≥1 shingle, scored |∩|/|∪|, kept when ≥ threshold.
    * Deterministic and SQL-expressible (oracle-able) — the exact
    * counterpart that MinHash-LSH approximates.
    * Output: (doc_a, doc_b, jaccard) with doc_a < doc_b.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double): DataFrame = {
    // per-doc shingle-hash SET with its size, persisted: the prefix index,
    // the candidate join, and the verification join all read this — without
    // the cache the scan→shingle pipeline re-runs per consumer
    val docSets = docShingleSets(docs, n).persist()

    // EXACT PREFIX FILTERING (AllPairs/PPJoin): order the shingle universe
    // by ascending global document frequency (ties on the string) and
    // index only each doc's first |s| − ⌈t·|s|⌉ + 1 shingles in that
    // order. Lossless at threshold t: jaccard(a,b) ≥ t ⇒ |a∩b| ≥
    // ⌈t·|a|⌉ and ≥ ⌈t·|b|⌉, so the globally-smallest common shingle
    // must sit inside BOTH prefixes (either suffix is too short to hold
    // the whole intersection). Rare-first ordering also kills hot-shingle
    // skew — a stopword shingle shared by 10⁶ docs sorts LAST and never
    // enters a prefix, so it generates zero candidate pairs.
    val posting = docSets.select(col("doc_id"), col("ns"), explode(col("set")).as("shingle"))
    val freq = posting.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("df").asc, col("shingle").asc)
    // persisted: BOTH sides of the candidate self-join scan this — without
    // the cache the posting→frequency-join→window pipeline runs twice (the
    // self-join defeats exchange reuse). `rn` (the shingle's 1-based rank
    // in the doc's df-sorted order) rides along for positional filtering.
    val prefix = posting.join(freq, Seq("shingle"))
      .withColumn("rn", row_number().over(wDoc))
      .filter(col("rn") <= prefixLen(col("ns"), threshold))
      .select(col("doc_id"), col("ns"), col("rn"), col("shingle"))
      .persist()

    val candidates = jaccardCandidates(prefix, threshold, positional = true)

    // exact verification: true |∩| from the full sets (computed once)
    val setsA = docSets.select(col("doc_id").as("doc_a"), col("set").as("set_a"), col("ns").as("sa"))
    val setsB = docSets.select(col("doc_id").as("doc_b"), col("set").as("set_b"), col("ns").as("sb"))
    val result = candidates
      .join(setsA, Seq("doc_a"))
      .join(setsB, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sa"), col("sb"),
        size(array_intersect(col("set_a"), col("set_b"))).cast("long").as("nc"))
      .select(col("doc_a"), col("doc_b"),
        (col("nc").cast("double") / (col("sa") + col("sb") - col("nc"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    materializeAndRelease(result, docSets, prefix)
  }

  /** Candidate pairs from a prefix-index frame (doc_id, ns, rn, shingle):
    * pairs sharing ≥1 prefix shingle, pruned by the size bound
    * jaccard ≥ t ⇒ min(|a|,|b|) ≥ t·max(|a|,|b|), and — when `positional`
    * — by PPJoin positional filtering: a match at ranks (i, j) of docs
    * sized (na, nb) bounds the overlap by 1 + min(na−i, nb−j) (everything
    * common sits at rank ≥ i in a and ≥ j in b, in the SAME global
    * df-sorted order), while jaccard ≥ t needs |∩| ≥ t/(1+t)·(na+nb).
    * Lossless: for a true pair, at its globally-FIRST common shingle the
    * bound ≥ |∩| (no common element precedes it), so that match survives
    * and the pair reaches `distinct`. Matches on later common shingles may
    * prune — that's the point: candidate volume drops super-linearly while
    * the answer is unchanged (spec + oracle assert equality both ways).
    */
  private[graft] def jaccardCandidates(prefix: DataFrame, threshold: Double,
                                       positional: Boolean): DataFrame = {
    val a = prefix.select(col("doc_id").as("doc_a"), col("ns").as("na"),
      col("rn").as("rn_a"), col("shingle"))
    val b = prefix.select(col("doc_id").as("doc_b"), col("ns").as("nb"),
      col("rn").as("rn_b"), col("shingle"))
    val sizeBound = col("doc_a") < col("doc_b") &&
      least(col("na"), col("nb")).cast("double") >=
        lit(threshold) * greatest(col("na"), col("nb")) - EPS
    val posBound =
      (lit(1L) + least(col("na") - col("rn_a"), col("nb") - col("rn_b")))
        .cast("double") >=
        lit(threshold / (1.0 + threshold)) * (col("na") + col("nb")) - EPS
    a.join(b, Seq("shingle"))
      .filter(if (positional) sizeBound && posBound else sizeBound)
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** MinHash-LSH near-dup: shingle → portable hash → `numHashes` minhash
    * permutations (affine families over the shingle hash) → banded
    * candidate join (b = numHashes/rowsPerBand bands of r = rowsPerBand
    * minhashes each; a pair is a candidate when ALL r values of some band
    * match — P(candidate) = 1−(1−s^r)^b) → exact Jaccard verification
    * over the distinct shingle-hash sets at `simThreshold`.
    *
    * r must be ≥ 2 at corpus scale: single-hash bands (r = 1) admit a
    * candidate whenever two docs' MINIMA merely coincide, and minima of
    * m draws concentrate on ~P/m values, giving DISJOINT docs a ~m/P
    * collision chance — n²·m/P pairs, quadratic with a constant that
    * turned 10M synthetic docs into tens of millions of false
    * candidates (measured 0.59·n at n = 10⁶). AND-ing r values squares
    * that chance away (~(m/P)² ≈ 10⁻¹⁵) while the b=4, r=2 default
    * keeps the s-curve midpoint (1/b)^(1/r) = 0.5 exactly at the
    * operator's default `simThreshold`.
    *
    * BEHAVIOR CHANGE vs the pre-r14 r=1 default: candidate RECALL at
    * near-threshold similarity is lower by design — at s = 0.5,
    * P(candidate) drops from 1−(1−s)^8 ≈ 0.996 (b=8, r=1) to
    * 1−(1−s²)^4 ≈ 0.68 (b=4, r=2). That is the intentional trade for
    * killing the quadratic false-candidate regime above; verification
    * keeps every surfaced pair exact either way. Callers that need
    * near-threshold recall back should raise `numHashes = 16` with
    * `rowsPerBand = 2` (b=8, r=2: P ≈ 0.90 at s = 0.5, s-curve midpoint
    * 0.35) — the affine table carries 64 families, enough for b·r ≤ 32.
    *
    * Hand-rolled instead of MLlib so the whole pipeline is deterministic
    * portable arithmetic — the DuckDB oracle replays it bit-for-bit.
    * Output: (doc_a, doc_b, jaccard) with doc_a < doc_b.
    */
  def minhashPairs(docs: DataFrame, n: Int, simThreshold: Double,
                   numHashes: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    require(2 * numHashes <= affine.length,
      s"needs 2·numHashes ≤ ${affine.length} hash families (hi + lo components)")
    require(numHashes % rowsPerBand == 0, "rowsPerBand must divide numHashes")
    // distinct shingle-hash set per doc: candidates, sizes, and the
    // verification join all derive from this one persisted frame.
    // The shingle hash composes PER-TOKEN polynomial hashes (each token's
    // chars hashed once, then n token hashes folded with base 131 mod P)
    // instead of re-hashing every character of every shingle — an n-fold
    // cut in char-level work that the DuckDB oracle replays identically.
    // The tokenize → per-token hash → window fold runs as ONE fused
    // codegen expression (ShinglePolyHashes) over the normalized text;
    // the expression returns an empty array below n tokens, which
    // explode() then drops — same doc set as the old size(toks) >= n
    // filter on the split column.
    // WIDE SET ELEMENTS — the base-131 window fold packed with a
    // base-137 fold of the SQUARED token hashes into one ~61-bit long
    // (hi·2³¹ + lo, ShingleWideHashes — one fused byte pass). A single
    // mod-P hash (~2³⁰ space) suffers birthday collisions between
    // UNRELATED shingles at corpus scale: with m shingles/doc,
    // ≈ (m·n)²/2P doc pairs spuriously "share" an element (measured 39M
    // pairs → 574k false candidates at n = 10⁷), growing quadratically
    // forever. A second LINEAR fold does not fix it (both folds are
    // linear in the same digit-difference lattice and collide together —
    // see ShinglePolyHashes.wideShingles); the squared-token second
    // component pushes joint collisions to ~1/P², negligible past 10¹⁰
    // docs, with every value inside i64 for the DuckDB replay.
    val docSets = shingleSets(docs, n).persist()
    val banded = bandedSignatures(docSets, numHashes, rowsPerBand)
    val ca = banded.select(col("doc_id").as("doc_a"), col("band"), col("mh"))
    val cb = banded.select(col("doc_id").as("doc_b"), col("band"), col("mh"))
    val candidates = ca.join(cb, Seq("band", "mh"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
      // candidate-volume telemetry (the quantity that decides whether the
      // banding params fit n): free plan-native metric, read via a
      // QueryExecutionListener on the `dedup_candidates_` prefix — the
      // RabitqQuery rough/precise counter pattern
      .observe(s"dedup_candidates_${obsCounter.incrementAndGet()}",
        count(lit(1)).as("n_candidates"))
    val sa = docSets.select(col("doc_id").as("doc_a"), col("set").as("set_a"), col("ns").as("sa"))
    val sb = docSets.select(col("doc_id").as("doc_b"), col("set").as("set_b"), col("ns").as("sb"))
    val result = candidates.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sa"), col("sb"),
        size(array_intersect(col("set_a"), col("set_b"))).cast("long").as("nc"))
      .select(col("doc_a"), col("doc_b"),
        (col("nc").cast("double") / (col("sa") + col("sb") - col("nc"))).as("jaccard"))
      .filter(col("jaccard") >= simThreshold)
    materializeAndRelease(result, docSets)
  }

  /** Per-doc distinct wide-shingle set, computed INSIDE the row
    * (`array_distinct` over the fused `ShingleWideHashes` expression) —
    * the explode→distinct→two-groupBy formulation this replaced paid
    * three full shuffles of the posting set before any banded join.
    * Docs below n tokens have no shingles and are dropped (they can
    * never band-match anything).
    */
  private def shingleSets(docs: DataFrame, n: Int): DataFrame = {
    val shingleArr = graft.functions.TextExpressions
      .shingleWideHashes(trim(lower(col("text"))), n, 131L, 137L, P)
    docs.select(col("doc_id"), array_distinct(shingleArr).as("set"))
      .filter(size(col("set")) > 0)
      .withColumn("ns", size(col("set")).cast("long"))
  }

  /** (doc_id, band, mh) band keys from a shingle-set frame: all
    * numHashes permutations computed inside the row, grouped into
    * b = numHashes/rowsPerBand bands of r values each. Per-family min
    * over the permuted COMPONENTS, recombined — the high 31 bits carry
    * π_j(hi) so the min orders primarily by the base-131 permutation
    * (the classic minhash property), the low bits an independent
    * π_{j+numHashes}(lo) so equal mins imply a genuine wide-shingle
    * match, not a mod-P coincidence. The band key is the ARRAY of its r
    * minhash values (exact values, not a re-hash — the oracle joins on
    * the same lists).
    */
  private def bandedSignatures(docSets: DataFrame, numHashes: Int,
                               rowsPerBand: Int): DataFrame = {
    val Hi = 1L << 31
    val minCols = (0 until numHashes).map { j =>
      val (a1, b1) = affine(j)
      val (a2, b2) = affine(j + numHashes)
      array_min(transform(col("set"), s => {
        val hi = shiftright(s, 31)
        val lo = s.bitwiseAND(lit(Hi - 1L))
        ((lit(a1) * hi + lit(b1)) % lit(P)) * lit(Hi) +
          ((lit(a2) * lo + lit(b2)) % lit(P))
      })).as(s"m$j")
    }
    val mins = docSets.select(col("doc_id") +: minCols: _*)
    val numBands = numHashes / rowsPerBand
    mins.select(col("doc_id"), explode(array((0 until numBands).map { j =>
      struct(lit(j).as("band"),
        array((0 until rowsPerBand).map(k => col(s"m${j * rowsPerBand + k}")): _*).as("mh"))
    }: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.mh").as("mh"))
  }

  /** Incremental MINHASH near-dup — [[Dedup.incrementalNew]]'s contract
    * lifted from exact to NEAR duplicates, completing the incremental
    * matrix (exact: q94/q95; semantic: q104/q105; n-gram near-dup: this):
    * an incoming doc survives iff NO history doc shares a minhash band
    * with it AND clears exact-Jaccard verification at `simThreshold`.
    * Within-incoming near-dups all survive (new to the corpus — the
    * incrementalNew contract), and incoming docs too short to shingle
    * trivially survive (no shingles ⇒ nothing to match).
    *
    * Scale shape: the history BAND TABLE is the reusable index — at
    * scale it is computed once and persisted (bucketed by (band, mh) —
    * `sources/Bucketed` — so daily joins are exchange-free on the
    * history side); here it is derived in-plan. The day batch's bands
    * BROADCAST into the candidate join, so history streams map-side and
    * never shuffles; verification fetches only candidate history sets
    * (semi-join-reduced), and the matched set is id-only. Candidate
    * volume telemetry rides the same `dedup_candidates_` observe prefix
    * as the batch pair joins.
    *
    * Output: the surviving incoming ROWS (all original columns).
    */
  def incrementalMinhashNew(history: DataFrame, incoming: DataFrame, n: Int,
                            simThreshold: Double, numHashes: Int = 8,
                            rowsPerBand: Int = 2): DataFrame = {
    val (histSets, histBands) = minhashHistory(history, n, numHashes, rowsPerBand)
    val out = incrementalMinhashNewWith(histSets, histBands, incoming, n,
      simThreshold, numHashes, rowsPerBand)
    // out is already materialized, so the one-shot caller's history
    // caches can be released here without recompute risk
    if (!sys.props.get("graft.dedup.lazyPlans").contains("true")) {
      histSets.unpersist(); histBands.unpersist()
    }
    out
  }

  /** Precompute the HISTORY side of [[incrementalMinhashNew]] — the
    * persisted shingle-set frame and the band index — once, for callers
    * running MANY incremental passes against the same history: the
    * streaming ingest loop ([[graft.streaming.IngestStream]]) pays the
    * history scan once per stream, not once per micro-batch, which is
    * the whole point of the incremental contract. The caller owns the
    * two frames' lifecycle (unpersist when the stream ends); a
    * deployment persists the band table bucketed by (band, mh) instead
    * (see the scaladoc above).
    */
  def minhashHistory(history: DataFrame, n: Int, numHashes: Int = 8,
                     rowsPerBand: Int = 2): (DataFrame, DataFrame) = {
    require(2 * numHashes <= affine.length,
      s"needs 2·numHashes ≤ ${affine.length} hash families (hi + lo components)")
    require(numHashes % rowsPerBand == 0, "rowsPerBand must divide numHashes")
    val histSets = shingleSets(history, n).persist()
    val histBands = bandedSignatures(histSets, numHashes, rowsPerBand)
      .select(col("doc_id").as("hist_id"), col("band"), col("mh")).persist()
    (histSets, histBands)
  }

  /** [[incrementalMinhashNew]] against a PREBUILT history side from
    * [[minhashHistory]]. Releases only the incoming-side cache; the
    * history frames stay persisted for the next pass.
    */
  def incrementalMinhashNewWith(histSets: DataFrame, histBands: DataFrame,
                                incoming: DataFrame, n: Int,
                                simThreshold: Double, numHashes: Int = 8,
                                rowsPerBand: Int = 2): DataFrame = {
    val incSets = shingleSets(incoming, n).persist()
    val incBands = bandedSignatures(incSets, numHashes, rowsPerBand)
      .select(col("doc_id").as("inc_id"), col("band"), col("mh"))
    val candidates = histBands.join(broadcast(incBands), Seq("band", "mh"))
      .select("inc_id", "hist_id").distinct()
      .observe(s"dedup_candidates_${obsCounter.incrementAndGet()}",
        count(lit(1)).as("n_candidates"))
    val matched = candidates
      .join(incSets.select(col("doc_id").as("inc_id"),
        col("set").as("ia"), col("ns").as("na")), Seq("inc_id"))
      .join(histSets.select(col("doc_id").as("hist_id"),
        col("set").as("hb"), col("ns").as("nb")), Seq("hist_id"))
      .select(col("inc_id"),
        size(array_intersect(col("ia"), col("hb"))).cast("long").as("nc"),
        col("na"), col("nb"))
      .filter(col("nc").cast("double") / (col("na") + col("nb") - col("nc"))
        >= simThreshold)
      .select(col("inc_id").as("doc_id")).distinct()
    // matched ⊆ incoming ids — broadcast it so the day batch never
    // shuffles for the final anti-join (the q94 confirmed-set shape)
    materializeAndRelease(
      incoming.join(broadcast(matched), Seq("doc_id"), "left_anti"),
      incSets)
  }

  /** 64-bit SimHash over word tokens: per-token hash votes per bit,
    * signature bit = sign of the vote sum. Near-dups = signatures within
    * `maxHamming`; candidate generation joins on 16-bit sub-bands (any
    * pair within hamming ≤ 3 shares at least one of 4 exact sub-bands —
    * pigeonhole), so no O(n²) scan.
    * Output: (doc_a, doc_b, hamming).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "sub-band scheme covers hamming <= 3")
    val sig = simhashSignatures(docs)
    // sub-band value via shift+mask: the &0xffff keeps only the low 16
    // bits, so arithmetic-vs-logical shift of the (possibly negative)
    // signature is irrelevant — the same expression is portable to the
    // DuckDB oracle
    val banded = sig.select(col("doc_id"), col("sig"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), 16 * b).bitwiseAND(lit(0xffffL)).as("bits"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band"), col("bb.bits"))
    val a = banded.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"),
      col("band"), col("bits"))
    val b = banded.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"),
      col("band"), col("bits"))
    a.join(b, Seq("band", "bits"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** 64-bit simhash per doc. Token hash is the portable polynomial hash;
    * bit i's vote comes from the parity of affine family i applied to it —
    * all modular i64 arithmetic, so the DuckDB oracle reproduces the exact
    * signatures (xxhash64 would be Spark-only).
    * Single pass: explode tokens, then ONE groupBy with 64 sum aggregates
    * (per-bit votes, map-side combinable); signature bit i set iff vote>0.
    */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("doc_id"), polyHash(col("tok")).as("h"))
    val votes = (0 until 64).map { i =>
      val (a, b) = affine(i)
      sum(when(((lit(a) * col("h") + lit(b)) % lit(P)) % lit(2L) === 1L, 1).otherwise(-1)).as(s"v$i")
    }
    val agg = toks.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
    val sig = (0 until 64)
      .map(i => when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    agg.select(col("doc_id"), sig.as("sig"))
  }

  /** Scale path for embedding near-dup: random-hyperplane LSH.
    * `numPlanes` seeded Gaussian directions → sign-bit signature;
    * candidates share one of `numBands` sub-bands of numPlanes/numBands
    * bits (P(bit match) = 1 − θ/π); exact cosine then confirms ≥
    * threshold. No O(n²) scan — this is the variant that survives large
    * n, with `embeddingNearDup` as its oracle-able exact counterpart.
    *
    * BAND WIDTH MUST SCALE WITH n: expected candidates ≈
    * numBands · n² / 2^(bandBits+1) for uncorrelated vectors, and each
    * candidate pays a dim-sized verification fetch — so size bandBits to
    * keep candidates O(n): 2^(bandBits+1) ≳ numBands·n. 8-bit bands
    * (64/8) are fine to ~10⁴ vectors but explode at 10⁶; 16-bit bands
    * (65k buckets) still put ~30·n random pairs through verification at
    * n = 10⁶ (measured: 65M at 1M synthetic vectors). From ~10⁶ up,
    * hold ≥4 bands for recall and WIDEN the signature instead:
    * numPlanes=128, numBands=4 gives 32-bit bands (4·10⁹ buckets,
    * ~n²/2³³ expected collisions per band — ~10² at n = 10⁶, ~10⁴ at
    * 10⁷). The recall price falls on BORDERLINE pairs: a cos = 0.99 pair
    * matches a 32-bit band w.p. (1−θ/π)^32 ≈ 0.23 (any-of-4 ≈ 0.65),
    * while a true near-dup at cos ≥ 0.999 still collides w.p. ≥ 0.97 —
    * wide bands are for high-threshold dedup, not borderline retrieval.
    * The signature is packed per band, so any numPlanes = numBands ×
    * bandBits ≤ 64·bands works without code changes.
    *
    * PRECONDITION: `vec_id` must be a key of `emb` (unique). Candidate
    * pairs are distinct()-ed before verification, so a duplicate vec_id
    * would make the 1:N embedding-fetch joins emit duplicate
    * (id_a, id_b) rows. All engine sources guarantee this (parquet
    * vec_id is the row key); dedupe first if yours doesn't.
    */
  def embeddingNearDupLSH(spark: SparkSession, emb: DataFrame, threshold: Double,
                          seed: Long = 42L, numBands: Int = 8,
                          numPlanes: Int = 64): DataFrame = {
    require(numPlanes % numBands == 0, "numBands must divide numPlanes")
    val bandBits = numPlanes / numBands
    require(bandBits <= 64, "a band must fit in one long")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val rnd = new java.util.Random(seed)
    val planes = Array.fill(numPlanes, dim)(rnd.nextGaussian().toFloat)
    // one long PER BAND (bit i of band b = sign of plane b*bandBits+i) —
    // equivalent to slicing a packed signature, but width-unbounded.
    // Codegen expression, not a UDF: the banding pass touches every row
    // of the corpus, and a UDF would pay serialize-to-Seq there. The
    // plane matrix rides in the plan as a flat float[] reference
    // (dim-sized, not n-sized — task-closure weight at any corpus scale).
    val sigCol = graft.functions.VectorExpressions.hyperplaneSig(
      col("embedding"), planes.flatten, numBands, bandBits)
    // ID-ONLY CANDIDATES: the band exchange carries (band, bits, vec_id) —
    // never the embedding. A banded self-join that kept the vectors would
    // shuffle numBands full copies of the corpus; joining on ids and
    // fetching the embeddings in the verification join (the minhashPairs
    // shape) shuffles numBands × 20 bytes per vector instead, and the
    // (usually far smaller) candidate set pays the vector fetch.
    val banded = emb
      .select(col("vec_id"), posexplode(sigCol).as(Seq("band", "bits")))
    val a = banded.select(col("vec_id").as("id_a"), col("band"), col("bits"))
    val b = banded.select(col("vec_id").as("id_b"), col("band"), col("bits"))
    val candidates = a.join(b, Seq("band", "bits"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
      .observe(s"dedup_candidates_${obsCounter.incrementAndGet()}",
        count(lit(1)).as("n_candidates"))
    val ea = emb.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
    val eb = emb.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
    candidates.join(ea, Seq("id_a")).join(eb, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.VectorExpressions.cosineSim(col("ea"), col("eb")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Oracle-able hyperplane LSH: like `embeddingNearDupLSH` but every
    * step is deterministic PORTABLE arithmetic, so DuckDB can replay the
    * whole pipeline bit-for-bit (the Gaussian-plane variant's
    * java.util.Random stream is JVM-only). Hyperplane j is the ±1 vector
    * with component d = parity of (aⱼ·d + bⱼ) mod P (the shared `affine`
    * families); signature bit j = sign of a LEFT-FOLD dot product over
    * the embedding cast to double — both engines fold left, so the fp
    * sums are identical. Candidates share one 8-bit sub-band of the
    * 16-bit signature; exact cosine ≥ threshold confirms (same
    * expression-vs-list_dot_product parity the q22 oracle proves).
    *
    * Rademacher (±1) hyperplanes satisfy the same sign-LSH property as
    * Gaussian ones in expectation (Achlioptas-style sparse projections);
    * 16 bits / 2 bands is sized for ~10⁴ vectors — at larger n widen the
    * signature exactly as embeddingNearDupLSH's scaladoc prescribes.
    * Output: (id_a, id_b) with id_a < id_b.
    */
  def hyperplaneLshPortable(emb: DataFrame, threshold: Double,
                            numPlanes: Int = 16, bandBits: Int = 8): DataFrame = {
    require(numPlanes <= affine.length && numPlanes % bandBits == 0)
    val numBands = numPlanes / bandBits
    val bandMask = (1L << bandBits) - 1L
    val dots = (0 until numPlanes).map { j =>
      val (a, b) = affine(j)
      aggregate(sequence(lit(1), size(col("embedding"))), lit(0.0),
        (acc, d) => acc +
          when(((lit(a) * d + lit(b)) % lit(P)) % 2L === 1L, lit(1.0)).otherwise(lit(-1.0)) *
            element_at(col("embedding"), d).cast("double"))
    }
    val sigExpr = (0 until numPlanes)
      .map(j => when(dots(j) > 0.0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    // id-only candidates, exactly as embeddingNearDupLSH: nothing heavier
    // than (band, bits, vec_id) crosses the band exchange; the verification
    // join fetches the embeddings for the (small) candidate set only
    val sig = emb.select(col("vec_id"), sigExpr.as("sig"))
    val banded = sig.select(col("vec_id"),
      explode(array((0 until numBands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), bandBits * b).bitwiseAND(lit(bandMask)).as("bits"))
      }: _*)).as("bb"))
      .select(col("vec_id"), col("bb.band"), col("bb.bits"))
    val a = banded.select(col("vec_id").as("id_a"), col("band"), col("bits"))
    val b = banded.select(col("vec_id").as("id_b"), col("band"), col("bits"))
    val candidates = a.join(b, Seq("band", "bits"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
      .observe(s"dedup_candidates_${obsCounter.incrementAndGet()}",
        count(lit(1)).as("n_candidates"))
    val ea = emb.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
    val eb = emb.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
    candidates.join(ea, Seq("id_a")).join(eb, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.VectorExpressions.cosineSim(col("ea"), col("eb")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .select("id_a", "id_b")
  }

  def embeddingNearDup(emb: DataFrame, threshold: Double): DataFrame = {
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.VectorExpressions.cosineSim(col("ea"), col("eb")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Span-level duplication statistics — the document-internal analog of
    * substring dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): for each document, the fraction of its
    * distinct k-word spans (overlapping word shingles, like B8's shingle
    * machinery but span-sized) that also occur in at least one OTHER
    * document. High shared_frac flags boilerplate / templated /
    * near-copied text that whole-document dedup (q14/q20/q21) misses
    * because the surrounding words differ.
    *
    * Scale shape: spans are md5-digested IN-ROW (array ops, no shuffle),
    * so only (doc_id, 32-hex digest) pairs ever move — the text itself is
    * scanned once and never shuffled. Two map-side-combinable aggregates
    * (per-span doc count; per-doc shared count) plus one digest-keyed
    * join; a boilerplate span shared by millions of docs is a hot key on
    * that join, which AQE skew-split handles (the per-span count side is
    * 1 row per digest, broadcastable in most regimes anyway). Docs with
    * fewer than k tokens surface with n_spans = 0 rather than vanishing.
    *
    * Output: (doc_id, n_spans, n_shared, shared_frac) — n_spans counts
    * DISTINCT spans per doc, shared_frac rounded to 4 decimals.
    */
  /** Span-level dedup ACTION — the transform behind `spanDupStats`'s
    * report (the CCNet/RefinedWeb substring-removal step): every token
    * covered by at least one SHARED k-span (a span whose digest occurs in
    * ≥ 2 distinct documents) is REMOVED from the document; the kept
    * remainder is emitted as scalars — token counts plus an md5 of the
    * kept text — so the rewrite is oracle-able without ever comparing
    * full text columns.
    *
    * Scale shape: span digesting is in-row (q80's discipline — the text
    * never feeds the digest aggregates); the shared-span set is id-only
    * (digest → ≥2-doc flag); per-doc shared START POSITIONS come back as
    * one int-array per affected doc, joined onto the corpus by doc_id —
    * ONE corpus exchange (the q76 rule), after which the mask is a pure
    * in-row higher-order filter (positions i with a shared start in
    * [i−k+1, i] drop). Cost of the in-row mask is O(tokens × shared
    * starts) per doc — fine while shared spans are sparse; a doc that is
    * ~all boilerplate degrades gracefully (its own length bounds the
    * work). Span digests stay md5 (32-hex) rather than xxhash64's 8
    * bytes: DuckDB has no xxhash64, and the oracle must replay the digest
    * bit-for-bit — the 4× wider shuffle unit is the price of a
    * cross-engine-verifiable pipeline (documented trade, PLANS.md q85).
    *
    * Output: (doc_id, n_tokens, n_kept, n_removed, kept_hash), with
    * n_kept + n_removed = n_tokens by construction (spec-pinned) and
    * kept_hash = md5 of the space-joined kept tokens (md5('') for a doc
    * masked to nothing — distinguishable from an originally-empty doc by
    * n_tokens).
    */
  def maskSharedSpans(docs: DataFrame, k: Int = 5): DataFrame = {
    require(k >= 1, s"span width must be >= 1, got $k")
    val ts = org.apache.spark.sql.functions.filter(
      split(trim(lower(col("text"))), "\\s+"), t => length(t) > 0)
    val spans = when(size(ts) >= k,
      transform(sequence(lit(0), size(ts) - k),
        i => md5(array_join(slice(ts, i + 1, lit(k)), " "))))
      .otherwise(array().cast("array<string>"))
    // ALL start positions (not distinct spans): a span repeated within
    // one doc must mask every occurrence once it is shared
    val starts = docs.select(col("doc_id"),
      posexplode(spans).as(Seq("i", "h")))
    val shared = starts.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("h"))
    val sharedStarts = starts.join(shared, "h")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("i"))).as("ss"))
    docs.repartition(col("doc_id"))
      .join(sharedStarts, Seq("doc_id"), "left")
      .select(col("doc_id"), ts.as("t"),
        coalesce(col("ss"), array().cast("array<int>")).as("ss"))
      .select(col("doc_id"), col("t"), col("ss"),
        org.apache.spark.sql.functions.filter(col("t"),
          (t, i) => !exists(col("ss"),
            s => i >= s && i <= s + lit(k - 1))).as("kept"))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        (size(col("t")) - size(col("kept"))).cast("long").as("n_removed"),
        md5(array_join(col("kept"), " ")).as("kept_hash"))
  }

  def spanDupStats(docs: DataFrame, k: Int = 5): DataFrame = {
    require(k >= 1, s"span width must be >= 1, got $k")
    val ts = split(trim(lower(col("text"))), "\\s+")
    // overlapping k-word spans, digested per row; sequence() would
    // descend for size < k, hence the guard to an empty array
    val spans = when(size(ts) >= k,
      transform(sequence(lit(0), size(ts) - k),
        i => md5(array_join(slice(ts, i + 1, lit(k)), " "))))
      .otherwise(array().cast("array<string>"))
    val pairs = docs
      .select(col("doc_id"), explode(array_distinct(spans)).as("h"))
    val spanDocs = pairs.groupBy(col("h"))
      .agg(count(lit(1)).as("n_docs"))
    val perDoc = pairs.join(spanDocs, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum((col("n_docs") >= 2).cast("long")).as("n_shared"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        round(coalesce(col("n_shared").cast("double") / col("n_spans"), lit(0.0)), 4)
          .as("shared_frac"))
  }
}
