package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over `documents`
  * (north-star extensions). All formulas are pure column arithmetic so
  * every one is DuckDB-oracle-able; no UDFs — everything stays inside
  * whole-stage codegen.
  */
object TextOps {

  /** Join strategies for the vocab-sized side of `tfidfTopTerm` /
    * `unigramLogProb` (the df / unigram-count table keyed on `term`).
    *
    * `Broadcast` is right whenever the vocabulary fits an executor
    * broadcast — every benched regime here. At true web-corpus scale
    * Heaps' law puts the vocabulary in the billions of uniques, where the
    * broadcast hint is an executor OOM, not a plan choice: `Shuffle`
    * forces a shuffle-hash join on `term` instead. Its honest cost: the
    * (doc, term)-grain tf side re-exchanges keyed on term — a
    * corpus-token-sized shuffle the broadcast path avoids — with AQE
    * skew-split absorbing hot terms; that is the unavoidable price once
    * the vocab side cannot broadcast (measured: VocabProbe, README).
    * `Auto` probes
    * `approx_count_distinct(term)` on the (persisted) vocab aggregate and
    * picks sides at `AutoBroadcastMaxTerms` — the probe costs one
    * vocab-sized pass that the persist immediately amortizes into the
    * main join. Both strategies are hash-identical by construction (same
    * rows, different physical join), spec-pinned in TrainingPrepSpec.
    */
  object VocabJoin {
    val Broadcast = "broadcast"
    val Shuffle = "shuffle"
    val Auto = "auto"
    /** Auto switches to the shuffle join above this estimated vocab size:
      * ~4M terms × (term + count) ≈ low hundreds of MB broadcast — the
      * practical executor ceiling.
      */
    val AutoBroadcastMaxTerms = 4L * 1000 * 1000
  }

  /** `tf ⋈ vocab` on `term` under the selected strategy (see VocabJoin). */
  private def joinVocab(tf: DataFrame, vocab: DataFrame, strategy: String,
      autoMaxTerms: Long): DataFrame = strategy match {
    case VocabJoin.Broadcast => tf.join(broadcast(vocab), "term")
    case VocabJoin.Shuffle => tf.join(vocab.hint("shuffle_hash"), "term")
    case VocabJoin.Auto =>
      val v = vocab.persist()
      val est = v.agg(approx_count_distinct(col("term"))).head().getLong(0)
      if (est <= autoMaxTerms) tf.join(broadcast(v), "term")
      else tf.join(v.hint("shuffle_hash"), "term")
    case other => throw new IllegalArgumentException(
      s"unknown vocab join strategy '$other' — use one of " +
        s"${VocabJoin.Broadcast}/${VocabJoin.Shuffle}/${VocabJoin.Auto}")
  }

  private def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count; 0 for blank text. (Measured alternative:
    * `regexp_count(trim, "\s+") + 1` avoids materializing the token
    * array but is only ~8% faster at 20M rows — TokenProbe — so the
    * split form stays, matching the oracle's `string_split_regex`
    * shape literally.)
    */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(tokens(text)).cast("long"))

  /** Quality-score features + composite score:
    * n_tokens, avg token length, alpha ratio, punctuation ratio, stopword
    * ratio, and a [0,1] composite. Deterministic arithmetic only.
    */
  def qualityFeatures(docs: DataFrame): DataFrame = {
    val t = col("text")
    val nChars = length(t).cast("double")
    val nonWs = length(regexp_replace(t, "\\s", "")).cast("double")
    val nTokens = tokenCount(t)
    val alpha = length(regexp_replace(t, "[^A-Za-z]", "")).cast("double")
    val punct = length(regexp_replace(t, "[^.,;:!?]", "")).cast("double")
    val stop = regexp_count(t, lit("\\b(the|a|of|and|to|in|is)\\b")).cast("double")
    docs.select(
      col("doc_id"),
      nTokens.as("n_tokens"),
      round(nChars, 1).as("n_chars_d"),
      round(when(nTokens > 0, nonWs / nTokens).otherwise(0.0), 4).as("avg_tok_len"),
      round(when(nChars > 0, alpha / nChars).otherwise(0.0), 4).as("alpha_ratio"),
      round(when(nChars > 0, punct / nChars).otherwise(0.0), 4).as("punct_ratio"),
      round(when(nTokens > 0, stop / nTokens).otherwise(0.0), 4).as("stop_ratio"))
  }

  /** N-gram-heuristic language ID: marker-word hit counts per language,
    * argmax with deterministic tie-break (en > es > de > fr > unknown).
    * Deliberately simple + SQL-expressible (the reference has no text
    * surface; this is the pipeline extension).
    */
  def langId(text: Column): Column = {
    val en = regexp_count(text, lit("\\b(the|and|of|is|to|with)\\b"))
    val es = regexp_count(text, lit("\\b(el|la|de|que|los|una)\\b"))
    val de = regexp_count(text, lit("\\b(der|die|das|und|ist|nicht)\\b"))
    val fr = regexp_count(text, lit("\\b(le|la|les|des|est|une)\\b"))
    val mx = greatest(en, es, de, fr)
    when(mx === 0, lit("unknown"))
      .when(en === mx, lit("en"))
      .when(es === mx, lit("es"))
      .when(de === mx, lit("de"))
      .otherwise(lit("fr"))
  }

  /** BPE-ish token count: alphanumeric runs and individual non-space
    * symbols counted separately — the pre-tokenization split BPE
    * vocabularies assume, as a portable regex (same count in DuckDB's
    * regexp_extract_all). A truer proxy for LLM token cost than
    * whitespace words: punctuation and digit runs count on their own.
    */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]")).cast("long")

  /** Repetition signals (the Gopher-style quality filters): the fraction
    * of all token occurrences taken by the single most frequent token,
    * and the fraction of all bigram occurrences taken by the most
    * frequent bigram. High values flag boilerplate/spam for pipeline
    * filtering. Two explode→count aggregations (map-side combinable — the
    * canonical word-count shape, linear at any scale) joined per doc;
    * docs with <2 tokens get top_bigram_frac 0.
    * Output: (doc_id, n_tokens, top_word_frac, top_bigram_frac).
    */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    val toks = split(trim(lower(col("text"))), "\\s+")
    val words = docs.select(col("doc_id"), explode(toks).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("mx"), sum(col("n")).as("tot"))
    // adjacent-token bigrams; the token array is bound as a lambda var
    // (1-element-array transform) so element_at reads the bound value
    // instead of re-splitting per element (see Dedup.shingleHashes)
    val bigramArr = flatten(transform(array(toks), ts =>
      transform(sequence(lit(0), size(ts) - 2),
        i => concat(element_at(ts, i + 1), lit(" "), element_at(ts, i + 2)))))
    val bigrams = docs.filter(size(toks) >= 2)
      .select(col("doc_id"), explode(bigramArr).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("mxb"), sum(col("n")).as("totb"))
    words.join(bigrams, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("tot").cast("long").as("n_tokens"),
        (col("mx").cast("double") / col("tot")).as("top_word_frac"),
        coalesce(col("mxb").cast("double") / col("totb"), lit(0.0)).as("top_bigram_frac"))
  }

  /** Content fingerprint: md5 of normalized text (lowercase, collapsed
    * whitespace) — stable across engines, so exact-dup detection can run
    * on the 32-byte digest instead of the full text at 100 TB.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Rolling polynomial hash of the normalized text (base 131, mod 1e9+7 —
    * modular so the arithmetic is portable: DuckDB raises on i64 overflow
    * where the JVM wraps) — a cheap non-cryptographic fingerprint, as a
    * native codegen expression (identical arithmetic to the DuckDB
    * `list_reduce` oracle).
    */
  def rollingHash(text: Column): Column = {
    val norm = regexp_replace(lower(trim(text)), "\\s+", " ")
    graft.functions.TextExpressions.polyHash(norm, 131L, 1000000007L)
  }

  /** Per-document top TF-IDF term (the keyword-extraction / relevance
    * primitive): tf·ln(N/df) over whitespace tokens, scored per
    * (doc, term), argmax per doc with a deterministic (rounded-score
    * desc, term asc) order. The score is rounded to 4 decimals BEFORE the
    * argmax so last-ulp `ln` differences between engines cannot flip the
    * winner — the same cross-engine float discipline as q17's ratios.
    *
    * Scale shape (round 9, measured at 10M docs — the third formulation;
    * the first two were A/B-measured by the retired `TfidfProbe`):
    * the whole pipeline hangs off ONE corpus exchange,
    * `repartition(doc_id)`, and the TERM never keys a heavy exchange at
    * all — skew-proof by construction ("the" ≈ every doc costs nothing
    * anywhere). Downstream of that exchange everything is
    * partition-local: the (doc, term) tf aggregate needs
    * ClusteredDistribution(doc_id, term), which hash(doc_id) satisfies
    * (subset rule) — no second exchange; the per-doc argmax is a
    * `groupBy(doc_id).min_by(payload, (−tfidf, term))` whose partial
    * aggregation collapses each doc to ONE candidate before the
    * (already-satisfied) distribution check — no window, no sort, no
    * rank. df is computed from the RAW scan as
    * `explode(array_distinct(tokens))` — per-doc distinctness is an
    * in-row array op, so the term aggregate partial-combines to ≤|vocab|
    * rows per task and its exchange is vocab-sized, then broadcasts back
    * onto tf. N is a broadcast 1-row scalar.
    *
    * Why not the alternatives, with 10M-doc numbers (same host, fresh
    * JVMs): a COUNT WINDOW over tf partitioned by term has no map-side
    * combine — the hottest term's whole postings list serializes through
    * ONE task (uniform-vocab r8 smoke: 124 s). The round-10 Zipfian A/B
    * (TfidfProbe, head term in ~87% of docs) shows the honest shape of
    * that trade: on local[32] the window is still AHEAD (19.4 s vs
    * 61.3 s at 2M docs) because the skew penalty scales with cluster
    * WIDTH, not corpus size — one hot task is only ~3× the mean of 32
    * tasks, but on 1000 executors it caps the stage at one core's
    * throughput over ~hot-fraction × corpus rows (100% for a true
    * "the"). This plan pays ~3× total work that parallelizes perfectly;
    * the window pays a serial critical path that does not — the right
    * trade for the cluster regime this engine targets, the wrong one
    * for a single node. `tf.groupBy(term).count()` joined back avoids
    * the hot task but pays 2-3 full (doc, term) exchanges plus a
    * recomputed tf subtree (841 s shipped-join / 548 s broadcast-join);
    * this plan: 212 s probe, one corpus exchange, term exchange
    * vocab-sized. At giant-vocab regimes where dfreq itself outgrows a
    * broadcast (billions of uniques under Heaps' law), pass
    * `vocabJoin = VocabJoin.Shuffle` (or `Auto`) — the df join becomes a
    * shuffle-hash join AQE can skew-split and the rest of the plan is
    * unchanged; both strategies are row-identical, spec-pinned.
    * (PerGroupTopK is not usable for the argmax:
    * its tie-break id is LONG, and ties must break on the
    * lexicographically smallest TERM to stay engine-stable; min_by on
    * struct(−tfidf, term) encodes exactly that order.)
    */
  def tfidfTopTerm(docs: DataFrame,
      vocabJoin: String = VocabJoin.Broadcast,
      autoMaxTerms: Long = VocabJoin.AutoBroadcastMaxTerms): DataFrame = {
    val toksCol = tokens(lower(col("text")))
    val parted = docs.repartition(col("doc_id"))
    val tf = parted
      .select(col("doc_id"), explode(toksCol).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = docs
      .select(explode(array_distinct(
        org.apache.spark.sql.functions.filter(toksCol, t => length(t) > 0)))
        .as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = joinVocab(tf, dfreq, vocabJoin, autoMaxTerms)
      .join(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n").cast("double") / col("df")), 4))
    scored.groupBy(col("doc_id"))
      .agg(min_by(struct(col("term"), col("tf"), col("df"), col("tfidf")),
        struct((-col("tfidf")).as("nt"), col("term"))).as("w"))
      .select(col("doc_id"), col("w.term").as("term"), col("w.tf").as("tf"),
        col("w.df").as("df"), col("w.tfidf").as("tfidf"))
  }

  /** Per-document mean unigram log-likelihood under the corpus's own
    * unigram distribution — the cheap stand-in for the KenLM-style
    * perplexity filter every production pipeline runs (CCNet, Gopher):
    * documents whose words are corpus-typical score near the corpus mean;
    * gibberish / OOV-heavy / boilerplate-skewed docs fall in the tails.
    * avg_logprob = (Σ_terms tf·ln(cnt/total)) / n_tokens, natural log.
    *
    * Scale shape = `tfidfTopTerm`'s: one corpus exchange
    * (`repartition(doc_id)`), the (doc, term) tf aggregate partition-local
    * under it; the unigram table is a vocab-sized map-side-combined
    * aggregate broadcast back onto tf, so no term ever keys a corpus-sized
    * exchange ("the" costs nothing anywhere); at giant-vocab regimes the
    * unigram join takes the same `vocabJoin` strategies as
    * `tfidfTopTerm` (see VocabJoin). Float discipline: per-term
    * lp = tf·ln(cnt/total) is bit-stable per engine pair up to `ln`'s last
    * ulp; the per-doc SUM is a left-fold in sorted-term order (the q78
    * fold-order rule) so accumulation order cannot add divergence, and the
    * final mean rounds to 4 decimals (the q76 round-before-compare rule).
    */
  def unigramLogProb(docs: DataFrame,
      vocabJoin: String = VocabJoin.Broadcast,
      autoMaxTerms: Long = VocabJoin.AutoBroadcastMaxTerms): DataFrame = {
    val toksCol = org.apache.spark.sql.functions.filter(
      tokens(lower(col("text"))), t => length(t) > 0)
    val parted = docs.repartition(col("doc_id"))
    val tf = parted
      .select(col("doc_id"), explode(toksCol).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val unigrams = docs
      .select(explode(toksCol).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val total = docs.agg(
      sum(size(toksCol)).cast("double").as("total"))
    val lp = joinVocab(tf, unigrams, vocabJoin, autoMaxTerms)
      .join(broadcast(total))
      .select(col("doc_id"), col("term"), col("tf"),
        (col("tf").cast("double") *
          log(col("cnt").cast("double") / col("total"))).as("lp"))
    lp.groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        aggregate(sort_array(collect_list(struct(col("term"), col("lp")))),
          lit(0.0), (acc, s) => acc + s.getField("lp")).as("sum_lp"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("sum_lp") / col("n_tokens").cast("double"), 4)
          .as("avg_logprob"))
  }
}
