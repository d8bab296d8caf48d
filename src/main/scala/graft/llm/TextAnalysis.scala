package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.PolyHash

/** Text-analysis operators for training-data pipelines (SURVEY.md
  * §2.11): tokenization, language ID, quality scoring, token counting,
  * fingerprinting. All pure Column expressions (whole-stage codegen,
  * no UDFs) so they run at scan speed over 100 TB — the only shuffle
  * any of these needs is the caller's own aggregation, if any.
  */
object TextAnalysis {

  /** Whitespace tokens, empties dropped. */
  def tokens(text: Column): Column =
    filter(split(text, " "), w => w =!= "")

  /** Per-language stopword profiles for the n-gram/stopword language
    * heuristic. Small on purpose: broadcast as literals into codegen.
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "nicht", "mit"),
    "en" -> Seq("a", "the", "of", "and", "to", "in", "is", "it"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "que", "pour"))

  /** Number of profile-word hits (duplicates counted) for one profile
    * — native one-pass counter (graft.functions.ProfileHits).
    */
  def profileHits(text: Column, words: Seq[String]): Column =
    graft.functions.ProfileHits(text, words)

  /** Predicted language: argmax of profile hits, ties broken by
    * profile order (de < en < fr), no hits ⇒ "und".
    */
  def langId(text: Column): Column = {
    val scores = langProfiles.map { case (lang, ws) => lang -> profileHits(text, ws) }
    // fold: keep (bestLang, bestScore); strict > so earlier profile wins ties
    val (bestLang, bestScore) = scores.tail.foldLeft((lit(scores.head._1), scores.head._2)) {
      case ((bl, bs), (lang, sc)) =>
        (when(sc > bs, lit(lang)).otherwise(bl), when(sc > bs, sc).otherwise(bs))
    }
    when(bestScore > 0, bestLang).otherwise(lit("und"))
  }

  /** doc stats: token count, distinct tokens, avg/max token length.
    * One native pass (graft.functions.TokenStats) — identical values
    * to the HOF chain it replaces (empty text ⇒ null avg/max, as
    * before: Spark division by zero yields null and the max is
    * null-guarded).
    */
  def stats(df: DataFrame, textCol: String): DataFrame = {
    val st = graft.functions.TokenStats(col(textCol))
    df.select(col("doc_id"), st.as("st"))
      .select(col("doc_id"),
        col("st.n_tokens").as("n_tokens"),
        col("st.n_uniq").as("n_uniq"),
        (col("st.sum_len").cast("double") / col("st.n_tokens")).as("avg_token_len"),
        when(col("st.n_tokens") > 0, col("st.max_len")).as("max_token_len"))
  }

  /** Quality heuristic: 3 binary criteria → score 0..3, pass = 3.
    * Mirrors the length/uniqueness/word-shape filters used by public
    * LLM-corpus pipelines (C4-style heuristics).
    */
  def quality(df: DataFrame, textCol: String): DataFrame = {
    val st = graft.functions.TokenStats(col(textCol))
    df.select(col("doc_id"), st.as("st"))
      .select(col("doc_id"),
        col("st.n_tokens").as("n_tokens"),
        (col("st.sum_len").cast("double") / col("st.n_tokens")).as("avg_len"),
        (col("st.n_uniq").cast("double") / col("st.n_tokens")).as("uniq_ratio"))
      .select(col("doc_id"),
        (col("n_tokens") >= 20 && col("n_tokens") <= 1000).cast("int").as("len_ok"),
        (col("avg_len") >= 2.0 && col("avg_len") <= 12.0).cast("int").as("shape_ok"),
        (col("uniq_ratio") >= 0.2).cast("int").as("uniq_ok"))
      .select(col("doc_id"), col("len_ok"), col("shape_ok"), col("uniq_ok"),
        (col("len_ok") + col("shape_ok") + col("uniq_ok")).as("quality_score"))
  }

  /** BPE-ish subword count: runs of letters, runs of digits, single
    * punctuation — the pre-tokenization regex shape used by GPT-2-like
    * tokenizers, kept to a dialect-portable character-class subset.
    */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"))

  /** Gopher-style repetition metrics (Rae et al. 2021 §A1.1: docs
    * dominated by a few repeated n-grams are boilerplate/spam):
    * per-doc top-bigram fraction, duplicate-bigram fraction, and
    * duplicate-token fraction. The integer statistics come from ONE
    * native codegen'd pass per row (graft.functions.RepetitionStats)
    * — no shuffle, no materialization, scan speed at 100 TB. (Two
    * earlier formulations are preserved in git history: the naive
    * count-each-distinct HOF chain, 9.6 s at sf0.1, and a sort +
    * run-length HOF pass that additionally needed a repartition +
    * lineage cut to even run parallel, ~1.9 s; the native pass does
    * ~0.5 s with no crutch.) Fractions are exact-int divisions →
    * identical double bits across engines; docs with < 2 tokens
    * yield nulls.
    */
  def repetition(df: DataFrame, textCol: String): DataFrame = {
    val st = graft.functions.RepetitionStats(col(textCol), 2)
    df.select(col("doc_id"), st.as("st"))
      .select(col("doc_id"),
        col("st.n_grams").as("n_bigrams"),
        when(col("st.n_grams") > 0,
          col("st.top_cnt").cast("double") / col("st.n_grams").cast("double"))
          .as("top_bigram_frac"),
        when(col("st.n_grams") > 0,
          col("st.dup_occ").cast("double") / col("st.n_grams").cast("double"))
          .as("dup_bigram_frac"),
        when(col("st.n_tokens") > 0,
          lit(1.0) - col("st.n_distinct_tokens").cast("double")
            / col("st.n_tokens").cast("double"))
          .as("dup_token_frac"))
  }

  /** Pattern scrubbing (PII/boilerplate removal shape): replace every
    * match of `pattern` with `replacement` and count the matches —
    * the email/URL/id-scrub primitive of a production corpus cleaner,
    * as two codegen'd regex expressions (single scan, no UDF).
    */
  def scrub(df: DataFrame, textCol: String, pattern: String,
      replacement: String): DataFrame =
    df.select(col("doc_id"),
      regexp_replace(col(textCol), pattern, replacement).as("clean_text"),
      regexp_count(col(textCol), lit(pattern)).as("n_scrubbed"))

  /** Canonical text normalization (the pre-dedup / pre-tokenize pass
    * every corpus pipeline runs first): lowercase, strip everything
    * outside [a-z0-9 ], collapse runs of spaces, trim. Three chained
    * codegen'd regex/string expressions — one scan, no UDF; the
    * RE2-safe character classes mean the DuckDB oracle applies the
    * exact same rules.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** Deterministic document fingerprint (polynomial rolling hash via a
    * codegen'd native expression).
    */
  def fingerprint(text: Column): Column = PolyHash(text)

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003 —
    * the MOSS algorithm): hash every positional k-gram of the token
    * stream, then from each window of `w` consecutive hashes keep the
    * minimum (rightmost on ties). The selected (position, hash) pairs
    * are the document's fingerprint set, with the paper's guarantee:
    * any token-level match of length ≥ w + k − 1 between two documents
    * shares at least one selected fingerprint — the local-selection
    * substring-dedup primitive that whole-document hashing
    * ([[fingerprint]]) and set-level MinHash both miss.
    *
    * Determinism without a struct-ordered window: the per-gram key
    * `fp · 2^20 + (2^20 − 1 − pos)` packs (hash asc, position desc)
    * into one BIGINT, so a plain `min` over a bounded ROWS frame picks
    * exactly the rightmost minimal hash; selected keys are decoded
    * after the distinct. fp < 10^9+7 keeps `fp · 2^20 < 2^50` exact in
    * any 64-bit engine, and positions are capped far above any real
    * document's gram count (guarded).
    *
    * Scale shape: one shuffle on doc_id for the window (per-doc
    * bounded frame of `w` rows — never a global window), one partial-
    * aggregated distinct on (doc_id, key). Gram hashing is the codegen'd
    * [[graft.functions.PolyHash]] over the exploded grams; nothing
    * touches the driver.
    */
  def winnow(df: DataFrame, textCol: String, idCol: String,
      k: Int, w: Int): DataFrame = {
    val PosCap = 1L << 20
    // The whole selection runs INSIDE the row via the native
    // [[graft.functions.WinnowKeys]] pass (tokenize → gram hash →
    // packed key → monotonic-deque window minima → distinct), and only
    // the SELECTED fingerprints explode. Two earlier formulations live
    // in git history: explode-every-gram + ROWS-frame window (shuffled
    // the entire corpus gram stream on doc_id — 3.5 s at sf0.1) and an
    // interpreted HOF chain (zero-shuffle but lambda-interpreted
    // hashing, 37 s). The native pass is both: scan-speed codegen,
    // zero shuffles — the correct 100 TB shape. Values bit-identical:
    // same packed (hash asc, pos desc) key, same clipped single window
    // for docs with fewer than w grams.
    df.select(col(idCol).as("doc_id"),
        explode(graft.functions.WinnowKeys(col(textCol), k, w)).as("wkey"))
      .select(col("doc_id"),
        (lit(PosCap - 1) - col("wkey") % lit(PosCap)).cast("int").as("pos"),
        expr(s"wkey div $PosCap").as("fp"))
  }

  /** TF-IDF top-k terms per document — the classic lexical-relevance
    * signal (keyword extraction, quality filtering, near-dup feature
    * weighting). tf = term count in the doc; df = number of docs
    * containing the term; score = tf · ln(N/df).
    *
    * Scale shape: two hash-shuffles on bounded keys — (doc, term) for
    * tf, term for df (both with map-side partial aggregation) — then a
    * shuffle join on term (the document-frequency side is corpus-
    * vocabulary sized: NOT broadcast) and a window partitioned by doc.
    * No global sort, no driver state; N comes from a 1-row aggregate
    * cross-joined in (Catalyst broadcasts it).
    *
    * Determinism: libm `ln` differs between JVM and DuckDB by 1 ulp on
    * ~0.1% of inputs (measured), so the score is quantized to exact
    * integers — idf_micro = floor(1e6·ln(N/df)) (BIGINT, verified
    * bit-identical across engines for every N/df at gate scales) and
    * score_micro = tf · idf_micro. Integer ordering has no float-tie
    * ambiguity; residual ties rank by term ascending.
    */
  def tfIdfTopK(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    val terms = df.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df_t"))
    val n = df.select(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_micro").desc, col("term").asc)
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("idf_micro",
        floor(log(col("n_docs").cast("double") / col("df_t").cast("double"))
          * lit(1000000.0)).cast("long"))
      .withColumn("score_micro", col("tf") * col("idf_micro"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"),
        col("df_t"), col("score_micro"))
  }

  /** Corpus-trained unigram language-model score per document — the
    * CCNet-style quality/perplexity primitive: documents whose tokens
    * are improbable under the corpus's own unigram distribution score
    * high (gibberish, boilerplate soup), well-formed prose scores low;
    * pipelines bucket on it to keep/head/middle/discard. Emits exact
    * integer sums (mean NLL = nll_micro_sum / n_tokens / 1e6;
    * perplexity = exp of that) so the gate hash is bit-stable:
    * per-term NLL is quantized like [[tfIdfTopK]]'s idf —
    * nll_micro(t) = floor(1e6·ln(T/c_t)) with c_t the corpus count of
    * t and T total corpus tokens.
    *
    * Scale shape: shuffles on (doc, term) for tf and on term for the
    * corpus counts (both map-side combined), one shuffle join on term
    * (vocabulary-sized side, NOT broadcast), one final doc aggregation;
    * T rides a broadcast 1-row aggregate derived from the counts (no
    * extra corpus scan). Empty docs keep a row with zero sums via the
    * left join — the "undefined quality" marker a filter stage must
    * decide on explicitly.
    */
  def unigramLogProb(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val terms = df.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val cnt = tf.groupBy("term").agg(sum("tf").as("c_t"))
    val total = cnt.select(sum("c_t").as("t_total"))
    val perDoc = tf.join(cnt, "term")
      .crossJoin(broadcast(total))
      .withColumn("nll_micro",
        floor(log(col("t_total").cast("double") / col("c_t").cast("double"))
          * lit(1000000.0)).cast("long"))
      .groupBy("doc_id")
      .agg(sum("tf").as("toks"), sum(col("tf") * col("nll_micro")).as("nll"))
    df.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("toks"), lit(0L)).as("n_tokens"),
        coalesce(col("nll"), lit(0L)).as("nll_micro_sum"))
  }

  /** BM25 keyword retrieval: top-`k` documents per query under the
    * Okapi BM25 ranking (idf · saturated-tf · length normalization) —
    * the keyword leg of a retrieval/RAG pipeline and the standard
    * "find training docs about X" tool.
    *
    * Determinism: idf is floor-quantized to micro units (the
    * [[tfIdfTopK]] rule — ln is the one libm call, quantized so a
    * 1-ulp drift can't flip a rank); the tf/length factor uses only
    * IEEE +,-,*,/ which are bit-identical in any engine when the
    * operation order is mirrored; per-term contributions are floored
    * to longs BEFORE the per-document sum, so the aggregation is
    * integer-exact and order-independent. Ties break by doc_id.
    *
    * Scale shape: one corpus scan builds (doc, term, tf) and doc
    * lengths; the QUERY term set (small) is broadcast and prunes the
    * postings before df/length joins, so only candidate postings
    * shuffle; corpus stats ride a broadcast 1-row aggregate; the
    * final top-k window partitions by query id (bounded). A stopword
    * query term makes its posting list long — standard BM25 practice
    * is to drop ultra-high-df terms query-side; the df column is
    * emitted per contribution for that decision.
    *
    * The plan derives tf/lens/stats from the corpus scan per consumer;
    * a production deployment materializes the `(doc, term, tf)`
    * relation once as a table bucketed by term — the classic index
    * build — and the per-query cost collapses to the broadcast-pruned
    * candidate fetch plus metadata-scale stats.
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame, textCol: String,
      idCol: String, qIdCol: String, qTextCol: String, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // doc length = Σ tf — derived from the (much smaller) tf relation,
    // not a second scan of the corpus text
    val lens = tf.groupBy("doc_id").agg(sum("tf").as("len_d"))
    val stats = lens.agg(count(lit(1)).as("n_docs"),
      sum("len_d").as("tot_len"))
    val qterms = queries.select(col(qIdCol).as("query_id"),
      explode(tokens(col(qTextCol))).as("term")).distinct()
    val cand = tf.join(broadcast(qterms), "term")
    val dfreq = cand.select("term", "doc_id").distinct()
      .groupBy("term").agg(count(lit(1)).as("df_t"))
    val contrib = cand
      .join(lens, "doc_id")
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf_micro",
        floor(log(lit(1.0) + (col("n_docs") - col("df_t") + lit(0.5))
          / (col("df_t") + lit(0.5))) * lit(1000000.0)).cast("long"))
      .withColumn("tf_factor",
        (col("tf") * lit(k1 + 1)) / (col("tf") + lit(k1)
          * (lit(1 - b) + lit(b) * col("len_d")
            / (col("tot_len").cast("double") / col("n_docs")))))
      .withColumn("contrib_micro",
        floor(col("idf_micro").cast("double") * col("tf_factor")).cast("long"))
    val scored = contrib.groupBy("query_id", "doc_id")
      .agg(sum("contrib_micro").as("score_micro"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_micro").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "score_micro")
  }

  /** Hybrid retrieval with reciprocal-rank fusion (Cormack, Clarke &
    * Buettcher, SIGIR'09 — the standard way modern search stacks
    * combine a lexical index with a vector index): run [[bm25TopK]]
    * over the text and an exact cosine top-k over the embeddings for
    * the same query ids, then fuse per (query, doc) as
    * Σ 1/(rrfK + rank) over the legs that retrieved it. The corpus is
    * the ids carrying BOTH a text and a vector (semi-joins); queries
    * are the ids ≡ 0 mod `qMod`, probing with their own first-3-token
    * text and their own embedding.
    *
    * Determinism: RRF contributions are exact integer divisions
    * (`1e9 div (rrfK + rank)`) summed as longs — no float fusion; leg
    * ranks are already deterministic (bm25's quantized idf, the ANN
    * gate's bit-stable cosine), ties break on doc_id. The dense leg
    * excludes the query's own vector (cosine 1 with itself — noise);
    * the lexical leg keeps self-hits (the 3-token probe is a genuine
    * query, not the document). A leg that misses a doc contributes 0,
    * and its rank surfaces as −1.
    *
    * Scale shape: both legs are the already-scale-shaped operators
    * (broadcast-pruned postings; broadcast query vectors); fusion
    * touches only ≤ 2·kLeg·|Q| leg rows — a full-outer equi-join on
    * (query, doc) plus a per-query window, all metadata-scale.
    */
  def hybridRrf(docs: DataFrame, emb: DataFrame, textCol: String,
      docIdCol: String, vecIdCol: String, qMod: Long, kLeg: Int, k: Int,
      rrfK: Int = 60): DataFrame = {
    val d = docs.join(emb.select(col(vecIdCol).as("jid")),
      col(docIdCol) === col("jid"), "left_semi")
    val e = emb.join(docs.select(col(docIdCol).as("jid")),
      col(vecIdCol) === col("jid"), "left_semi")
    val queriesTxt = d.filter(col(docIdCol) % qMod === 0)
      .select(col(docIdCol).as("query_id"),
        array_join(slice(tokens(col(textCol)), 1, 3), " ").as("qtext"))
    val lex = bm25TopK(d, queriesTxt, textCol, docIdCol, "query_id",
        "qtext", kLeg)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
    val dense = Similarity.bruteForceTopK(
        e.filter(col(vecIdCol) % qMod === 0), e, kLeg)
      .select(col("q_vec_id").as("query_id"), col("n_vec_id").as("doc_id"),
        col("rank").as("dense_rank"))
    val fused = lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_micro",
        coalesce(expr(s"1000000000 div ($rrfK + lex_rank)"), lit(0L)) +
          coalesce(expr(s"1000000000 div ($rrfK + dense_rank)"), lit(0L)))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_micro").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf_micro"),
        coalesce(col("lex_rank"), lit(-1)).as("lex_rank"),
        coalesce(col("dense_rank"), lit(-1)).as("dense_rank"))
  }

  /** CCNet-style quality bucketing: every document ranked by its mean
    * unigram NLL (from [[unigramLogProb]], integer division so the
    * key is an exact long) and split into `buckets` equal-frequency
    * tiers — head/middle/tail in CCNet's vocabulary; pipelines keep
    * head, re-score middle, drop tail. Token-less documents rank last
    * via an explicit sentinel key (a filter stage must decide on them
    * explicitly, same contract as [[unigramLogProb]]).
    *
    * The exact global rank comes from [[nllRunningSum]] (no global
    * window), and the tier from the rank by ntile's own arithmetic:
    * the first n%k tiers take ⌊n/k⌋+1 rows, the rest ⌊n/k⌋. The
    * (mean, doc_id) order is total, so the result is bit-identical to
    * the single-window form.
    */
  def qualityBuckets(df: DataFrame, textCol: String, idCol: String,
      buckets: Int = 3, nBands: Int = 256): DataFrame =
    nllRunningSum(df, textCol, idCol, nBands, lit(1), "nll_rank", "n")
      .withColumn("q", expr(s"n div $buckets"))
      .withColumn("r", expr(s"n % $buckets"))
      .withColumn("quality_bucket", expr("CAST(IF(nll_rank <= r * (q + 1), " +
        "(nll_rank - 1) div (q + 1) + 1, " +
        "r + (nll_rank - r * (q + 1) - 1) div greatest(q, 1) + 1) AS INT)"))
      .select("doc_id", "n_tokens", "mean_nll_micro", "nll_rank",
        "quality_bucket")

  /** Token-budget corpus selection (the data-mixing step after
    * scoring): walk documents from best to worst quality (mean unigram
    * NLL ascending, doc_id tie-break — the [[qualityBuckets]] order)
    * and select whole documents until the running token total passes
    * `budgetTokens`. The standard "take the best N-billion tokens"
    * curation op; emits every doc with its exact global running total
    * (from [[nllRunningSum]]) and a selected flag so the caller can
    * also inspect the cut line.
    */
  def budgetSelect(df: DataFrame, textCol: String, idCol: String,
      budgetTokens: Long, nBands: Int = 256): DataFrame =
    nllRunningSum(df, textCol, idCol, nBands, col("n_tokens"), "cum_tokens", "n")
      .withColumn("selected", (col("cum_tokens") <= budgetTokens).cast("int"))
      .select("doc_id", "n_tokens", "mean_nll_micro", "cum_tokens", "selected")

  /** Every document's `n_tokens` and mean unigram NLL
    * (`mean_nll_micro`; token-less documents get a sentinel far above
    * any real mean, so they rank last), with the domain as `domain`
    * when `domainCol` is given, plus the exact running `sum(value)`
    * over the (mean NLL, doc_id) order — per domain if given — as
    * `running` and its total as `total` ([[BandedWindow]] over
    * quantile bands of the mean NLL).
    *
    * The scored table is localCheckpoint'ed: it is doc-scale (one row
    * per doc) but its lineage is the whole 3-shuffle NLL chain, and
    * the banding needs three actions over it (the quantile bounds, the
    * band totals, the final job) — materialize once instead of
    * re-running the chain per action (A/B at sf0.1: 2.9 s → 1.2 s).
    */
  private def nllRunningSum(df: DataFrame, textCol: String, idCol: String,
      nBands: Int, value: Column, running: String, total: String,
      domainCol: Option[String] = None): DataFrame = {
    val scored = unigramLogProb(df, textCol, idCol)
      .withColumn("mean_nll_micro",
        when(col("n_tokens") > 0, expr("nll_micro_sum div n_tokens"))
          .otherwise(lit(8000000000000000000L)))
    val per = domainCol.fold(scored)(d => scored.join(
        df.select(col(idCol).as("doc_id"), col(d).as("domain")), "doc_id"))
      .localCheckpoint()
    graft.operators.BandedWindow.runningSum(per,
      graft.operators.BandedWindow.quantileBand(per, "mean_nll_micro", nBands),
      Seq(col("mean_nll_micro"), col("doc_id")), value, running, total,
      domainCol.map(_ => "domain").toSeq)
  }

  /** Bigram upgrade of [[unigramLogProb]]: per-document conditional
    * NLL under a corpus-trained Laplace-smoothed bigram model —
    * NLL(w₂|w₁) = ln((c(w₁·)+V)/(c(w₁w₂)+1)) with c(w₁·) the count of
    * bigrams starting with w₁ and V the unigram vocabulary size. The
    * n-gram step toward CCNet's KenLM scoring: orders above bigram
    * repeat the same shape with longer context keys. Same determinism
    * contract as the unigram form: per-bigram NLL floor-quantized to
    * micro units, integer sums, docs with <2 tokens keep a zero row.
    *
    * Scale shape: one scan explodes bigram occurrences (guarded HOF —
    * `sequence` would run DESCENDING on a 1-token doc), shuffles on
    * (doc, bigram) then bigram then the w₁ context key — all
    * map-side combined; V rides a broadcast 1-row aggregate.
    */
  def bigramLogProb(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val withBigrams = df
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("ws"))
      .select(col("doc_id"), explode(when(size(col("ws")) >= 2,
        expr("transform(sequence(1, size(ws)-1), " +
          "i -> concat(element_at(ws, i), ' ', element_at(ws, i+1)))"))
        .otherwise(array().cast("array<string>"))).as("bg"))
    val tf = withBigrams.groupBy("doc_id", "bg").agg(count(lit(1)).as("tf"))
    val cBig = tf.groupBy("bg").agg(sum("tf").as("c_big"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val cCtx = cBig.groupBy("w1").agg(sum("c_big").as("c_ctx"))
    val vocab = df.select(explode(tokens(col(textCol))).as("term"))
      .agg(countDistinct("term").as("v"))
    val perDoc = tf.join(cBig, "bg").join(cCtx, "w1")
      .crossJoin(broadcast(vocab))
      .withColumn("nll_micro",
        floor(log((col("c_ctx") + col("v")).cast("double")
          / (col("c_big") + lit(1L)).cast("double")) * lit(1000000.0))
          .cast("long"))
      .groupBy("doc_id")
      .agg(sum("tf").as("bgs"), sum(col("tf") * col("nll_micro")).as("nll"))
    df.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("bgs"), lit(0L)).as("n_bigrams"),
        coalesce(col("nll"), lit(0L)).as("nll_micro_sum"))
  }

  /** Mixture accounting per stratum (source × language × …): document
    * and token counts, character mass, and the summed unigram NLL from
    * [[unigramLogProb]] — the bookkeeping a training-mix designer
    * reads before assigning per-domain sampling weights (and after,
    * to audit what a weighted sample actually contained). One extra
    * shuffle on the bounded stratum key.
    */
  def domainMixtureStats(df: DataFrame, textCol: String, idCol: String,
      strataCols: Seq[String]): DataFrame = {
    val per = unigramLogProb(df, textCol, idCol)
    df.select(strataCols.map(col) ++
        Seq(col(idCol).as("doc_id"), length(col(textCol)).as("chars")): _*)
      .join(per, "doc_id")
      .groupBy(strataCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("chars").cast("long")).as("n_chars"),
        sum("n_tokens").as("n_tokens"),
        sum("nll_micro_sum").as("nll_micro_sum"))
  }

  /** Benchmark-contamination detection: for every corpus document, the
    * share of its distinct word `n`-grams that also occur anywhere in
    * the `benchmark` set (the held-out eval/test corpus). The standard
    * pre-training hygiene check (GPT-3 §C, PaLM §7) — documents over
    * the overlap threshold are quarantined before training.
    *
    * Scale shape: benchmark n-grams are distinct-collapsed and
    * broadcast (an eval suite is MBs against a 100 TB corpus); the
    * corpus side is one narrow shingle pass (native codegen'd
    * WordShingles) + explode + broadcast-join + one shuffle on doc_id
    * for the overlap count. Nothing is ever shuffled on the n-gram
    * key for the corpus side.
    *
    * Docs with fewer than `n` words have no n-grams → null fraction
    * (undefined, matching Jaccard-on-empty semantics elsewhere).
    */
  def contaminationNgram(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int,
      threshold: Double = 0.2): DataFrame = {
    val benchGrams = benchmark
      .select(explode(Dedup.shingles(col(textCol), n)).as("gram")).distinct()
    val docGrams = corpus.select(col(idCol).as("doc_id"),
      Dedup.shingles(col(textCol), n).as("grams"))
    val overlap = docGrams
      .select(col("doc_id"), explode(col("grams")).as("gram"))
      .join(broadcast(benchGrams), Seq("gram"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    docGrams.select(col("doc_id"), size(col("grams")).as("n_grams"))
      .join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("overlap_frac",
        when(col("n_grams") > 0,
          col("n_overlap").cast("double") / col("n_grams").cast("double")))
      .withColumn("contaminated",
        (col("overlap_frac") >= threshold).cast("int"))
  }

  /** Model-based quality filtering (the FineWeb-Edu / DCLM pipeline
    * step): linear-classifier inference over hashing-trick bag-of-words
    * features. Each token hashes (PolyHash mod `buckets`) to a feature
    * bucket; the bucket's integer milli-weight is looked up in a
    * weight table folded into codegen as a literal array (exactly how
    * a learned fastText-style model's weights would ship — broadcast
    * once, resident in the generated loop); the document logit is the
    * sum. One narrow scan, zero shuffles, whole-stage codegen — at
    * 100 TB this runs at I/O speed, which is the entire point of
    * linear quality classifiers over transformer scorers.
    *
    * The weights here are a fixed integer hash of the bucket index
    * (standing in for learned coefficients, which a zero-egress build
    * cannot train); every intermediate stays in exact 64-bit integer
    * arithmetic so any engine replays the logits bit-identically.
    */
  def classifierScore(df: DataFrame, textCol: String, idCol: String,
      buckets: Int = 128): DataFrame = {
    val wts = array((0 until buckets).map { j =>
      lit(((j.toLong * 2654435761L + 987654321L) % 1000003L) % 1001L - 500L)
    }: _*)
    val toks = tokens(col(textCol))
    val logit = aggregate(
      transform(toks, t =>
        element_at(wts, (pmod(PolyHash(t), lit(buckets.toLong)) + 1).cast("int"))),
      lit(0L), (acc, x) => acc + x)
    df.select(col(idCol).as("doc_id"), size(toks).cast("long").as("n_tokens"),
        logit.as("logit_milli"))
      .filter(col("n_tokens") > 0)
      .withColumn("keep", col("logit_milli") > 0)
  }

  /** Typed PII detection + redaction (the Dolma/RedPajama scrub step):
    * per-document counts of emails, NANP phone numbers and IPv4
    * addresses, plus the redacted text's length and fingerprint after
    * replacing each class with a typed placeholder. All patterns stay
    * in the shared Java/RE2/DuckDB regex subset ([[scrub]]'s rule) so
    * an oracle replays them verbatim. Pure per-row regex expressions —
    * one scan, zero shuffles, codegen end-to-end.
    */
  val PiiEmail = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PiiPhone = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  val PiiIpv4 = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  def piiDetect(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // order matters: emails first (their domains contain dot-separated
    // digits-free labels, but an IPv4-in-email like user@1.2.3.4 must
    // redact as one email, not an email wrapping an ip), then phones,
    // then bare IPs.
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(col(textCol), PiiEmail, "<EMAIL>"),
        PiiPhone, "<PHONE>"),
      PiiIpv4, "<IP>")
    df.select(col(idCol).as("doc_id"),
      regexp_count(col(textCol), lit(PiiEmail)).as("n_email"),
      regexp_count(col(textCol), lit(PiiPhone)).as("n_phone"),
      regexp_count(regexp_replace(col(textCol), PiiEmail, "<EMAIL>"),
        lit(PiiIpv4)).as("n_ipv4"),
      length(redacted).as("redacted_len"),
      PolyHash(redacted).as("redacted_fp"))
  }

  /** 13-19 digit card-number candidates with optional single space/dash
    * separators between digit groups (the Presidio-style shape).
    */
  val PiiCard = "[0-9](?:[ -]?[0-9]){12,18}"

  /** Luhn checksum validity of a candidate card number (separators
    * stripped): doubled-every-second-digit-from-the-right sum ≡ 0
    * (mod 10). Pure HOF arithmetic — it runs per MATCH (a handful per
    * document at most), not per token, so an interpreted lambda is
    * fine here; the corpus-scale scan cost is the regex, which is
    * codegen'd.
    */
  private def luhnOk(candidate: Column): Column = {
    val ds = regexp_replace(candidate, "[^0-9]", "")
    // digit i (1-based from the right); doubled on even i, minus 9
    // when the doubling carries
    aggregate(sequence(lit(1), length(ds)), lit(0), (acc, i) => {
      val d = substring(ds, (length(ds) - i + 1).cast("int"), lit(1)).cast("int")
      acc + when(i % 2 === 0, when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
    }) % 10 === 0
  }

  /** Credit-card PII detection with Luhn verification: candidates come
    * from one codegen'd regex pass; only Luhn-valid numbers count as
    * PII and are redacted (a 16-digit order id with a bad checksum is
    * NOT a card — regex-only redaction over-scrubs real corpora).
    * Output: (doc_id, n_card, n_lune_rejected, redacted_len,
    * redacted_fp) with `redacted_fp` an order-sensitive fingerprint of
    * the text after every VALID card is replaced by `<CARD>`.
    *
    * Scale shape: single narrow scan, no shuffle; the per-match Luhn
    * filter and the valid-only redaction both run inside the
    * projection.
    */
  def piiCard(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val cands = expr(s"regexp_extract_all($textCol, '$PiiCard', 0)")
    val valid = filter(cands, m => luhnOk(m))
    // redact ONLY Luhn-valid matches: replace each valid candidate
    // literally, longest first so a shorter valid prefix of a longer
    // valid match can't pre-empt it (fold order is deterministic:
    // length desc, then lexicographic)
    val redacted = aggregate(
      array_sort(valid, (a, b) =>
        when(length(a) =!= length(b), length(b) - length(a))
          .otherwise(when(a < b, -1).when(a > b, 1).otherwise(0))),
      col(textCol),
      (acc, m) => call_function("replace", acc, m, lit("<CARD>")))
    df.select(col(idCol).as("doc_id"),
        size(valid).as("n_card"),
        (size(cands) - size(valid)).as("n_luhn_rejected"),
        redacted.as("red"))
      .select(col("doc_id"), col("n_card"), col("n_luhn_rejected"),
        length(col("red")).as("redacted_len"),
        when(length(col("red")) === 0, 0L)
          .otherwise(PolyHash(col("red"))).as("redacted_fp"))
  }

  // ---------------------------------------------------------------
  // BPE tokenizer TRAINING (Sennrich et al., ACL'16 — learn the merge
  // table from the corpus; [[bpeTokenCount]] only counts with a fixed
  // pre-tokenization). Classic word-frequency formulation, which is
  // also the 100 TB shape: ONE corpus shuffle collapses the text to a
  // (word, freq) vocabulary table — bounded by the language's
  // vocabulary, not the corpus — and every merge round then runs on
  // that metadata-scale table (pair-count with map-side partial agg,
  // one-row argmax to the driver, literal `replace` folded into the
  // next round's codegen). The corpus text is never rescanned.
  //
  // Symbol sequences are control-char-bracketed strings (B=\u0001,
  // E=\u0002): word "al" is "BaEBlE"; a merge of (a, l) is the plain
  // string replace "BaEBlE" -> "BalE".
  // Plain replace scans left-to-right, non-overlapping, continuing
  // AFTER the match — exactly BPE's greedy merge application — and
  // both engines share those semantics, so the oracle replays training
  // verbatim. No end-of-word marker (documented deviation; the marker
  // is one more bracketed symbol if a caller needs it).
  /** Returns the learned merge table: (round, lhs, rhs, cnt), where
    * cnt is the winning pair's frequency-weighted occurrence count and
    * ties break on the lexicographically smallest (lhs, rhs).
    */
  def bpeTrain(df: DataFrame, textCol: String, merges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val B = "\u0001"; val E = "\u0002"
    // localCheckpoint (r16, guide §5): every merge round ends in its
    // own collect() job, and DataFrame jobs get no cross-job stage
    // reuse — so without a lineage cut each of the `merges` rounds
    // re-ran the corpus scan + token shuffle from scratch (the doc
    // below promised "the corpus text is never rescanned"; this makes
    // it true). The checkpointed table is the language-vocabulary
    // (word, freq) aggregate — metadata-scale at any corpus size.
    // Durability: executor-local storage — an executor loss past the
    // cut fails the query. Fine single-JVM; on a cluster needing
    // fault tolerance, setCheckpointDir + .checkpoint(true) is the
    // drop-in reliable variant (see nearDupClusters for the full
    // trade note).
    var vocab = df.select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(regexp_replace(col("w"), "(.)", s"$B$$1$E").as("s"), col("cnt"))
      .localCheckpoint(true)
    // symbols of a bracketed string: strip the outer B/E, split on E+B
    def syms(s: Column): Column =
      split(expr("substring(s, 2, length(s) - 2)"), E + B)
    val rules = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= merges && !exhausted) {
      val sy = syms(col("s"))
      val pairs = vocab.select(col("cnt"),
          explode(zip_with(slice(sy, lit(1), size(sy) - 1),
            slice(sy, lit(2), size(sy) - 1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("cnt").as("c"))
      val best = pairs.orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, c) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        rules += ((round, l, r, c))
        vocab = vocab.withColumn("s",
          call_function("replace", col("s"),
            lit(B + l + E + B + r + E), lit(B + l + r + E)))
        // Re-checkpoint every 16 merges (ADVICE r16): each round
        // appends one `replace` projection onto the checkpointed
        // vocab, so round k otherwise re-executes all k-1 prior
        // replaces — O(merges²) replace work and a linearly growing
        // plan that AQE re-plans per job. One eager checkpoint of the
        // vocabulary-sized table per 16 rounds bounds both. (The gate
        // trains 8 merges, so this never fires locally — scale
        // hygiene for large merge counts, semantics unchanged.)
        if (round % 16 == 0) vocab = vocab.localCheckpoint(true)
        round += 1
      }
    }
    rules.toSeq.toDF("round", "lhs", "rhs", "cnt")
  }

  /** URL canonicalization (the Common-Crawl-style dedup key for web
    * corpora — raw URLs over-count: case, default ports, `www.`,
    * tracking params, fragments and param order all vary for the same
    * resource). Rules, applied with regex/string ops from the shared
    * Java/RE2/DuckDB subset so an oracle replays them verbatim:
    * lowercase scheme+host, strip the scheme's default port and a
    * leading `www.`, drop the fragment, drop `utm_*`/`ref` tracking
    * params, sort surviving params, collapse an empty path to `/` and
    * strip trailing slashes otherwise. Pure per-row codegen — one
    * scan, no shuffle; pair with [[graft.llm.Dedup]] exact dedup on
    * `canon_url` for the actual collapse.
    *
    * Returns (canon_url, host, n_tracking_params) columns.
    */
  def urlNormalize(url: Column): (Column, Column, Column) = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = lower(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val noDefPort = when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .otherwise(hostport)
    val host = regexp_replace(noDefPort, "^www\\.", "")
    val rest = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$", 1)
    val noFrag = regexp_replace(rest, "#.*$", "")
    val rawPath = regexp_replace(regexp_replace(noFrag, "\\?.*$", ""), "/+$", "")
    val path = when(rawPath === "", lit("/")).otherwise(rawPath)
    val query = regexp_extract(noFrag, "\\?(.*)$", 1)
    val isTracking = "^(utm_[^=]*|ref)="
    val kept = array_sort(filter(split(query, "&"),
      p => p =!= "" && !p.rlike(isTracking)))
    val dropped = size(filter(split(query, "&"), p => p.rlike(isTracking)))
    val canon = concat(scheme, lit("://"), host, path,
      when(size(kept) > 0, concat(lit("?"), array_join(kept, "&")))
        .otherwise(lit("")))
    (canon, host, dropped)
  }

  /** Heavy hitters over the token stream — frequent-term detection
    * (stopword discovery, spam-token monitoring) at corpus scale
    * WITHOUT a term-key shuffle: one scan folds every partition into a
    * ≤ `k`-counter Misra–Gries summary ([[graft.functions.MisraGries]],
    * a native TypedImperativeAggregate with map-side partials), whose
    * merged ≤ k candidates are guaranteed to include every term with
    * true frequency > n/(k+1). A second bounded-key pass re-counts just
    * the candidates exactly and keeps the true heavy hitters, so the
    * output is EXACT — the sketch only prunes. `sketch_ok` pins the
    * candidate-count bound for the oracle.
    *
    * Scale shape: pass 1 shuffles k-entry summaries (bytes per
    * partition, not terms); pass 2 shuffles ≤ k distinct keys. The
    * full-vocabulary groupBy a naive plan needs never happens.
    */
  def heavyHitters(df: DataFrame, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.bridge
    val words = df.select(explode(tokens(col(textCol))).as("w"))
    val summary = words.agg(
      bridge.column(graft.functions.MisraGries(
        bridge.expression(col("w")), k).toAggregateExpression()).as("cand"),
      count(lit(1)).as("n")).head()
    val cand = summary.getMap[String, Long](0).keys.toSeq.sorted
    val n = summary.getLong(1)
    val sketchOk = if (cand.size <= k) 1 else 0
    words.filter(col("w").isin(cand: _*))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .filter(col("freq") * (k + 1) > n)
      .select(col("w"), col("freq"), lit(n).as("n_tokens"),
        lit(sketchOk).as("sketch_ok"))
  }

  /** Count–min sketch frequency estimation (Cormode & Muthukrishnan,
    * J. Algorithms '05) over the token stream, cross-checked against
    * exact counts — the streaming-frequency companion to
    * [[heavyHitters]] (Misra–Gries bounds WHICH terms are frequent;
    * CMS answers point queries "how often did w occur" from a
    * fixed-size summary). Uses Spark's native `count_min_sketch`
    * aggregate: depth×width counter matrix, merged associatively
    * map-side, so one pass shuffles kilobyte summaries — never the
    * term key — exactly the shape a 100 TB token stream needs.
    *
    * The sketch guarantees est ≥ true and (w.h.p.) est ≤ true + ε·n.
    * Hash placement is seed-dependent, so the raw estimate is not
    * oracle-replayable; instead the gate pins the two guarantee
    * verdicts per probe term (the [[graft.llm.Similarity]] ANN
    * recall-verdict discipline). Probe set = the exact top-`topK`
    * terms (count desc, term asc — deterministic), whose exact counts
    * the oracle replays in full.
    *
    * Driver-side state: ONE serialized sketch (depth·width longs,
    * ~`10·⌈2/ε⌉·8` bytes — metadata scale, like the BPE argmax row)
    * and the ≤topK probe rows. The exact-count side stays distributed;
    * estimates join back as a broadcast literal table.
    */
  def cmsFreq(df: DataFrame, textCol: String, topK: Int,
      eps: Double = 0.0001, confidence: Double = 0.999,
      seed: Int = 42): DataFrame = {
    val words = df.select(explode(tokens(col(textCol))).as("w"))
    val row = words.agg(
      expr(s"count_min_sketch(w, ${eps}d, ${confidence}d, $seed)").as("cms"),
      count(lit(1)).as("n")).head()
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(row.getAs[Array[Byte]](0)))
    val n = row.getLong(1)
    val slack = math.ceil(eps * n).toLong
    val exact = words.groupBy("w").agg(count(lit(1)).as("freq"))
    // deterministic bounded probe set: exact top-K (freq desc, term asc)
    val probes = exact.orderBy(col("freq").desc, col("w")).limit(topK)
      .select("w").collect().map(_.getString(0))
    val estDf = df.sparkSession.createDataFrame(
      probes.toSeq.map(w => (w, cms.estimateCount(w)))).toDF("w", "est")
    exact.join(broadcast(estDf), "w")
      .select(col("w"), col("freq"),
        (col("est") >= col("freq")).cast("int").as("cms_lower_ok"),
        (col("est") <= col("freq") + lit(slack)).cast("int").as("cms_upper_ok"))
  }

  /** Gopher quality rules (Rae et al. 2021, Table A1) — the published
    * composite document filter MassiveText shipped with, as one
    * per-row projection: word-count bounds, mean-word-length bounds,
    * symbol-to-word ratio (`#`/`…`), bullet-start and ellipsis-end
    * line fractions, alphabetic-word fraction, and the
    * ≥ 2-distinct-stopwords requirement. Every metric is codegen'd
    * string/array arithmetic over one scan — no shuffle, no UDF — and
    * every fraction is an exact int/int division, so the doubles are
    * bit-identical across engines.
    *
    * Output: raw metrics + one 0/1 flag per rule + `gopher_pass`
    * (the conjunction). Thresholds are the paper's.
    */
  def gopherRules(df: DataFrame, textCol: String,
      idCol: String = "doc_id"): DataFrame = {
    val st = graft.functions.TokenStats(col(textCol))
    val stopwords = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val base = df.select(col(idCol).as("doc_id"), col(textCol).as("t"),
      st.as("st"))
      .select(col("doc_id"),
        col("st.n_tokens").as("n_words"),
        when(col("st.n_tokens") > 0,
          col("st.sum_len").cast("double") / col("st.n_tokens"))
          .as("mean_word_len"),
        when(col("st.n_tokens") > 0,
          (regexp_count(col("t"), lit("#")) +
            regexp_count(col("t"), lit("\\.\\.\\."))).cast("double")
            / col("st.n_tokens")).as("symbol_ratio"),
        when(col("st.n_tokens") > 0,
          size(filter(tokens(col("t")), w => w.rlike("[a-zA-Z]")))
            .cast("double") / col("st.n_tokens")).as("frac_alpha_words"),
        size(array_intersect(array_distinct(tokens(col("t"))),
          typedLit(stopwords))).as("n_stop_hits"),
        size(split(col("t"), "\n", -1)).as("n_lines"),
        size(filter(split(col("t"), "\n", -1),
          l => l.startsWith("- ") || l.startsWith("•")))
          .cast("double").as("n_bullet"),
        size(filter(split(col("t"), "\n", -1), l => l.endsWith("...")))
          .cast("double").as("n_ellipsis"))
    base.select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("symbol_ratio"), col("frac_alpha_words"), col("n_stop_hits"),
        (col("n_words") >= 50 && col("n_words") <= 100000).cast("int")
          .as("word_count_ok"),
        (col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
          .cast("int").as("word_len_ok"),
        (col("symbol_ratio") <= 0.1).cast("int").as("symbol_ok"),
        (col("n_bullet") / col("n_lines") <= 0.9).cast("int").as("bullet_ok"),
        (col("n_ellipsis") / col("n_lines") <= 0.3).cast("int")
          .as("ellipsis_ok"),
        (col("frac_alpha_words") >= 0.8).cast("int").as("alpha_ok"),
        (col("n_stop_hits") >= 2).cast("int").as("stop_ok"))
      .withColumn("gopher_pass",
        (col("word_count_ok") * col("word_len_ok") * col("symbol_ok") *
          col("bullet_ok") * col("ellipsis_ok") * col("alpha_ok") *
          col("stop_ok")).cast("int"))
  }

  /** Sliding-window chunking with overlap — the RAG/context-window
    * splitter (chunk size `size` tokens, stride `stride` < size ⇒
    * each chunk shares `size - stride` tokens with its predecessor).
    * Emits one row per (doc, chunk): index, start token offset, the
    * chunk text, and its token count. Chunks start at every multiple
    * of `stride` strictly below `n_tokens`, so the tail chunk may be
    * short; empty docs emit nothing.
    *
    * Scale shape: tokens → per-row `sequence`/`transform` window
    * assembly → one generator. Pure narrow projection + explode —
    * no shuffle, no window function, no per-doc state; 100 TB of
    * documents chunk at scan speed.
    */
  def overlapChunks(df: DataFrame, textCol: String, idCol: String,
      size0: Int, stride: Int): DataFrame = {
    require(size0 >= 1 && stride >= 1 && stride <= size0,
      "need 1 <= stride <= size")
    val ws = tokens(col(textCol))
    val nChunks = ceil(size(ws).cast("double") / stride).cast("int")
    val chunks = when(size(ws) === 0, typedLit(Seq.empty[String]))
      .otherwise(transform(sequence(lit(0), nChunks - 1),
        i => array_join(slice(ws, i * stride + 1, lit(size0)), " ")))
    df.select(col(idCol).as("doc_id"), posexplode(chunks))
      .select(col("doc_id"), col("pos").as("chunk_idx"),
        (col("pos") * stride).as("start_tok"), col("col").as("chunk_text"),
        size(tokens(col("col"))).as("chunk_tokens"))
  }

  /** Line-level deduplication (CCNet / RefinedWeb boilerplate
    * removal): a "line" that recurs across ≥ `maxDocs` distinct
    * documents is boilerplate (headers, navigation, legal footers)
    * and is stripped from EVERY document; the surviving lines are
    * re-stitched in order. Lines here are consecutive `lineWords`-word
    * chunks (the corpus stores single-spaced word streams — a real
    * web corpus would split on '\n' instead; the operator shape is
    * identical).
    *
    * Scale shape: one generator (native [[graft.functions.WordChunks]]
    * — codegen'd, no HOF walk), one line-key aggregation with map-side
    * partial distinct-doc counting, one line-key join back, one doc-key
    * re-aggregation. The line-key shuffle carries (line, doc_id) —
    * at web scale you'd key the count by `xxhash64(line)` to shuffle
    * 8-byte keys instead of line text; kept as the exact string here
    * so the oracle replays verbatim. Re-stitching is a merge-order-
    * exact `array_sort(collect_list(struct(idx, line)))` — no window,
    * no per-doc state, docs never leave their partition after the
    * final shuffle.
    *
    * Output: (doc_id, n_lines, n_kept, clean_len, clean_fp) — the
    * fingerprint is order-sensitive over the full cleaned text, so a
    * single mis-kept or mis-ordered line anywhere flips the gate.
    */
  def lineDedup(df: DataFrame, textCol: String, idCol: String,
      lineWords: Int = 8, maxDocs: Int = 3): DataFrame = {
    val lines = df.select(col(idCol).as("doc_id"),
        posexplode(graft.functions.WordChunks(col(textCol), lineWords)))
      .select(col("doc_id"), col("pos").as("line_idx"), col("col").as("line"))
    val counts = lines.groupBy("line")
      .agg(countDistinct("doc_id").as("n_docs"))
    val keepStruct = when(col("n_docs") < maxDocs,
      struct(col("line_idx"), col("line")))
    val clean = concat_ws(" ", transform(
      array_sort(collect_list(keepStruct)), x => x("line")))
    lines.join(counts, "line")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum((col("n_docs") < maxDocs).cast("long")).as("n_kept"),
        clean.as("clean"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        length(col("clean")).as("clean_len"),
        when(length(col("clean")) === 0, 0L)
          .otherwise(graft.functions.PolyHash(col("clean"))).as("clean_fp"))
  }

  /** BPE ENCODING with a trained merge table — the apply side of
    * [[bpeTrain]] (tokenize new text with the tokenizer the corpus
    * learned; the per-document token counts are what a training
    * pipeline actually bills by). Per document: pre-tokenize with the
    * same [[tokens]] split, bracketize each word, apply the merge
    * rules in priority order (plain `replace` = greedy BPE merge
    * application, same semantics both engines), and count one token
    * per end-bracket left standing.
    *
    * Scale shape: the merge table is metadata (`merges` rows — the
    * ONLY collect) folded into codegen as a literal replace chain, so
    * encoding is a single narrow scan of the corpus: no join against a
    * vocab table, no shuffle at all downstream of training. Output:
    * (doc_id, n_words, n_tokens, enc_fp) where `enc_fp` fingerprints
    * the full encoded symbol stream (order-sensitive — any mis-merge
    * anywhere in the doc flips it).
    */
  def bpeEncode(df: DataFrame, textCol: String, idCol: String,
      merges: Int): DataFrame = {
    val B = "\u0001"; val E = "\u0002"
    val table = bpeTrain(df, textCol, merges).orderBy("round")
      .select("lhs", "rhs").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    // one native codegen'd pass (bracketize + merge chain per word,
    // java String.replace = the same greedy left-to-right semantics
    // the oracle replays) — replaces an interpreted transform lambda
    // running a per-word regex + N-deep replace chain (the HOF trap;
    // A/B gate incl. retraining: 3.9 s → 3.2 s at sf0.1, training
    // dominates the remainder; bit-identical enc_fp)
    val enc = graft.functions.BpeApply(col(textCol), table)
    df.select(col(idCol).as("doc_id"),
        size(tokens(col(textCol))).as("n_words"), enc.as("d"))
      .select(col("doc_id"), col("n_words"),
        (length(col("d")) - length(call_function("replace", col("d"),
          lit(E), lit("")))).as("n_tokens"),
        when(length(col("d")) === 0, 0L)
          .otherwise(graft.functions.PolyHash(col("d"))).as("enc_fp"))
  }

  /** Broadcast dictionary phrase tagging (blocklist screening, topic
    * tagging, PII wordlists, gazetteer entity matching): find every
    * occurrence of every dictionary phrase (multi-word supported) in
    * every document, and emit per-doc match accounting plus the
    * ordered match list.
    *
    * Shape: ONE corpus scan — all distinct phrase lengths' positional
    * n-grams build inside a single flattened Generate (no per-length
    * re-scan union), then an inner join against the broadcast
    * dictionary (MB-scale for real blocklists — never shuffles the
    * corpus on content), then one doc-key aggregation with partial
    * collect_list (the agg_collect precedent; match lists are per-doc
    * bounded). A trie/Aho-Corasick native expression is the
    * single-pass alternative if dictionary phrase-length spread ever
    * makes the gram fan-out hurt; at 1-3 lengths the declarative form
    * wins (codegen'd, AQE-sized).
    *
    * Deterministic: matches are re-assembled sorted by (pos, phrase),
    * so the output is a pure function of the text.
    */
  def dictTag(df: DataFrame, textCol: String, idCol: String,
      phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "empty dictionary")
    val lens = phrases.map(_.split(" ").count(_.nonEmpty)).distinct.sorted
    val toks = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("ws"))
    val emptyGrams =
      expr("CAST(array() AS array<struct<pos: int, phrase: string>>)")
    val gramArrays = lens.map { l =>
      when(size(col("ws")) >= l,
        expr(s"transform(sequence(1, size(ws) - $l + 1)," +
          s" i -> struct(i - 1 AS pos, array_join(slice(ws, i, $l), ' ') AS phrase))"))
        .otherwise(emptyGrams)
    }
    val grams = toks
      .select(col("doc_id"), explode(flatten(array(gramArrays: _*))).as("m"))
      .select(col("doc_id"), col("m.pos").as("pos"), col("m.phrase").as("phrase"))
    val dict = df.sparkSession.createDataFrame(phrases.map(Tuple1(_)))
      .toDF("phrase")
    val hits = grams.join(broadcast(dict), "phrase")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_matches"),
        countDistinct(col("phrase")).as("n_distinct"),
        min(col("pos")).as("first_pos"),
        array_join(expr(
          "transform(array_sort(collect_list(struct(pos, phrase)))," +
            " x -> x.phrase)"), "|").as("matches"))
    df.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(col("first_pos"), lit(-1)).as("first_pos"),
        coalesce(col("matches"), lit("")).as("matches"))
  }

  /** Per-domain adaptive quality threshold: keep the best `keepPct`%
    * of documents of EACH domain by mean unigram NLL (ascending,
    * doc_id tie-break) — the curation rule that avoids a global cutoff
    * starving minority domains (a global threshold filters
    * out-of-distribution domains wholesale; a per-domain quantile
    * keeps every domain's best slice).
    *
    * Scale shape: a naive per-domain `row_number` window puts an
    * entire domain (corpus/|domains| rows) in ONE task — the skew
    * trap. [[nllRunningSum]] keys the banded rank by (domain, band)
    * instead: global quantile bands over the score, per-domain band
    * offsets, and the rank window partitioned by (domain, band) —
    * parallel across bands within every domain, bit-identical to the
    * single-window per-domain rank. The domain column joins back on
    * doc id (one doc-scale equi-join).
    */
  def domainQualityCut(df: DataFrame, textCol: String, idCol: String,
      domainCol: String, keepPct: Int, nBands: Int = 256): DataFrame =
    nllRunningSum(df, textCol, idCol, nBands, lit(1), "src_rank", "n_domain",
        Some(domainCol))
      .select(col("doc_id"), col("domain"), col("mean_nll_micro"),
        col("src_rank"), col("n_domain"),
        (col("src_rank") * 100 <= col("n_domain") * keepPct)
          .cast("int").as("kept"))

  /** Filter-cascade attrition report — the audit every cleaning
    * pipeline publishes: for each rule, in cascade order, how many
    * documents reached it, how many it removed, how many survived,
    * plus each rule's standalone failure count over the WHOLE corpus
    * (marginal vs cascade attrition tells you which rules overlap).
    *
    * Rules are (name, keep-predicate) pairs evaluated in order; every
    * predicate here should be integer/string-exact (counts only — no
    * floating point), so the report is engine-replayable. One corpus
    * scan feeding a single partial+final aggregate of 2·|rules|
    * booleans; the |rules|-row report is assembled from that one
    * aggregate row with a literal explode — no second scan, no shuffle
    * beyond the global agg. Scan-speed at 100 TB.
    */
  def filterAttrition(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "need at least one rule")
    // cumulative survival through rule i; standalone failure of rule i
    val cumCols = rules.indices.map { i =>
      val surviveThrough = rules.take(i + 1).map(_._2).reduce(_ && _)
      sum(when(surviveThrough, 1L).otherwise(0L)).as(s"c$i")
    }
    val margCols = rules.indices.map { i =>
      sum(when(!rules(i)._2, 1L).otherwise(0L)).as(s"m$i")
    }
    val one = df.agg(count(lit(1)).as("c_total"), (cumCols ++ margCols): _*)
    val rows = rules.indices.map { i =>
      val nIn = if (i == 0) col("c_total") else col(s"c${i - 1}")
      struct(lit(i + 1).as("stage"), lit(rules(i)._1).as("rule"),
        nIn.as("n_in"), (nIn - col(s"c$i")).as("n_removed"),
        col(s"c$i").as("n_out"), col(s"m$i").as("n_fail_alone"))
    }
    one.select(explode(array(rows: _*)).as("r")).select("r.*")
  }

  /** Per-document token-distribution Shannon entropy — the
    * "template/boilerplate detector" quality signal (a low-entropy
    * doc repeats few types; spam and scaffolding score near 0). For
    * each doc: H = Σ_t (tf_t/toks)·ln(toks/tf_t), computed in the
    * engine's quantized-log discipline (the [[unigramLogProb]] rule):
    * per-term `floor(ln(toks/tf)·1e6)` BEFORE the per-doc sum, so the
    * aggregation is integer-exact, order-independent, and a 1-ulp
    * libm drift can't change the output. One explode + two bounded
    * keyed aggregations; nothing global, nothing broadcast.
    */
  def tokenEntropy(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val tf = df.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val perDoc = tf.groupBy("doc_id")
      .agg(sum("tf").as("toks"), count(lit(1)).as("n_types"))
    val ent = tf.join(perDoc, "doc_id")
      .withColumn("h_micro",
        col("tf") * floor(log(col("toks").cast("double") / col("tf"))
          * lit(1000000.0)).cast("long"))
      .groupBy("doc_id")
      .agg(first("toks").as("n_tokens"), first("n_types").as("n_types"),
        sum("h_micro").as("entropy_micro"))
    df.select(col(idCol).as("doc_id")).join(ent, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        coalesce(col("entropy_micro"), lit(0L)).as("entropy_micro"),
        when(coalesce(col("n_tokens"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("entropy_micro").cast("double") / col("n_tokens"))
          .as("entropy_per_token_micro"))
  }

  /** Cross-corpus n-gram novelty / redundancy scoring: for each doc,
    * the fraction of its distinct n-gram shingles already present in
    * some EARLIER doc (lower id — ingestion order). The corpus-growth
    * redundancy curve data curators watch ("how much of each new
    * shard is new?"), and a per-doc prune signal that — unlike pair
    * dedup — needs no pair enumeration at all.
    *
    * Shape: one shingle explode → min-doc-id per shingle (the
    * inverted index reduced to its first posting — ONE row per
    * distinct shingle, not a posting list) → join back → per-doc
    * counts. Two shuffles on the shingle key, one on doc_id; nothing
    * pairwise, nothing quadratic — this is the linear-cost redundancy
    * metric, scale-safe by construction. Docs shorter than n words
    * have no shingles and drop out (both engines).
    */
  def ngramNovelty(df: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame = {
    val sh = df.select(col(idCol).as("doc_id"),
      explode(graft.llm.Dedup.shingles(col(textCol), n)).as("g"))
    val firstSeen = sh.groupBy("g").agg(min("doc_id").as("first_doc"))
    sh.join(firstSeen, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L))
          .as("n_seen"))
      .select(col("doc_id"), col("n_shingles"), col("n_seen"),
        (col("n_seen").cast("double") / col("n_shingles")).as("redundancy"))
  }

  /** T5/UL2-style span-corruption prep (Raffel et al. JMLR'20 §3.1.4):
    * mask contiguous token spans and emit the (input, target) pair a
    * denoising objective trains on — input keeps unmasked tokens with
    * one `<extra_id_K>` sentinel per span; target lists each sentinel
    * followed by the tokens it hides. Deterministic stand-in for the
    * paper's random corruption: span STARTS fire where
    * poly(doc_id:pos) ≡ 0 (mod `startMod`, ≈1/startMod of positions)
    * and each span runs 1..`lenSpread` tokens by a second hash —
    * a pure function of (doc, position), so the pair is reproducible
    * across runs/engines and the oracle replays it exactly.
    *
    * Shape: ONE native codegen'd pass per row
    * ([[graft.functions.SpanCorrupt]] — the WinnowKeys discipline), no
    * explode, no shuffle, scan speed at any corpus size. The
    * equivalent index-aware-HOF Column form was A/B-measured at
    * 15.4 s vs 0.4 s at sf0.1 (nested interpreted lambdas plus an
    * O(n²) sentinel prefix count) and rejected.
    */
  def spanCorruption(df: DataFrame, textCol: String, idCol: String,
      startMod: Int = 7, lenSpread: Int = 3): DataFrame =
    df.select(col(idCol).as("doc_id"),
        graft.functions.SpanCorrupt(col(idCol), col(textCol),
          startMod, lenSpread).as("sc"))
      .select(col("doc_id"), col("sc.n_tokens").as("n_tokens"),
        col("sc.n_masked").as("n_masked"), col("sc.n_spans").as("n_spans"),
        col("sc.input_text").as("input_text"),
        col("sc.target_text").as("target_text"))

  /** Heuristic named-entity density: capitalized tokens not at a
    * sentence start (doc-initial, or preceded by a .!?-terminated
    * token) per token — the cheap "proper-noun load" quality signal
    * (encyclopedic text scores high, boilerplate/code low; the
    * fasttext-era quality-classifier feature). Pure array expressions
    * — the index-aware filter runs row-local at scan speed, no
    * shuffle, no explode.
    *
    * Capitalization test is an ASCII byte-range compare (65–90), not
    * a regex character class, so both engines agree by construction
    * (the documents ASCII contract, SchemaPinSpec).
    */
  def entityDensity(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("ws"))
      .select(col("doc_id"), size(col("ws")).as("n_tokens"),
        size(filter(col("ws"), (w, i) =>
          ascii(substring(w, 1, 1)).between(65, 90) &&
            i > 0 &&
            !element_at(col("ws"), i).rlike("[.!?]$")))
          .as("n_entity_like"))
      .select(col("doc_id"), col("n_tokens"), col("n_entity_like"),
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("n_entity_like").cast("double") / col("n_tokens"))
          .as("entity_density"))

  /** Content-defined chunking at word granularity (the FastCDC/rsync
    * idea applied to text): a chunk boundary falls AFTER every word
    * whose hash ≡ 0 (mod `mask`) — boundaries move WITH the content,
    * so inserting one word near the top of a document re-chunks only
    * the boundary-local neighborhood instead of shifting every
    * fixed-size chunk after it. The storage-dedup primitive, and the
    * sub-document dedup signal fixed windows can't give.
    *
    * Emits one row per chunk with an order-exact signature:
    * Σ poly(word ‖ ':' ‖ offset-in-chunk) — each term position-tagged
    * BEFORE the sum, so the aggregation is order-independent (the
    * merge-order-exact discipline) while the signature still
    * distinguishes permutations. `n_dup_chunks` counts how many
    * chunks corpus-wide share (signature, n_words) — the dedup hit
    * rate.
    *
    * Scale shape: posexplode + two windows partitioned BY DOC (never
    * global) + one partial+final aggregation per chunk + one linear
    * signature-count join. Everything keyed; nothing pairwise.
    */
  def cdcChunks(df: DataFrame, textCol: String, idCol: String,
      mask: Int = 8): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val pos = df.select(col(idCol).as("doc_id"),
        posexplode(tokens(col(textCol)))).toDF("doc_id", "pos", "w")
    val marked = pos
      .withColumn("b",
        (pmod(graft.functions.PolyHash(col("w")), lit(mask.toLong)) === 0)
          .cast("int"))
      // chunk of a word = boundaries strictly BEFORE it
      .withColumn("chunk_idx", (sum("b").over(byDoc) - col("b")).cast("int"))
    // start_pos in the SAME (doc_id, pos) window pass (r17, guide
    // §2.4): a word starts a chunk iff it is the doc's first word or
    // the previous word was a boundary (chunk_idx(i) = Σ_{j<i} b(j)
    // changes exactly there), and chunk_idx is non-decreasing in pos,
    // so the running max of start positions IS min(pos) over
    // (doc_id, chunk_idx) — bit-identical, while the old second
    // window's hash partitioning on (doc_id, chunk_idx) cost one more
    // Exchange + sort of the full token stream. pos is unique per doc,
    // so the default RANGE frame equals ROWS semantics throughout.
    val isStart = coalesce(lag(col("b"), 1).over(byDoc) === 1, lit(true))
    val withStart = marked.withColumn("start_pos",
      max(when(isStart, col("pos"))).over(byDoc))
    val chunks = withStart
      .withColumn("term_sig", graft.functions.PolyHash(
        concat(col("w"), lit(":"), (col("pos") - col("start_pos")).cast("string"))))
      .groupBy("doc_id", "chunk_idx")
      .agg(first("start_pos").as("start_pos"),
        count(lit(1)).as("n_words"),
        sum("term_sig").as("chunk_sig"))
    val dupCounts = chunks.groupBy("chunk_sig", "n_words")
      .agg(count(lit(1)).as("n_dup_chunks"))
    chunks.join(dupCounts, Seq("chunk_sig", "n_words"))
      .select(col("doc_id"), col("chunk_idx"),
        col("start_pos").cast("long").as("start_pos"), col("n_words"),
        col("chunk_sig"), col("n_dup_chunks"))
  }

  /** Tokenizer-vocabulary coverage audit: fix the vocabulary to the
    * `vocabSize` most frequent units in the corpus (frequency desc,
    * unit asc — a total order), then report every document's
    * out-of-vocabulary mass. The standard pre-training check that a
    * candidate tokenizer's vocab actually covers the corpus (OOV rate
    * by token instances and by distinct units). Units are ALL
    * overlapping word `unitN`-grams (WordSpans — positional,
    * non-distinct, so OOV mass counts every instance) — multi-word
    * pieces, the shape BPE merges produce; 1 = plain words.
    *
    * Scale shape: one scan builds (doc, unit, tf) with map-side
    * combine; corpus unit counts are a second partial+final agg whose
    * output is the distinct-unit table; top-V selection is
    * TakeOrdered (no global sort shuffle) and the V-row vocab
    * broadcasts back to the postings — the corpus never reshuffles on
    * content. Docs too short to emit a unit keep a zero row via the
    * doc-list left join (the dsir_weights convention).
    */
  def vocabCoverage(df: DataFrame, textCol: String, idCol: String,
      vocabSize: Int, unitN: Int = 2): DataFrame = {
    val units = df.select(col(idCol).as("doc_id"),
      explode(graft.functions.WordSpans(col(textCol), unitN)).as("u"))
    val tf = units.groupBy("doc_id", "u").agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy("u").agg(sum("tf").as("c_t"))
      .orderBy(col("c_t").desc, col("u"))
      .limit(vocabSize)
      .select(col("u"), lit(1L).as("in_vocab"))
    val perDoc = tf.join(broadcast(vocab), Seq("u"), "left")
      .groupBy("doc_id")
      .agg(sum("tf").as("n_units"),
        sum(when(col("in_vocab").isNull, col("tf")).otherwise(lit(0L)))
          .as("n_oov"),
        count(lit(1)).as("n_distinct_units"),
        sum(when(col("in_vocab").isNull, lit(1L)).otherwise(lit(0L)))
          .as("n_oov_distinct"))
    df.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_units"), lit(0L)).as("n_units"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        coalesce(col("n_distinct_units"), lit(0L)).as("n_distinct_units"),
        coalesce(col("n_oov_distinct"), lit(0L)).as("n_oov_distinct"),
        when(coalesce(col("n_units"), lit(0L)) === 0, lit(0L))
          .otherwise(expr("(1000000 * n_oov) div n_units"))
          .as("oov_micro"))
  }

  /** Corpus drift between two snapshots as a population-stability
    * index (PSI = Σ (p−q)·ln(p/q), the standard model-monitoring
    * drift score): per group, documents bucket by token-count band
    * and the two snapshots' bucket distributions are compared with
    * add-1 smoothing over the union of observed buckets. PSI ≈ 0 —
    * same distribution; > 0.2 by convention — retrain-worthy shift.
    * The pre-training-refresh health check corpus_diff (what changed)
    * doesn't give: HOW MUCH the shape moved.
    *
    * Determinism: counts are exact BIGINT; each bucket needs exactly
    * ONE ln of a ratio of factor-cast doubles, floor-quantized to
    * micro units immediately (the unigram_logprob/dsir discipline —
    * quantization absorbs libm ULP drift), and the per-bucket
    * contribution is floor((p−q)·ln_micro) — integers from there on.
    *
    * Scale shape: two bounded-key counts (group × ≤maxBucket+1
    * buckets), one full-outer merge on that metadata-scale grid, per-
    * group totals broadcast back. Corpus text never shuffles; output
    * is |groups| rows.
    */
  def corpusDriftPsi(ref: DataFrame, cur: DataFrame, textCol: String,
      groupCol: String, bucketWidth: Int = 10, maxBucket: Int = 9): DataFrame = {
    def counts(df: DataFrame, out: String) = df
      .select(col(groupCol).as("grp"),
        size(tokens(col(textCol))).cast("long").as("n_tok"))
      .select(col("grp"),
        expr(s"least(n_tok div $bucketWidth, ${maxBucket}L)").as("bucket"))
      .groupBy("grp", "bucket").agg(count(lit(1)).as(out))
    // the grid is ≤|groups|·(maxBucket+1) rows — localCheckpoint it so
    // its two readers (totals, contributions) don't re-run the corpus
    // counts (Catalyst does not CSE shared subtrees: without the cut
    // the plan scans each snapshot twice)
    val j = counts(ref, "a").join(counts(cur, "b"),
        Seq("grp", "bucket"), "full_outer")
      .select(col("grp"), col("bucket"),
        coalesce(col("a"), lit(0L)).as("a"),
        coalesce(col("b"), lit(0L)).as("b"))
      .localCheckpoint()
    val totals = j.groupBy("grp").agg(sum("a").as("ta"), sum("b").as("tb"),
      count(lit(1)).as("k"))
    val pn = (col("a") + 1).cast("double")
    val qn = (col("b") + 1).cast("double")
    val pd = (col("ta") + col("k")).cast("double")
    val qd = (col("tb") + col("k")).cast("double")
    val lnMicro = floor(log((pn * qd) / (qn * pd)) * lit(1000000.0))
      .cast("long")
    j.join(broadcast(totals), Seq("grp"))
      .select(col("grp"), col("ta"), col("tb"), col("k"),
        floor((pn / pd - qn / qd) * lnMicro.cast("double")).cast("long")
          .as("contrib_micro"))
      .groupBy("grp")
      .agg(max("ta").as("n_ref"), max("tb").as("n_cur"),
        max("k").as("n_buckets"), sum("contrib_micro").as("psi_micro"))
      .select(col("grp").as(groupCol), col("n_ref"), col("n_cur"),
        col("n_buckets"), col("psi_micro"))
  }

  /** Fill-in-the-middle transform (Bavarian et al. 2022, "Efficient
    * Training of Language Models to Fill in the Middle"): split each
    * document's token stream at two deterministic points into
    * (prefix, middle, suffix) and re-serialize with sentinel tokens so
    * an autoregressive model learns infilling — PSM order
    * (prefix, suffix, middle) for even ids, SPM (suffix, prefix,
    * middle) for odd, the paper's joint 50/50 mix. Applied to
    * `fimRate10`/10 of documents (id-derived, the paper's fim_rate);
    * the rest pass through unchanged with mode 'none'.
    *
    * Determinism: the two cut points are integer functions of the
    * content hash — `h % (n+1)` and `(h div (n+1)) % (n+1)`, h the
    * PolyHash both engines replay — so every draw is pure integer
    * arithmetic; the output string is one array_join over an array
    * built by concatenation (no format-string divergence surface).
    *
    * Scale shape: entirely ROW-LOCAL array expressions — no explode,
    * no shuffle, scan speed (the span_corruption shape). At 100 TB
    * this runs at parquet-scan throughput with nothing to tune.
    */
  def fimTransform(df: DataFrame, textCol: String, idCol: String,
      fimRate10: Int = 6): DataFrame = {
    val base = df.select(col(idCol).as("doc_id"),
        tokens(col(textCol)).as("ws"),
        graft.functions.PolyHash(col(textCol)).as("h"))
      .withColumn("n", size(col("ws")).cast("long"))
      // % (not pmod): Spark's Remainder shares DuckDB's truncation
      // sign rule, so the oracle predicate agrees even for negative ids
      .withColumn("app",
        col("n") >= 2 && col("doc_id") % 10L < fimRate10)
      .withColumn("a", pmod(col("h"), col("n") + 1L))
      .withColumn("b", pmod(expr("h div (n + 1)"), col("n") + 1L))
      .withColumn("lo", least(col("a"), col("b")).cast("int"))
      .withColumn("hi", greatest(col("a"), col("b")).cast("int"))
    val prefix = slice(col("ws"), lit(1), col("lo"))
    val middle = slice(col("ws"), col("lo") + 1, col("hi") - col("lo"))
    val suffix =
      slice(col("ws"), col("hi") + 1, col("n").cast("int") - col("hi"))
    val psm = col("doc_id") % 2L === 0
    base.select(col("doc_id"), col("n").as("n_tokens"),
      when(!col("app"), lit("none"))
        .when(psm, lit("psm")).otherwise(lit("spm")).as("fim_mode"),
      when(col("app"), col("lo").cast("long")).otherwise(lit(0L))
        .as("n_prefix"),
      when(col("app"), (col("hi") - col("lo")).cast("long")).otherwise(lit(0L))
        .as("n_middle"),
      when(col("app"), col("n") - col("hi")).otherwise(lit(0L))
        .as("n_suffix"),
      array_join(
        when(!col("app"), col("ws"))
          .when(psm, concat(array(lit("<PRE>")), prefix,
            array(lit("<SUF>")), suffix, array(lit("<MID>")), middle))
          .otherwise(concat(array(lit("<SUF>")), suffix,
            array(lit("<PRE>")), prefix, array(lit("<MID>")), middle)),
        " ").as("fim_text"))
  }
}
