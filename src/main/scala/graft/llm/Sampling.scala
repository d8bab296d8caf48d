package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-composition operators for training-data pipelines
  * (SURVEY.md §2.11): deterministic domain mixing and context-window
  * sequence packing. Both are pure narrow/window transforms — the
  * only shuffle is packing's per-shard window, keyed on the shard
  * column, so both hold at 100 TB.
  */
object Sampling {

  /** Deterministic per-stratum downsampling — the "domain mixing"
    * step that reweights sources in a training corpus. A row is kept
    * iff `id mod modulus < rate(stratum)`, so the decision is a pure
    * function of the row (reproducible across runs, engines, and
    * partitionings — unlike `sample()`, whose output depends on
    * partition layout). Rates are per-mille-style integers against
    * `modulus` (50 of 100 = keep half).
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
      rates: Map[String, Int], defaultRate: Int, modulus: Int = 100): DataFrame = {
    val rate: Column = rates.foldLeft(lit(defaultRate)) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    df.filter(pmod(col(idCol), lit(modulus)) < rate)
  }

  /** Temperature-weighted domain mixing (the PaLM/LLaMA α-sampling
    * rule): domain `d` holding `n_d` of `N` documents is sampled at a
    * rate proportional to `n_d^α / n_d`, so small domains are
    * up-weighted relative to their share (α<1 flattens the mixture; a
    * domain whose computed rate exceeds 1 is kept whole — the standard
    * cap). Target output size is `targetFracMicro/1e6 · N` in
    * expectation.
    *
    * Deterministic end to end: per-domain rates are derived with
    * integer arithmetic plus a single IEEE `sqrt` (α=0.5, the usual
    * temperature; sqrt is correctly rounded by IEEE 754 in every
    * engine, unlike `pow`/`ln` whose libm implementations drift by an
    * ulp) — `w_milli = floor(1000·sqrt(n_d))`, `rate_micro =
    * min(1e6, targetFracMicro·N·w_milli ÷ (Σw_milli·n_d))` in BigInt —
    * and the keep decision is `(id mod modulus)·(1e6/modulus) <
    * rate_micro`, a pure function of the row like [[stratifiedSample]]
    * (`modulus` must divide 1e6; choose it ≤ the id spread so the
    * decision actually varies — rate resolution is 1e6/modulus).
    *
    * Scale shape: one partial-agg'd count per domain (bounded key
    * space, metadata to the driver — the same class as AQE stats),
    * one broadcast join of the ≤|domains|-row rate table, narrow
    * filter. Emits `rate_micro` so a mixture audit can read back what
    * was applied.
    */
  def temperatureSample(df: DataFrame, idCol: String, strataCol: String,
      targetFracMicro: Long, modulus: Long = 1000000L): DataFrame = {
    require(modulus > 0 && 1000000L % modulus == 0,
      s"modulus must divide 1e6, got $modulus")
    val counts = df.groupBy(strataCol).agg(count(lit(1)).as("n_d"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val n = counts.map(_._2).sum
    val wMilli = counts.map { case (d, nd) =>
      (d, nd, math.floor(math.sqrt(nd.toDouble) * 1000.0).toLong)
    }
    val wTotal = wMilli.map(_._3).sum
    val rates = wMilli.map { case (d, nd, w) =>
      val r = (BigInt(targetFracMicro) * n * w) / (BigInt(wTotal) * nd)
      (d, r.min(BigInt(1000000L)).toLong)
    }.toSeq
    val rateDf = df.sparkSession.createDataFrame(rates)
      .toDF(strataCol, "rate_micro")
    df.join(broadcast(rateDf), strataCol)
      .filter(pmod(col(idCol), lit(modulus)) * lit(1000000L / modulus)
        < col("rate_micro"))
  }

  /** Greedy in-order context-window packing: within each shard
    * (`strataCol`), documents in `idCol` order are laid head-to-tail
    * and each is assigned the window its FIRST token lands in
    * (`seq_window = floor(tokens-before / budget)`), plus its token
    * offset inside that window — the bookkeeping a sequence-packing
    * dataloader needs to cut fixed-length training windows without a
    * sequential pass. One shuffle on the shard key; windows never
    * span shards.
    */
  def packSequences(df: DataFrame, idCol: String, strataCol: String,
      nTokensCol: String, budget: Int): DataFrame = {
    val w = Window.partitionBy(strataCol).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("tokens_through", sum(col(nTokensCol)).over(w))
      .withColumn("tokens_before", col("tokens_through") - col(nTokensCol))
      .withColumn("seq_window", floor(col("tokens_before") / budget))
      .withColumn("window_offset", col("tokens_before") % budget)
      .drop("tokens_through")
  }

  /** Content-addressed train/val/test split: the split is a pure
    * function of the DOCUMENT BYTES (PolyHash mod `modulus` against
    * cumulative per-split upper bounds), not of row ids or partition
    * layout — re-sharding, re-ingestion or id reassignment never moves
    * a document across splits, and byte-identical duplicates always
    * land in the SAME split, so exact dups cannot leak train→test
    * (near-dups are upstream dedup's job). Pure narrow codegen'd
    * projection — scan speed, no shuffle, no state.
    *
    * `bounds` are cumulative: Seq("train" -> 80, "val" -> 90,
    * "test" -> 100) keeps hash<80 in train, 80-89 in val, rest test.
    */
  def splitByHash(df: DataFrame, contentCol: String,
      bounds: Seq[(String, Int)], modulus: Int = 100): DataFrame = {
    require(bounds.nonEmpty && bounds.last._2 == modulus,
      "bounds must be cumulative and end at modulus")
    val h = pmod(graft.functions.PolyHash(col(contentCol)), lit(modulus.toLong))
    val split = bounds.init.foldRight(lit(bounds.last._1): Column) {
      case ((name, ub), els) => when(h < ub, lit(name)).otherwise(els)
    }
    df.withColumn("split_hash", h).withColumn("split", split)
  }

  /** Deterministic global corpus shuffle → training-shard layout (the
    * last step before a training run: break curriculum/crawl order,
    * then write N shard files whose within-shard order is stable
    * across re-runs). The shuffle key is a multiplicative permutation
    * of the document id modulo the largest 32-bit prime — a bijection
    * on ids below the prime, and every intermediate stays under 2^63
    * so any 64-bit engine replays it exactly (Java's wrapping multiply
    * is NOT portable arithmetic; this is). shard = key mod N, and the
    * within-shard sequence number comes from a window partitioned BY
    * SHARD — at 100 TB the per-shard sort is exactly the sort each
    * shard writer must do anyway, parallel across shards, never
    * global; ids above the prime can collide across residues, so the
    * id itself is the documented order tiebreak. One shuffle (the
    * window's), scan-speed otherwise.
    */
  val ShufflePrime = 4294967291L // largest prime < 2^32
  val ShuffleMult = 1566083941L // coprime multiplier < 2^31

  def shardShuffle(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    val key = pmod(col(idCol), lit(ShufflePrime)) * lit(ShuffleMult) %
      lit(ShufflePrime)
    val shard = pmod(key, lit(nShards.toLong)).cast("int")
    df.withColumn("shuffle_key", key).withColumn("shard", shard)
      .withColumn("shard_seq", row_number().over(
        Window.partitionBy("shard").orderBy("shuffle_key", idCol)).cast("long"))
  }

  /** Weighted corpus sampling without replacement (exponential-race /
    * priority-sampling family, cf. Efraimidis & Spirtakis 2006): every
    * document draws a content-addressed pseudo-uniform `u =
    * poly_hash(text) ∈ [0, P)` and the k smallest priorities
    * `u·SCALE div weight` win. For small u the priority behaves like an
    * Exponential(weight) race, so selection probability is
    * asymptotically proportional to `weight` — the "sample long
    * documents more" curation knob — while staying a pure integer
    * function of the document bytes: re-sharding, re-ingestion, and
    * engine choice cannot move the sample (unlike `sample()`/`rand()`).
    *
    * Scale shape: one narrow codegen'd projection then a global
    * top-k — Spark's TakeOrdered (per-partition heap of k, driver
    * merge of n_part·k rows), never a global sort. Holds at 100 TB for
    * the k a training pipeline draws (thousands), the same contract as
    * `sort_limit`.
    */
  def weightedSample(df: DataFrame, textCol: String, idCol: String,
      weightCol: String, k: Int): DataFrame = {
    val u = graft.functions.PolyHash(col(textCol))
    df.select(col(idCol), col(weightCol).cast("long").as("weight"),
        (u * lit(1000000L)).as("scaled"))
      .select(col(idCol), col("weight"),
        expr("scaled div weight").as("priority"))
      .orderBy(col("priority"), col(idCol))
      .limit(k)
  }

  /** Per-domain document cap (the CommonCrawl-style anti-spam rule:
    * no single host may contribute more than `cap` documents).
    * Priority inside a domain is the content hash (stable across
    * crawls; a re-crawled byte-identical page keeps its slot), id as
    * tiebreak. One shuffle on the domain key; Spark's WindowGroupLimit
    * prunes each map task to its local top-`cap` BEFORE the exchange,
    * so the shuffle carries ≈ domains·cap rows, not the corpus.
    */
  def domainCap(df: DataFrame, textCol: String, idCol: String,
      domainCol: String, cap: Int): DataFrame = {
    val pri = graft.functions.PolyHash(col(textCol))
    df.withColumn("pri", pri)
      .withColumn("domain_rank", row_number().over(
        Window.partitionBy(col(domainCol)).orderBy(col("pri"), col(idCol))))
      .filter(col("domain_rank") <= cap)
      .drop("pri")
  }

  /** Decontaminated train/holdout split (eval-leakage hygiene — the
    * step between splitting and training): after the content-hash
    * split, any non-holdout document whose n-gram Jaccard similarity
    * to ANY holdout document reaches `threshold` is quarantined
    * (kept = 0) — near-duplicates of eval data must not be trained
    * on, and [[splitByHash]] alone only guarantees EXACT duplicates
    * land in one split. Emits every document with its split, its
    * leak-partner count, and the keep verdict, so the cut is
    * auditable.
    *
    * Scale shape: the same 8-byte-hash inverted-index count join as
    * [[Dedup.ngramJaccardPairs]] (`Dedup.postings` +
    * `Dedup.sharedCounts`, size-ratio prune included — exact for a
    * Jaccard threshold), but one side is ONLY the holdout
    * shingles: cost is Σ df_train · df_holdout per shingle, holdout
    * df a ~tenth of the corpus's. Holdout docs are never dropped.
    */
  def decontaminatedSplit(df: DataFrame, textCol: String, idCol: String,
      bounds: Seq[(String, Int)], holdout: String, shingleN: Int = 2,
      threshold: Double = 0.5, modulus: Int = 100): DataFrame = {
    val sp = splitByHash(df, textCol, bounds, modulus)
      .select(col(idCol).as("doc_id"), col("split_hash"), col("split"),
        col(textCol).as("text_"))
    val sets = Dedup.shingleSets(sp, "text_", "doc_id", shingleN)
      .join(sp.select(col("doc_id"), col("split")), "doc_id")
    val leaks = Dedup.sharedCounts(
        Dedup.postings(sets.filter(col("split") =!= holdout)),
        Dedup.postings(sets.filter(col("split") === holdout)),
        Dedup.jaccardSizeBound(threshold))
      .filter(Dedup.jaccard >= threshold)
      .groupBy(col("ia").as("doc_id")).agg(count(lit(1)).as("n_leak_partners"))
    sp.select(col("doc_id"), col("split_hash"), col("split"))
      .join(leaks, Seq("doc_id"), "left")
      .select(col("doc_id"), col("split_hash"), col("split"),
        coalesce(col("n_leak_partners"), lit(0L)).as("n_leak_partners"),
        when(col("split") =!= holdout && coalesce(col("n_leak_partners"),
          lit(0L)) > 0, 0).otherwise(1).as("kept"))
  }

  /** Token-budget waterfilling across domains: cap level c such that
    * Σ min(n_d, c) = budgetFrac·Σ n_d — spend a fixed budget without
    * letting big domains starve small ones (the mixture-allocation
    * solve behind "cap every domain at its fair share"). Input: one
    * row per domain, (groupCol, nCol bigint). Everything runs on that
    * ≤|domains|-row metadata frame: ascending prefix sums give every
    * candidate level c_k = (B − P_k)/(m − k) in closed form; validity
    * brackets select the waterfill level (every valid candidate
    * carries the same c, so a null-skipping min picks it);
    * alloc = least(n_d, c). Global windows here are metadata-scale by
    * construction. One fixed-order double division per candidate —
    * oracle-replayable bit-for-bit.
    */
  def waterfill(domains: DataFrame, budgetFrac: Double,
      groupCol: String = "source", nCol: String = "n"): DataFrame = {
    // outside (0, 1] no candidate level is valid and c_lvl would go
    // NULL, silently NULLing every domain's alloc — fail fast instead
    // (budgetFrac = 1 trivially allocates n_d to every domain)
    require(budgetFrac > 0.0 && budgetFrac <= 1.0,
      s"budgetFrac must be in (0, 1], got $budgetFrac")
    val ord = Window.orderBy(nCol, groupCol)
    val all = Window.orderBy(nCol, groupCol)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val r = domains
      .withColumn("rk", row_number().over(ord))
      .withColumn("prev_n", lag(nCol, 1).over(ord))
      .withColumn("prefix", sum(nCol).over(ord))
      .withColumn("total", sum(nCol).over(all))
      .withColumn("m", count(lit(1)).over(all))
    val cand = (lit(budgetFrac) * col("total") - (col("prefix") - col(nCol))) /
      (col("m") - (col("rk") - 1))
    val valid = (cand <= col(nCol)) &&
      (col("rk") === 1 || cand >= col("prev_n"))
    r.withColumn("c_lvl", min(when(valid, cand)).over(all))
      .select(col(groupCol), col(nCol).as("n_tokens"),
        least(col(nCol).cast("double"), col("c_lvl")).as("alloc"),
        (col(nCol) > col("c_lvl")).cast("int").as("capped"))
  }

  /** Per-holdout-document contamination fraction — the eval-overlap
    * REPORT (GPT-3 appendix C's n-gram overlap metric, at shingle
    * granularity): after the content-hash split, what fraction of
    * each holdout document's distinct shingles also occurs in the
    * TRAINING split (val is excluded — it is never trained on)? [[decontaminatedSplit]] quarantines near-dup TRAIN
    * docs; this measures the other direction — how compromised each
    * EVAL document already is — which is what an eval-integrity
    * report needs (a benchmark doc at 0.9 overlap can't be trusted
    * even after quarantining its known partners).
    *
    * Scale shape: the train shingle set reduces to DISTINCT shingles
    * (one shuffle, first-posting discipline); holdout shingles left
    * join it on the shingle key and aggregate per doc — all linear,
    * nothing pairwise (no doc×doc enumeration at any point).
    */
  def contaminationFraction(df: DataFrame, textCol: String, idCol: String,
      bounds: Seq[(String, Int)], holdout: String, trainSplit: String,
      shingleN: Int = 2, modulus: Int = 100): DataFrame = {
    val sp = splitByHash(df, textCol, bounds, modulus)
    val sh = sp.select(col(idCol).as("doc_id"), col("split"),
      explode(graft.llm.Dedup.shingles(col(textCol), shingleN)).as("g"))
    // ONLY the actual training split counts as contamination (the
    // val split is never trained on) — n_in_train means exactly what
    // it says (ADVICE-class naming trap caught in round-8 self-review)
    val trainSet = sh.filter(col("split") === trainSplit)
      .select("g").distinct().withColumn("in_train", lit(1L))
    val perDoc = sh.filter(col("split") === holdout)
      .join(trainSet, Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("in_train"), lit(0L))).as("n_in_train"))
    // An integrity report must cover EVERY holdout doc — one with
    // fewer than shingleN tokens has an empty shingle set (explode
    // drops it), so left-join the holdout doc-id list back and report
    // it as (0, 0, 0.0) rather than silently omitting exactly the
    // docs we cannot measure (ADVICE r8; the dsir_weights/doc_entropy
    // all-documents convention).
    sp.filter(col("split") === holdout)
      .select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_in_train"), lit(0L)).as("n_in_train"),
        coalesce(col("n_in_train").cast("double") / col("n_shingles"),
          lit(0.0)).as("contamination"))
  }

  /** DSIR importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): score
    * every document by how much more likely its tokens are under a
    * TARGET-domain unigram LM than under the raw-corpus LM —
    * Σ_tokens log(p̂_target(t)/p̂_raw(t)) with add-1 smoothing over the
    * shared raw vocabulary. The standard cheap proxy for "select raw
    * data that looks like the high-quality target" ahead of training;
    * resample by these weights downstream (weightedSampleWithout
    * Replacement takes a weight column).
    *
    * Determinism: the per-term log-ratio collapses to ONE ln of a
    * ratio of products — ln(((c_t+1)·(T_raw+V)) / ((c_r+1)·(T_tgt+V)))
    * — quantized to micro units BEFORE the per-doc sum (the
    * unigramLogProb rule: order-independent, libm-drift-proof).
    * Counts stay BIGINT up to each FACTOR, but every factor is cast
    * to double BEFORE the multiply (ADVICE r8): a BIGINT product
    * (c+1)·(T+V) overflows Long for corpora beyond ~3e9 tokens —
    * Spark wraps silently where DuckDB errors, so the 100 TB path
    * would silently diverge. Each factor is exact as a double up to
    * 2^53 and the IEEE product rounds identically in both engines.
    *
    * Scale shape: one corpus scan builds (doc, term, tf); term counts
    * are two partial+final aggregations; corpus totals ride ONE
    * broadcast 1-row frame; the per-term weight table joins postings
    * on the term key and the doc sum is one keyed aggregation — the
    * unigramLogProb plan with a second (smaller) count branch.
    * Documents with zero tokens keep a zero row via the left join.
    */
  def dsirWeights(df: DataFrame, textCol: String, idCol: String,
      targetPred: Column): DataFrame = {
    val terms = df.select(col(idCol).as("doc_id"), targetPred.as("is_t"),
      explode(graft.llm.TextAnalysis.tokens(col(textCol))).as("term"))
    val tf = terms.groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), first("is_t").as("is_t"))
    val raw = tf.groupBy("term").agg(sum("tf").as("cr"))
    val tgt = tf.filter(col("is_t")).groupBy("term").agg(sum("tf").as("ct"))
    val totals = raw.agg(sum("cr").as("t_raw"), count(lit(1)).as("v"))
      .crossJoin(tf.filter(col("is_t")).agg(sum("tf").as("t_tgt")))
    val perTerm = raw.join(tgt, Seq("term"), "left")
      .crossJoin(broadcast(totals))
      .select(col("term"),
        floor(log(
          ((coalesce(col("ct"), lit(0L)) + 1L).cast("double")
            * (col("t_raw") + col("v")).cast("double"))
          / ((col("cr") + 1L).cast("double")
            * (col("t_tgt") + col("v")).cast("double")))
          * lit(1000000.0)).cast("long").as("lw_micro"))
    val perDoc = tf.join(perTerm, "term")
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tokens"),
        sum(col("tf") * col("lw_micro")).as("dsir_micro_sum"))
    df.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("dsir_micro_sum"), lit(0L)).as("dsir_micro_sum"),
        when(coalesce(col("n_tokens"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("dsir_micro_sum").cast("double") / col("n_tokens"))
          .as("dsir_micro_per_tok"))
  }

  /** Preference-pair construction (the DPO / RLHF reward-data step,
    * Rafailov et al. 2023): candidates grouped by prompt, the
    * highest-scoring one becomes `chosen` and the lowest `rejected`,
    * kept only when the score margin is decisive. Score here is the
    * type-token ratio in exact micro units — any per-row integer
    * quality score slots in unchanged.
    *
    * Determinism: argmax/argmin with doc-id tie-breaks ride ONE packed
    * BIGINT per direction — `score_micro * 10^10 ± doc_id` — so the
    * whole selection is a plain min/max aggregation (order-independent,
    * hash-gateable; the budget_select/mmr_rerank tie-break rule).
    * score_micro ≤ 10^6 keeps the packed key < 10^16, inside BIGINT;
    * the 10^10 doc-id headroom is asserted so growth past it fails
    * loudly rather than mis-pairing.
    *
    * Scale shape: scoring is row-local scan work; the only shuffle is
    * the prompt-key aggregation with map-side partial min/max, and the
    * output is one row per prompt — metadata scale. A hot prompt with
    * millions of candidates still reduces to two partial aggregates
    * per task; nothing per-pair is ever materialized.
    */
  def dpoPairs(df: DataFrame, textCol: String, idCol: String,
      nPrompts: Int, minMarginMicro: Long = 1L): DataFrame = {
    // margin 0 would emit a degenerate pair for a fully score-tied
    // prompt group: BOTH tie-breaks select the lowest doc_id, so
    // chosen_doc == rejected_doc — require a decisive margin
    require(minMarginMicro >= 1L,
      s"dpoPairs: minMarginMicro must be >= 1 (a 0 margin pairs a " +
        s"score-tied doc with itself), got $minMarginMicro")
    val P = 10000000000L // doc-id headroom under the packed score key
    val ws = graft.llm.TextAnalysis.tokens(col(textCol))
    val scored = df
      .select((col(idCol) % nPrompts).as("prompt_id"), col(idCol).as("doc_id"),
        size(ws).cast("long").as("n_tokens"),
        size(array_distinct(ws)).cast("long").as("n_distinct"))
      .filter(col("n_tokens") > 0)
      // out-of-headroom ids FAIL the job rather than silently dropping
      // or mis-pairing (the docstring's loud-failure claim) — guarded
      // AFTER the token filter, so only ids that would actually enter
      // the packed keys can trip it (a zero-token doc never pairs)
      .select(col("prompt_id"),
        when(col("doc_id") >= 0 && col("doc_id") < P, col("doc_id"))
          .otherwise(raise_error(concat(
            lit("dpoPairs: doc_id outside packed-key headroom [0, 1e10): "),
            col("doc_id").cast("string")))).as("doc_id"),
        expr("(1000000 * n_distinct) div n_tokens").as("score_micro"))
    val agg = scored.groupBy("prompt_id").agg(
      count(lit(1)).as("n_candidates"),
      max(col("score_micro") * P + (lit(P - 1) - col("doc_id"))).as("ck"),
      min(col("score_micro") * P + col("doc_id")).as("rk"))
    agg.filter(col("n_candidates") >= 2)
      .select(col("prompt_id"), col("n_candidates"),
        (lit(P - 1) - col("ck") % P).as("chosen_doc"),
        (col("rk") % P).as("rejected_doc"),
        expr(s"ck div ${P}L").as("chosen_score_micro"),
        expr(s"rk div ${P}L").as("rejected_score_micro"),
        expr(s"ck div ${P}L - rk div ${P}L").as("margin_micro"))
      .filter(col("margin_micro") >= minMarginMicro)
  }
}
