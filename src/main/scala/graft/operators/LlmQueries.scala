package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.llm.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Training-data pipeline operators (SURVEY.md §2.11) wired into the
  * correctness gate: dedup (exact / MinHash-LSH / SimHash / n-gram
  * Jaccard / embedding-cosine), similarity search (brute-force oracle +
  * IVF scale path), text analysis, multimodal feature plumbing.
  *
  * Oracle determinism notes: see RelationalQueries. Vector math uses
  * sequential left-folds on both sides → identical double bits.
  * PolyHash is replayed in DuckDB via list_reduce over codepoints.
  */
object LlmQueries {
  import RelationalQueries.{Q, QDef}

  /** DuckDB fragment: whitespace tokens of `text`, empties dropped. */
  private val DuckToks = "list_filter(string_split(text, ' '), w -> w <> '')"

  /** dpo_pairs: prompt-group modulus (≈5 candidates/prompt at the
    * smallest SF — measured before pinning, the r8 rule). */
  private val DpoNPrompts = 97

  /** retrieval_metrics: top-k depth and the query modulus (the ann
    * gates' 1-in-50 sampling), plus the nDCG discount/prefix literal
    * lists rendered from the SAME Scala formula the engine plan uses
    * (ndcgDiscountsMicro — the calibrationWeights rule). */
  private val RetrK = 10
  private val RetrQMod = 50

  /** corpus_drift_psi: token-count bucket width / cap (10-99-token
    * docs at every SF → 9 occupied bands, measured before pinning). */
  private val PsiBucketWidth = 10
  private val PsiMaxBucket = 9

  /** fim_transform: documents FIM'd per 10 (Bavarian et al. use
    * 50–90%; 6/10 sits in-range and leaves a passthrough population
    * for the splice spec). Shared between the engine call and the
    * oracle SQL (the mmrSql/span_corruption shared-constant rule). */
  private val FimRate10 = 6
  private val retrDiscSql: String =
    graft.llm.Similarity.ndcgDiscountsMicro(RetrK).mkString("[", ", ", "]")
  private val retrPrefSql: String =
    graft.llm.Similarity.ndcgPrefixMicro(RetrK).mkString("[", ", ", "]")
  /** vocab_coverage: top-V bigram-unit vocabulary (corpus has ~916
    * distinct bigrams → OOV spans ~8–76% across docs at V=400). */
  private val VocabCovSize = 400
  /** calibration_ece: labels are 0–9 uniform; `label ≥ 5` = positive. */
  private val CalPosMin = 5
  /** calibration_ece oracle: the SAME weight vector the engine call
    * uses, rendered as a DOUBLE literal list (each literal CAST — the
    * DuckDB bare-decimal DECIMAL trap). */
  private val calWeightsSql: String =
    graft.llm.Similarity.calibrationWeights(64)
      .map(x => s"CAST($x AS DOUBLE)").mkString("[", ", ", "]")
  /** DuckDB fragment shared with EngineQueries' e2e pipeline oracle. */
  /** DuckDB fragment: PolyHash replay over a string expression. */
  private[operators] def duckPoly(e: String): String =
    s"list_reduce(list_transform(string_split($e, ''), x -> CAST(unicode(x) AS BIGINT)), (a, b) -> (a * 31 + b) % 1000000007)"

  /** DuckDB fragment: distinct word-n-gram shingles per document
    * (`sh(doc_id, shingles)`), shared by the dedup-family oracles. */
  private def shingleCtes(n: Int): String = {
    val gen =
      if (n == 2) "[ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]"
      else "[ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)]"
    s"""tok AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct(CASE WHEN len(ws) >= $n
       |    THEN $gen
       |    ELSE [] END) AS shingles FROM tok)""".stripMargin
  }

  /** DuckDB fragment: inverted-index candidate pairs over `sh` —
    * `sz(doc_id, n)`, `post(doc_id, sg)`, `pr(ia, ib, shared)` with
    * ia < ib. Jaccard/containment are then exact from the integer
    * shared-count and set sizes (identical division operands to the
    * all-pairs `list_intersect` form, so identical doubles). r14:
    * replaces the quadratic all-pairs oracle formulations that hit
    * DuckDB's 120 s bound at sf0.1; the originals live on as sf0.01
    * A/B checks in tools/oracle_ab.py (bit-identical, ORACLE_AB.json). */
  private val invertedPairCtes: String =
    """sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
      |post AS (SELECT doc_id, unnest(shingles) AS sg FROM sh),
      |pr AS (SELECT a.doc_id AS ia, b.doc_id AS ib, CAST(count(*) AS BIGINT) AS shared
      |  FROM post a JOIN post b ON a.sg = b.sg AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** Shared oracle CTE for `dedup_embedding` and `dedup_embedding_lsh`
    * (the verdict gate appends `1 AS recall_ok`): exact all-pairs
    * cosine over the embeddings table, `p(ia, ib, cos)` at threshold
    * 0.4 — the embeddings table is metadata-sized at every tested SF,
    * so the quadratic oracle stays well inside the 120 s bound (the
    * ENGINE exact form is block-distributed, see
    * Dedup.embeddingNearDups).
    */
  private val EmbeddingPairCtes: String =
    """WITH n AS (SELECT vec_id, embedding,
      |  list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b) AS nrm2
      |  FROM embeddings),
      |p AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
      |  list_reduce(list_transform(list_zip(a.embedding, b.embedding),
      |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (x, y) -> x + y)
      |    / (sqrt(a.nrm2) * sqrt(b.nrm2)) AS cos
      |FROM n a JOIN n b ON a.vec_id < b.vec_id
      |WHERE list_reduce(list_transform(list_zip(a.embedding, b.embedding),
      |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (x, y) -> x + y)
      |    / (sqrt(a.nrm2) * sqrt(b.nrm2)) >= 0.4)""".stripMargin

  /** Shared oracle for `dedup_containment` and
    * `dedup_containment_prefix`: the two engine forms are bit-identical
    * (LlmSpec "containmentPairsPrefix is bit-identical to the full index
    * join" and the AlgoPropertySpec prefix-filtered containment property
    * assert set and value equality), so one SQL gates both — the
    * classic inverted-index join and the prefix-filtered 100 TB path.
    */
  private lazy val ContainmentOracleSql: String =
    s"""WITH ${shingleCtes(2)},
       |$invertedPairCtes
       |SELECT ia, ib,
       |  CAST(shared AS DOUBLE) / sa.n AS containment_a,
       |  CAST(shared AS DOUBLE) / sb.n AS containment_b
       |FROM pr JOIN sz sa ON pr.ia = sa.doc_id JOIN sz sb ON pr.ib = sb.doc_id
       |WHERE greatest(CAST(shared AS DOUBLE) / sa.n,
       |               CAST(shared AS DOUBLE) / sb.n) >= 0.8
       |ORDER BY ia, ib""".stripMargin

  /** Shared oracle for `dedup_clusters` and `dedup_clusters_diststar`:
    * the two engine paths (driver union-find under the byte budget;
    * Kiveris large-star/small-star above it) must land the identical
    * component assignment, so one SQL gates both — verified pairs from
    * the inverted-index Jaccard, closed transitively with a recursive
    * CTE, min-id representative per component.
    */
  private lazy val ClustersOracleSql: String =
    s"""WITH RECURSIVE ${jaccardPairCtes(3, 0.5)},
       |e AS (SELECT ia AS a, ib AS b FROM p UNION SELECT ib, ia FROM p),
       |reach(a, b) AS (
       |  SELECT DISTINCT a, a FROM e
       |  UNION
       |  SELECT e.a, r.b FROM e JOIN reach r ON e.b = r.a)
       |SELECT a AS doc_id, min(b) AS cluster_id FROM reach
       |GROUP BY a ORDER BY doc_id""".stripMargin

  /** DuckDB fragment: near-dup pairs (Jaccard >= thr) from the
    * inverted index — the linear replacement for all-pairs Jaccard. */
  private def jaccardPairCtes(n: Int, thr: Double): String =
    s"""${shingleCtes(n)},
       |$invertedPairCtes,
       |p AS (
       |  SELECT pr.ia, pr.ib,
       |    CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS jaccard
       |  FROM pr JOIN sz sa ON pr.ia = sa.doc_id JOIN sz sb ON pr.ib = sb.doc_id
       |  WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= $thr)""".stripMargin

  /** DuckDB replay of [[graft.llm.TextAnalysis.winnow]] (k=4, w=4):
    * positional 4-gram hashes, the identical packed
    * (hash asc, pos desc) BIGINT key, min per 4-window, distinct —
    * ends at `u(doc_id, wkey)` for the caller to decode/join.
    */
  private val winnowCtes: String =
    s"""WITH tok AS (SELECT doc_id, $DuckToks AS ws FROM documents),
       |g AS (SELECT doc_id, [array_to_string(ws[i+1 : i+4], ' ')
       |    for i in range(0, len(ws) - 3)] AS grams
       |  FROM tok WHERE len(ws) >= 4),
       |h AS (SELECT doc_id, list_transform(grams,
       |    s -> ${duckPoly("s")}) AS hs FROM g),
       |ks AS (SELECT doc_id, [hs[j+1] * 1048576 + (1048575 - j)
       |    for j in range(0, len(hs))] AS keys FROM h),
       |sel AS (SELECT doc_id, list_distinct([list_min(keys[i+1 : i+4])
       |    for i in range(0, greatest(len(keys) - 4, 0) + 1)]) AS wkeys
       |  FROM ks),
       |u AS (SELECT doc_id, unnest(wkeys) AS wkey FROM sel)""".stripMargin

  /** DuckDB replay of [[graft.llm.Similarity.kMeansAssign]], unrolled
    * for a fixed (k, iters): init centroids = the k smallest vec_ids,
    * per-iteration argmin assignment (|c|² − 2·x·c, ties to lowest j)
    * and exact DECIMAL(28,10) per-dimension means. Scaled sums stay
    * ≪ 2^53 so DuckDB's decimal→double cast and Java's
    * BigDecimal.doubleValue() are both single-rounded — identical bits.
    */
  /** CTE body (no leading WITH) replaying one k-means fit+assign over
    * `$pfx b(vec_id, embedding)` — a base CTE the caller defines, so
    * [[pqCtes]] can run it per subspace slice. CTE names are prefixed
    * to allow several instances under one WITH.
    */
  private def kmeansCtesOn(k: Int, iters: Int, pfx: String): String = {
    def dist(c: String) =
      s"""list_reduce(list_transform($c.c, x -> x * x), (a, b) -> a + b)
         |      - 2.0 * list_reduce(list_transform(list_zip(e.embedding, $c.c),
         |          p -> CAST(p[1] AS DOUBLE) * p[2]), (a, b) -> a + b)""".stripMargin
    def assign(i: Int) =
      s"""${pfx}a$i AS (SELECT vec_id, j AS cluster FROM (
         |  SELECT e.vec_id, c.j, row_number() OVER (PARTITION BY e.vec_id
         |    ORDER BY ${dist("c")}, c.j) AS rn
         |  FROM ${pfx}b e CROSS JOIN ${pfx}c${i - 1} c) WHERE rn = 1)""".stripMargin
    def update(i: Int) =
      s"""${pfx}u$i AS (SELECT a.cluster AS j, t.pos,
         |    CAST(sum(CAST(t.x AS DECIMAL(28, 10))) AS DOUBLE) / count(*) AS m
         |  FROM (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         |        unnest(embedding) AS x FROM ${pfx}b) t
         |  JOIN ${pfx}a$i a USING (vec_id) GROUP BY 1, 2),
         |${pfx}c$i AS (SELECT j, list(m ORDER BY pos) AS c FROM ${pfx}u$i GROUP BY j
         |  UNION ALL SELECT p.j, p.c FROM ${pfx}c${i - 1} p
         |  WHERE p.j NOT IN (SELECT DISTINCT cluster FROM ${pfx}a$i))""".stripMargin
    val init =
      s"""${pfx}c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
         |  FROM (SELECT vec_id, embedding FROM ${pfx}b ORDER BY vec_id LIMIT $k))""".stripMargin
    val steps = (1 to iters).flatMap(i => Seq(assign(i), update(i)))
    (Seq(init) ++ steps ++ Seq(assign(iters + 1))).mkString(",\n")
  }

  private def kmeansCtes(k: Int, iters: Int): String =
    "WITH b AS (SELECT vec_id, embedding FROM embeddings),\n" +
      kmeansCtesOn(k, iters, pfx = "")

  /** Final-assignment CTE name for [[kmeansCtes]]. */
  private def kmeansFinal(iters: Int): String = s"a${iters + 1}"

  /** DuckDB replay of [[graft.llm.Similarity.pqCodes]]: one
    * [[kmeansCtesOn]] instance per subspace over the sliced vector,
    * joined on vec_id into the code row + packed code.
    */
  private def pqSql(nSub: Int, subDim: Int, k: Int, iters: Int): String = {
    val bases = (0 until nSub).map { s =>
      s"""s${s}b AS (SELECT vec_id,
         |  embedding[${s * subDim + 1}:${(s + 1) * subDim}] AS embedding
         |  FROM embeddings)""".stripMargin
    }
    val fits = (0 until nSub).map(s => kmeansCtesOn(k, iters, pfx = s"s$s"))
    val codeCols = (0 until nSub).map(s => s"s$s${kmeansFinal(iters)}.cluster AS c$s")
    val joins = (0 until nSub).map(s =>
      s"JOIN s$s${kmeansFinal(iters)} USING (vec_id)").mkString("\n")
    val packed = (0 until nSub).map(s => s"s$s${kmeansFinal(iters)}.cluster")
      .reduce((a, b) => s"($a) * $k + $b")
    s"""WITH ${(bases ++ fits).mkString(",\n")}
       |SELECT vec_id, ${codeCols.mkString(", ")},
       |  CAST($packed AS BIGINT) AS pq_code
       |FROM embeddings
       |$joins
       |ORDER BY vec_id""".stripMargin
  }

  private def kmeansSql(k: Int, iters: Int): String =
    kmeansCtes(k, iters) +
      s"\nSELECT vec_id, cluster FROM ${kmeansFinal(iters)} ORDER BY vec_id"

  /** DuckDB replay of [[graft.llm.TextAnalysis.bpeTrain]], unrolled
    * per merge round. Symbols are chr(1)/chr(2)-bracketed (exactly the
    * engine's \u0001/\u0002), so plain `replace` — greedy
    * left-to-right, non-overlapping, continuing after the match in
    * both engines — replays BPE merge application verbatim.
    */
  private def bpeTrainCtes(merges: Int): Seq[String] = {
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"""wf AS (SELECT w, count(*) AS cnt FROM (
         |  SELECT unnest($DuckToks) AS w FROM documents) GROUP BY w)""".stripMargin,
      """w0 AS (SELECT regexp_replace(w, '(.)', chr(1) || '\1' || chr(2), 'g') AS s, cnt FROM wf)""")
    for (i <- 1 to merges) {
      ctes += s"""p$i AS (SELECT l, r, sum(cnt) AS c FROM (
         |  SELECT cnt, unnest([{'l': sy[j+1], 'r': sy[j+2]}
         |    for j in range(0, len(sy)-1)], recursive := true)
         |  FROM (SELECT cnt, string_split(s[2:length(s)-1], chr(2)||chr(1)) AS sy
         |        FROM w${i - 1})) GROUP BY l, r)""".stripMargin
      ctes += s"""b$i AS (SELECT l, r, c FROM p$i ORDER BY c DESC, l, r LIMIT 1)"""
      ctes += s"""w$i AS (SELECT replace(s, chr(1)||b.l||chr(2)||chr(1)||b.r||chr(2),
         |  chr(1)||b.l||b.r||chr(2)) AS s, cnt FROM w${i - 1}, b$i b)""".stripMargin
    }
    ctes.toSeq
  }

  private def bpeSql(merges: Int): String = {
    val sel = (1 to merges).map(i =>
      s"SELECT $i AS round, l AS lhs, r AS rhs, CAST(c AS BIGINT) AS cnt FROM b$i")
      .mkString(" UNION ALL ")
    "WITH " + bpeTrainCtes(merges).mkString(",\n") +
      s"\nSELECT * FROM ($sel) ORDER BY round"
  }

  /** DuckDB replay of [[graft.llm.TextAnalysis.bpeEncode]]: retrain
    * the merge table (shared CTEs), re-encode the distinct vocabulary
    * by replaying each merge's `replace` in priority order, then stitch
    * documents back together word-by-position and count one token per
    * chr(2) end-bracket. The fingerprint replays PolyHash over the
    * whole encoded symbol stream — any mis-merge anywhere flips it.
    */
  private def bpeEncodeSql(merges: Int): String = {
    val enc = scala.collection.mutable.ArrayBuffer(
      s"""voc0 AS (SELECT DISTINCT w FROM (SELECT unnest($DuckToks) AS w FROM documents)),
         |e0 AS (SELECT w, regexp_replace(w, '(.)', chr(1) || '\\1' || chr(2), 'g') AS s FROM voc0)""".stripMargin)
    for (i <- 1 to merges)
      enc += s"""e$i AS (SELECT w, replace(s, chr(1)||b.l||chr(2)||chr(1)||b.r||chr(2),
         |  chr(1)||b.l||b.r||chr(2)) AS s FROM e${i - 1}, b$i b)""".stripMargin
    val tail =
      s"""tp AS (SELECT doc_id, j, w FROM (
         |  SELECT doc_id, unnest([{'j': j, 'w': ws[j+1]}
         |    for j in range(0, len(ws))], recursive := true)
         |  FROM (SELECT doc_id, $DuckToks AS ws FROM documents))),
         |encdoc AS (SELECT doc_id, count(*) AS n_words,
         |    string_agg(e.s, ' ' ORDER BY j) AS d
         |  FROM tp JOIN e$merges e USING (w) GROUP BY doc_id)
         |SELECT doc_id, CAST(n_words AS INT) AS n_words,
         |  CAST(length(d) - length(replace(d, chr(2), '')) AS INT) AS n_tokens,
         |  CAST(${duckPoly("d")} AS BIGINT) AS enc_fp
         |FROM encdoc ORDER BY doc_id""".stripMargin
    "WITH " + (bpeTrainCtes(merges) ++ enc).mkString(",\n") + ",\n" + tail
  }

  /** Shared CTE chain ending in `sig(doc_id, simhash)` — the DuckDB
    * replay of [[graft.llm.Dedup.simhash]]'s 30-bit signature, used by
    * both the signature gate and the Hamming-pairing gate.
    */
  private val SimhashSigCtes =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($DuckToks) AS w FROM documents),
       |th AS (SELECT doc_id, ${duckPoly("w")} AS h FROM tok),
       |bits AS (
       |  SELECT doc_id, j,
       |    sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM th CROSS JOIN generate_series(0, 29) AS t(j)
       |  GROUP BY doc_id, j),
       |sig AS (SELECT doc_id,
       |  CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM bits GROUP BY doc_id)""".stripMargin

  /** Shared oracle for `ann_ivf`/`ann_lsh`: the exact brute-force
    * top-5 (same fold as `ann_topk_exact`) with the engine's
    * `recall_ok` verdict column pinned to 1 — the hash gate fails if
    * the approximate operator's recall drops under its bound.
    */
  private val AnnExactSqlWithVerdict =
    """WITH n AS (SELECT vec_id, embedding,
      |  sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS nrm
      |  FROM embeddings),
      |p AS (SELECT q.vec_id AS q_vec_id, c.vec_id AS n_vec_id,
      |  list_reduce(list_transform(list_zip(q.embedding, c.embedding),
      |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (x, y) -> x + y)
      |    / (q.nrm * c.nrm) AS cos
      |  FROM n q JOIN n c ON q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id),
      |r AS (SELECT q_vec_id, n_vec_id, cos,
      |  CAST(row_number() OVER (PARTITION BY q_vec_id ORDER BY cos DESC, n_vec_id) AS INT) AS rank
      |  FROM p)
      |SELECT q_vec_id, rank, n_vec_id, cos, 1 AS recall_ok FROM r WHERE rank <= 5
      |ORDER BY q_vec_id, rank""".stripMargin

  /** DuckDB replay of [[graft.llm.Similarity.mmrRerank]]: the k−1
    * greedy steps UNROLLED as generated CTEs (step t = anti-join vs
    * the cumulative picked set, max-sim against it, per-query argmax
    * with the same tie-break), dots/norms via the standard
    * left-to-right `list_reduce` fold — every pick replays
    * bit-identically, so the gate is a full hash compare, not a
    * verdict.
    */
  /** The mmr_rerank gate's λ and query-set modulus, shared between the
    * engine call and the generated oracle so they can't drift apart.
    */
  private val MmrLam = 0.5
  private val MmrQueryMod = 50

  /** The span_corruption gate's start-position modulus and span-length
    * spread, shared between the engine call and the oracle (which also
    * derives its look-back window as lenSpread − 1) so changing the
    * parameters cannot silently desync them (ADVICE r8).
    */
  private val ScStartMod = 7
  private val ScLenSpread = 3

  private def mmrSql(nCand: Int, k: Int, lam: Double,
      queryPred: String): String = {
    // lam enters as CAST(.. AS DOUBLE) literals (the bare-decimal
    // DuckDB trap) mirroring the engine's lit(lam)/lit(1.0 - lam), and
    // the query-set predicate is a parameter — engine and oracle stay
    // coupled by construction (ADVICE r7)
    val L = s"CAST($lam AS DOUBLE)"
    val Lc = s"CAST(${1.0 - lam} AS DOUBLE)"
    val steps = (2 to k).map { t =>
      s"""m$t AS (SELECT c.q, c.id, c.rel, max(sm.s) AS ms
         |  FROM c0 c
         |  LEFT JOIN s${t - 1} px ON px.q = c.q AND px.id = c.id
         |  JOIN s${t - 1} pk ON pk.q = c.q
         |  JOIN sim sm ON sm.q = c.q AND sm.ia = c.id AND sm.ib = pk.id
         |  WHERE px.id IS NULL
         |  GROUP BY c.q, c.id, c.rel),
         |p$t AS (SELECT q, id, score, $t AS mmr_rank FROM (
         |  SELECT q, id, $L * rel - $Lc * ms AS score,
         |    row_number() OVER (PARTITION BY q
         |      ORDER BY $L * rel - $Lc * ms DESC, id) AS rn
         |  FROM m$t) WHERE rn = 1),
         |s$t AS (SELECT * FROM s${t - 1} UNION ALL SELECT * FROM p$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH n AS (SELECT vec_id, embedding,
       |  sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS nrm
       |  FROM embeddings),
       |c0 AS (SELECT q, id, rel, cv, cn FROM (
       |  SELECT q, id, rel, cv, cn,
       |    row_number() OVER (PARTITION BY q ORDER BY rel DESC, id) AS rnk
       |  FROM (SELECT q.vec_id AS q, c.vec_id AS id,
       |    list_reduce(list_transform(list_zip(q.embedding, c.embedding),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (x, y) -> x + y)
       |      / (q.nrm * c.nrm) AS rel,
       |    c.embedding AS cv, c.nrm AS cn
       |  FROM n q JOIN n c ON $queryPred AND q.vec_id <> c.vec_id))
       |  WHERE rnk <= $nCand),
       |sim AS (SELECT a.q, a.id AS ia, b.id AS ib,
       |  list_reduce(list_transform(list_zip(a.cv, b.cv),
       |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (x, y) -> x + y)
       |    / (a.cn * b.cn) AS s
       |  FROM c0 a JOIN c0 b ON a.q = b.q AND a.id <> b.id),
       |s1 AS (SELECT q, id, score, 1 AS mmr_rank FROM (
       |  SELECT q, id, $L * rel AS score,
       |    row_number() OVER (PARTITION BY q ORDER BY $L * rel DESC, id) AS rn
       |  FROM c0) WHERE rn = 1),
       |$steps
       |SELECT q AS q_vec_id, CAST(mmr_rank AS INT) AS mmr_rank,
       |  id AS n_vec_id, score
       |FROM s$k ORDER BY q_vec_id, mmr_rank""".stripMargin
  }

  /** Shared by embed_anisotropy and embed_anisotropy_2l: the two
    * moment tilings must hash to the SAME numbers, so one oracle
    * gates both.
    */
  private val AnisotropyOracle: String =
    """WITH q AS (SELECT label, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE)
        |      * CAST(1000000.0 AS DOUBLE)) AS BIGINT)) AS qs
        |  FROM embeddings),
        |cnt AS (SELECT label, CAST(count(*) AS BIGINT) AS n
        |  FROM q GROUP BY label),
        |m1 AS (SELECT label, i, sum(qs[i + 1]) AS s1
        |  FROM q, range(0, 64) t(i) GROUP BY label, i),
        |m2 AS (SELECT label, i, j, sum(qs[i + 1] * qs[j + 1]) AS s2
        |  FROM q, range(0, 64) ti(i), range(0, 64) tj(j)
        |  GROUP BY label, i, j),
        |cov AS (SELECT m2.label, m2.i, m2.j, n,
        |    CAST(n AS HUGEINT) * s2 - a.s1 * b.s1 AS cov_num
        |  FROM m2 JOIN cnt USING (label)
        |  JOIN m1 a ON a.label = m2.label AND a.i = m2.i
        |  JOIN m1 b ON b.label = m2.label AND b.i = m2.j),
        |sc AS (SELECT label, i, j, n,
        |    CAST((CASE WHEN cov_num < 0 THEN -1 ELSE 1 END)
        |      * (abs(cov_num) // (CAST(n AS HUGEINT) * n * 1000000))
        |      AS BIGINT) AS cs
        |  FROM cov),
        |a2 AS (SELECT label, max(n) AS n,
        |    CAST(sum(CASE WHEN i = j THEN cs ELSE 0 END) AS BIGINT)
        |      AS tr_cov_micro,
        |    CAST(sum(CAST(cs AS HUGEINT) * cs) AS BIGINT) AS fro_cov
        |  FROM sc GROUP BY label)
        |SELECT CAST(label AS BIGINT) AS label, n, tr_cov_micro, fro_cov,
        |  CAST(CASE WHEN fro_cov = 0 THEN 0
        |    ELSE floor(CAST(tr_cov_micro AS DOUBLE)
        |      * CAST(tr_cov_micro AS DOUBLE)
        |      / CAST(fro_cov AS DOUBLE) * CAST(1000000.0 AS DOUBLE))
        |  END AS BIGINT) AS pr_micro
        |FROM a2 ORDER BY label""".stripMargin

  val defs: Seq[QDef] = Seq(

    // ---- text stats ------------------------------------------------
    QDef("text_stats", (s, dir) =>
      TextAnalysis.stats(Tables.load(s, dir, "documents"), "text")
        .orderBy("doc_id"),
      Some(s"""WITH tok AS (SELECT doc_id, $DuckToks AS ws FROM documents)
        |SELECT doc_id, CAST(len(ws) AS INT) AS n_tokens,
        |  CAST(len(list_distinct(ws)) AS INT) AS n_uniq,
        |  CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE) / len(ws) AS avg_token_len,
        |  CAST(list_max(list_transform(ws, w -> length(w))) AS INT) AS max_token_len
        |FROM tok ORDER BY doc_id""".stripMargin)),

    // ---- language ID heuristic ------------------------------------
    QDef("lang_id", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs.select(col("doc_id"),
          TextAnalysis.langId(col("text")).as("pred_lang"), col("lang"))
        .withColumn("is_match", (col("pred_lang") === col("lang")).cast("int"))
        .orderBy("doc_id")
    },
      Some(s"""WITH sc AS (
        |  SELECT doc_id, lang,
        |    len(list_filter($DuckToks, w -> list_contains(['der','die','das','und','ist','von','nicht','mit'], w))) AS s_de,
        |    len(list_filter($DuckToks, w -> list_contains(['a','the','of','and','to','in','is','it'], w))) AS s_en,
        |    len(list_filter($DuckToks, w -> list_contains(['le','la','les','et','est','une','que','pour'], w))) AS s_fr
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN greatest(s_de, s_en, s_fr) = 0 THEN 'und'
        |       WHEN s_fr > greatest(s_de, s_en) THEN 'fr'
        |       WHEN s_en > s_de THEN 'en' ELSE 'de' END AS pred_lang,
        |  lang,
        |  CAST((CASE WHEN greatest(s_de, s_en, s_fr) = 0 THEN 'und'
        |       WHEN s_fr > greatest(s_de, s_en) THEN 'fr'
        |       WHEN s_en > s_de THEN 'en' ELSE 'de' END) = lang AS INT) AS is_match
        |FROM sc ORDER BY doc_id""".stripMargin)),

    // ---- quality scoring ------------------------------------------
    QDef("text_quality", (s, dir) =>
      TextAnalysis.quality(Tables.load(s, dir, "documents"), "text")
        .orderBy("doc_id"),
      Some(s"""WITH tok AS (SELECT doc_id, $DuckToks AS ws FROM documents),
        |m AS (SELECT doc_id, len(ws) AS n_tokens,
        |  CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE) / len(ws) AS avg_len,
        |  CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS uniq_ratio FROM tok)
        |SELECT doc_id,
        |  CAST(n_tokens >= 20 AND n_tokens <= 1000 AS INT) AS len_ok,
        |  CAST(avg_len >= 2.0 AND avg_len <= 12.0 AS INT) AS shape_ok,
        |  CAST(uniq_ratio >= 0.2 AS INT) AS uniq_ok,
        |  CAST(n_tokens >= 20 AND n_tokens <= 1000 AS INT)
        |    + CAST(avg_len >= 2.0 AND avg_len <= 12.0 AS INT)
        |    + CAST(uniq_ratio >= 0.2 AS INT) AS quality_score
        |FROM m ORDER BY doc_id""".stripMargin)),

    // ---- Gopher composite quality rules (Rae et al. 2021 Table A1):
    // the published MassiveText document filter, every metric an
    // exact int/int division so the doubles hash identically --------
    QDef("gopher_rules", (s, dir) =>
      TextAnalysis.gopherRules(Tables.load(s, dir, "documents"), "text")
        .orderBy("doc_id"),
      Some(s"""WITH tok AS (SELECT doc_id, text, $DuckToks AS ws FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(len(ws) AS INT) AS n_words,
        |  CASE WHEN len(ws) > 0 THEN
        |    CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE) / len(ws)
        |  END AS mean_word_len,
        |  CASE WHEN len(ws) > 0 THEN
        |    CAST((length(text) - length(replace(text, '#', '')))
        |      + (length(text) - length(replace(text, '...', ''))) / 3 AS DOUBLE)
        |      / len(ws)
        |  END AS symbol_ratio,
        |  CASE WHEN len(ws) > 0 THEN
        |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
        |      / len(ws)
        |  END AS frac_alpha_words,
        |  CAST(len(list_intersect(list_distinct(ws),
        |    ['the','be','to','of','and','that','have','with'])) AS INT)
        |    AS n_stop_hits,
        |  string_split(text, chr(10)) AS lines FROM tok),
        |f AS (SELECT doc_id, n_words, mean_word_len, symbol_ratio,
        |  frac_alpha_words, n_stop_hits,
        |  CAST(n_words >= 50 AND n_words <= 100000 AS INT) AS word_count_ok,
        |  CAST(mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS INT) AS word_len_ok,
        |  CAST(symbol_ratio <= 0.1 AS INT) AS symbol_ok,
        |  CAST(CAST(len(list_filter(lines, l -> starts_with(l, '- ')
        |      OR starts_with(l, '•'))) AS DOUBLE) / len(lines) <= 0.9 AS INT)
        |    AS bullet_ok,
        |  CAST(CAST(len(list_filter(lines, l -> ends_with(l, '...')))
        |      AS DOUBLE) / len(lines) <= 0.3 AS INT) AS ellipsis_ok,
        |  CAST(frac_alpha_words >= 0.8 AS INT) AS alpha_ok,
        |  CAST(n_stop_hits >= 2 AS INT) AS stop_ok FROM m)
        |SELECT *, CAST(word_count_ok * word_len_ok * symbol_ok * bullet_ok
        |  * ellipsis_ok * alpha_ok * stop_ok AS INT) AS gopher_pass
        |FROM f ORDER BY doc_id""".stripMargin)),

    // ---- RAG sliding-window chunking (size=8, stride=4 → 50%
    // overlap); chunk starts at every multiple of the stride ---------
    QDef("chunk_overlap", (s, dir) =>
      TextAnalysis.overlapChunks(Tables.load(s, dir, "documents"), "text",
          "doc_id", size0 = 8, stride = 4)
        .orderBy("doc_id", "chunk_idx"),
      Some(s"""WITH tok AS (SELECT doc_id, $DuckToks AS ws FROM documents),
        |ch AS (SELECT doc_id, CASE WHEN len(ws) = 0
        |  THEN CAST([] AS STRUCT(idx INT, st INT, chunk VARCHAR)[])
        |  ELSE [{'idx': CAST(i AS INT), 'st': CAST(i * 4 AS INT),
        |         'chunk': array_to_string(ws[i*4+1 : i*4+8], ' ')}
        |        for i in range(0, CAST(ceil(len(ws) / 4.0) AS INT))]
        |  END AS cs FROM tok),
        |ex AS (SELECT doc_id, unnest(cs, recursive := true) FROM ch)
        |SELECT doc_id, idx AS chunk_idx, st AS start_tok, chunk AS chunk_text,
        |  CAST(len(list_filter(string_split(chunk, ' '), w -> w <> '')) AS INT)
        |    AS chunk_tokens
        |FROM ex ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ---- BPE-ish token counting -----------------------------------
    QDef("token_count_bpe", (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.bpeTokenCount(col("text")).as("n_bpe"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS INT) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- Gopher-style repetition filters (boilerplate/spam signal) -
    QDef("text_repetition", (s, dir) =>
      TextAnalysis.repetition(Tables.load(s, dir, "documents"), "text")
        .orderBy("doc_id"),
      Some(s"""WITH tok AS (SELECT doc_id, $DuckToks AS ws FROM documents),
        |b AS (SELECT doc_id, ws, CASE WHEN len(ws) >= 2
        |  THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
        |  ELSE [] END AS bg FROM tok),
        |c AS (SELECT doc_id, ws, len(bg) AS nb,
        |  list_transform(list_distinct(bg), d -> len(list_filter(bg, x -> x = d))) AS cnts
        |  FROM b)
        |SELECT doc_id, CAST(nb AS INT) AS n_bigrams,
        |  CASE WHEN nb > 0 THEN CAST(list_max(cnts) AS DOUBLE) / CAST(nb AS DOUBLE) END AS top_bigram_frac,
        |  CASE WHEN nb > 0 THEN CAST(coalesce(list_sum(list_filter(cnts, c2 -> c2 >= 2)), 0) AS DOUBLE) / CAST(nb AS DOUBLE) END AS dup_bigram_frac,
        |  CASE WHEN len(ws) > 0 THEN 1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / CAST(len(ws) AS DOUBLE) END AS dup_token_frac
        |FROM c ORDER BY doc_id""".stripMargin)),

    // ---- pattern scrubbing (the PII/boilerplate-removal primitive;
    // here scrubbing stopword tokens, which this corpus actually
    // contains — the regex machinery is identical for emails/URLs) --
    QDef("text_scrub", (s, dir) =>
      TextAnalysis.scrub(Tables.load(s, dir, "documents"), "text",
          "\\b(a|the)\\b", "<STOP>")
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
        |  regexp_replace(text, '\b(a|the)\b', '<STOP>', 'g') AS clean_text,
        |  CAST(len(regexp_extract_all(text, '\b(a|the)\b')) AS INT) AS n_scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- corpus snapshot diff (versioning audit before a re-train):
    // v2 derived deterministically — %13 docs removed, %7 docs text-
    // revised, %11 docs re-keyed as additions; the diff classifies by
    // id presence + content fingerprint ------------------------------
    QDef("corpus_diff", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val d = col("doc_id")
      val v2 = docs.filter(pmod(d, lit(13)) =!= 0)
        .select(d, when(pmod(d, lit(7)) === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"))
        .union(docs.filter(pmod(d, lit(11)) === 0)
          .select((d + 1000000L).as("doc_id"),
            concat(col("text"), lit(" new")).as("text")))
      graft.llm.Dedup.corpusDiff(docs, v2, "text", "doc_id")
        .orderBy("doc_id")
    },
      Some(s"""WITH v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' new' FROM documents
        |  WHERE doc_id % 11 = 0),
        |o AS (SELECT doc_id, ${duckPoly("text")} AS fp_old FROM documents),
        |n AS (SELECT doc_id, ${duckPoly("text")} AS fp_new FROM v2)
        |SELECT doc_id, fp_old, fp_new,
        |  CASE WHEN fp_old IS NULL THEN 'added'
        |       WHEN fp_new IS NULL THEN 'removed'
        |       WHEN fp_old = fp_new THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // ---- credit-card PII with Luhn verification: regex candidates,
    // checksum-verified before counting/redaction (a 16-digit id with
    // a bad checksum is NOT a card). Deterministic injection like
    // pii_detect: 1/4 valid plain, 1/4 valid dashed, 1/4 Luhn-invalid
    // (must be rejected, NOT redacted), 1/4 clean ---------------------
    QDef("pii_ccard", (s, dir) => {
      val d = col("doc_id")
      val injected = concat(col("text"),
        when(pmod(d, lit(4)) === 0, lit(" pay 4111111111111111 now"))
          .when(pmod(d, lit(4)) === 1, lit(" card 4111-1111-1111-1111 ok"))
          .when(pmod(d, lit(4)) === 2, lit(" ref 1234-5678-9012-3456 code"))
          .otherwise(lit("")))
      TextAnalysis.piiCard(
          Tables.load(s, dir, "documents").withColumn("text", injected),
          "text", "doc_id")
        .orderBy("doc_id")
    },
      Some(s"""WITH aug AS (SELECT doc_id, text || CASE
        |    WHEN doc_id % 4 = 0 THEN ' pay 4111111111111111 now'
        |    WHEN doc_id % 4 = 1 THEN ' card 4111-1111-1111-1111 ok'
        |    WHEN doc_id % 4 = 2 THEN ' ref 1234-5678-9012-3456 code'
        |    ELSE '' END AS text FROM documents),
        |c AS (SELECT doc_id, text,
        |    regexp_extract_all(text, '${TextAnalysis.PiiCard}') AS cands
        |  FROM aug),
        |v AS (SELECT doc_id, text, cands,
        |    list_filter(cands, m -> list_sum(list_transform(
        |      range(1, length(regexp_replace(m, '[^0-9]', '', 'g')) + 1),
        |      i -> CASE WHEN i % 2 = 0 THEN
        |          CASE WHEN 2 * CAST(substr(regexp_replace(m, '[^0-9]', '', 'g'),
        |              length(regexp_replace(m, '[^0-9]', '', 'g')) - i + 1, 1) AS INT) > 9
        |            THEN 2 * CAST(substr(regexp_replace(m, '[^0-9]', '', 'g'),
        |              length(regexp_replace(m, '[^0-9]', '', 'g')) - i + 1, 1) AS INT) - 9
        |            ELSE 2 * CAST(substr(regexp_replace(m, '[^0-9]', '', 'g'),
        |              length(regexp_replace(m, '[^0-9]', '', 'g')) - i + 1, 1) AS INT) END
        |        ELSE CAST(substr(regexp_replace(m, '[^0-9]', '', 'g'),
        |          length(regexp_replace(m, '[^0-9]', '', 'g')) - i + 1, 1) AS INT)
        |      END)) % 10 = 0) AS valid
        |  FROM c),
        |r AS (SELECT doc_id, CAST(len(valid) AS INT) AS n_card,
        |    CAST(len(cands) - len(valid) AS INT) AS n_luhn_rejected,
        |    list_reduce(list_concat([text], valid),
        |      (acc, m) -> replace(acc, m, '<CARD>')) AS red
        |  FROM v)
        |SELECT doc_id, n_card, n_luhn_rejected,
        |  CAST(length(red) AS INT) AS redacted_len,
        |  CASE WHEN length(red) = 0 THEN 0 ELSE ${duckPoly("red")} END AS redacted_fp
        |FROM r ORDER BY doc_id""".stripMargin)),

    // ---- typed PII detect + redact (Dolma-style scrub). The corpus
    // contains no digits, so the gate injects deterministic
    // doc_id-derived PII as part of the query (the multimodal gates'
    // generated-payload precedent) — the detector then has real
    // emails/phones/IPs to find, and ~1/3 of docs stay clean --------
    QDef("pii_detect", (s, dir) => {
      val d = col("doc_id")
      val injected = concat(col("text"),
        when(pmod(d, lit(3)) === 0,
          concat(lit(" contact user"), d.cast("string"),
            lit("@example.com for details")))
        .when(pmod(d, lit(3)) === 1,
          concat(lit(" call 555-"),
            (lit(100) + pmod(d, lit(900))).cast("string"), lit("-"),
            (lit(1000) + pmod(d, lit(9000))).cast("string"),
            lit(" from 10."), pmod(d, lit(256)).cast("string"),
            lit(".0."), pmod(d * 7, lit(256)).cast("string")))
        .otherwise(lit("")))
      TextAnalysis.piiDetect(
          Tables.load(s, dir, "documents").withColumn("text", injected),
          "text", "doc_id")
        .orderBy("doc_id")
    },
      Some(s"""WITH aug AS (SELECT doc_id, text || CASE
        |    WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com for details'
        |    WHEN doc_id % 3 = 1 THEN ' call 555-'
        |      || CAST(100 + doc_id % 900 AS VARCHAR) || '-'
        |      || CAST(1000 + doc_id % 9000 AS VARCHAR)
        |      || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
        |      || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)
        |    ELSE '' END AS text FROM documents),
        |r1 AS (SELECT doc_id, text,
        |  regexp_replace(text, '${TextAnalysis.PiiEmail}', '<EMAIL>', 'g') AS t1
        |  FROM aug),
        |r3 AS (SELECT doc_id, text, t1,
        |  regexp_replace(regexp_replace(t1,
        |    '${TextAnalysis.PiiPhone}', '<PHONE>', 'g'),
        |    '${TextAnalysis.PiiIpv4}', '<IP>', 'g') AS red FROM r1)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '${TextAnalysis.PiiEmail}')) AS INT) AS n_email,
        |  CAST(len(regexp_extract_all(text, '${TextAnalysis.PiiPhone}')) AS INT) AS n_phone,
        |  CAST(len(regexp_extract_all(t1, '${TextAnalysis.PiiIpv4}')) AS INT) AS n_ipv4,
        |  CAST(length(red) AS INT) AS redacted_len,
        |  ${duckPoly("red")} AS redacted_fp
        |FROM r3 ORDER BY doc_id""".stripMargin)),

    // ---- hashing-trick linear classifier inference (FineWeb-Edu /
    // DCLM model-based quality filtering): weights folded into
    // codegen, zero shuffles, exact integer logits ------------------
    QDef("classifier_score", (s, dir) =>
      TextAnalysis.classifierScore(Tables.load(s, dir, "documents"),
          "text", "doc_id", buckets = 128)
        .orderBy("doc_id"),
      Some(s"""WITH tok AS (SELECT doc_id, $DuckToks AS ws FROM documents),
        |sc AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
        |  CAST(list_sum(list_transform(ws, t ->
        |    ((((${duckPoly("t")} % 128) * 2654435761 + 987654321)
        |      % 1000003) % 1001) - 500)) AS BIGINT) AS logit_milli
        |  FROM tok WHERE len(ws) > 0)
        |SELECT doc_id, n_tokens, logit_milli, logit_milli > 0 AS keep
        |FROM sc ORDER BY doc_id""".stripMargin)),

    // ---- BPE tokenizer training (Sennrich et al.): corpus collapses
    // to a (word, freq) vocab table in ONE shuffle, then every merge
    // round is a metadata-scale pair-count + 1-row argmax + literal
    // replace. Oracle = fully unrolled rounds over the same bracketed
    // symbol strings (plain `replace` = greedy BPE application in
    // both engines) ------------------------------------------------
    QDef("bpe_train", (s, dir) =>
      TextAnalysis.bpeTrain(Tables.load(s, dir, "documents"), "text",
          merges = 8)
        .orderBy("round"),
      Some(bpeSql(merges = 8))),

    // ---- URL canonicalization: the web-corpus dedup key. URLs are
    // synthesized deterministically per doc (the pii_detect pattern)
    // to exercise every rule: case, default port, www, empty path,
    // tracking params, param order, fragment --------------------------
    QDef("url_normalize", (s, dir) => {
      val d = col("doc_id").cast("string")
      val url = concat(lit("HTTPS://WWW."), col("source"), lit(".Example.COM"),
        when(col("doc_id") % 2 === 0, lit(":443")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("")).otherwise(concat(lit("/Docs/"), d)),
        lit("?utm_source=feed&z=26&id="), d, lit("&ref=rss&a=1"),
        when(col("doc_id") % 4 === 0, concat(lit("#sec"), d)).otherwise(lit("")))
      val (canon, host, dropped) = TextAnalysis.urlNormalize(url)
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), canon.as("canon_url"), host.as("host"),
          dropped.as("n_tracking"))
        .orderBy("doc_id")
    },
      Some("""WITH u AS (SELECT doc_id,
        |  'HTTPS://WWW.' || source || '.Example.COM' ||
        |  CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END ||
        |  CASE WHEN doc_id % 5 = 0 THEN '' ELSE '/Docs/' || CAST(doc_id AS VARCHAR) END ||
        |  '?utm_source=feed&z=26&id=' || CAST(doc_id AS VARCHAR) || '&ref=rss&a=1' ||
        |  CASE WHEN doc_id % 4 = 0 THEN '#sec' || CAST(doc_id AS VARCHAR) ELSE '' END AS url
        |  FROM documents),
        |x AS (SELECT doc_id,
        |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
        |  regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1), '#.*$', '') AS nofrag
        |  FROM u),
        |y AS (SELECT doc_id, scheme,
        |  regexp_replace(CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |    WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |    ELSE hostport END, '^www\.', '') AS host,
        |  regexp_replace(regexp_replace(nofrag, '\?.*$', ''), '/+$', '') AS rawpath,
        |  string_split(regexp_extract(nofrag, '\?(.*)$', 1), '&') AS qp
        |  FROM x),
        |z AS (SELECT doc_id, scheme, host,
        |  CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS path,
        |  list_sort(list_filter(qp, q -> q <> '' AND NOT regexp_matches(q, '^(utm_[^=]*|ref)='))) AS kept,
        |  len(list_filter(qp, q -> regexp_matches(q, '^(utm_[^=]*|ref)='))) AS dropped
        |  FROM y)
        |SELECT doc_id,
        |  scheme || '://' || host || path ||
        |    CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END AS canon_url,
        |  host, CAST(dropped AS INT) AS n_tracking
        |FROM z ORDER BY doc_id""".stripMargin)),

    // ---- heavy hitters: Misra-Gries candidate sketch (no term-key
    // shuffle — k-entry summaries per partition) + exact bounded-key
    // re-count; output is the exact heavy-hitter set ----------------
    QDef("heavy_hitters", (s, dir) =>
      TextAnalysis.heavyHitters(Tables.load(s, dir, "documents"), "text",
          k = 29)
        .orderBy("w"),
      Some(s"""WITH w AS (SELECT unnest($DuckToks) AS w FROM documents),
        |t AS (SELECT count(*) AS n FROM w),
        |f AS (SELECT w, count(*) AS freq FROM w GROUP BY w)
        |SELECT f.w, CAST(freq AS BIGINT) AS freq, CAST(n AS BIGINT) AS n_tokens,
        |  1 AS sketch_ok
        |FROM f, t WHERE freq * 30 > n ORDER BY w""".stripMargin)),

    // ---- count-min sketch point-frequency estimates: mergeable
    // depth×width summary, guarantee verdicts pinned by the oracle
    // (est ≥ true; est ≤ true + ε·n), probe set = exact top-20 ------
    QDef("freq_cms", (s, dir) =>
      TextAnalysis.cmsFreq(Tables.load(s, dir, "documents"), "text",
          topK = 20)
        .orderBy("w"),
      Some(s"""WITH w AS (SELECT unnest($DuckToks) AS w FROM documents),
        |f AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM w GROUP BY w),
        |t AS (SELECT w, freq FROM f ORDER BY freq DESC, w LIMIT 20)
        |SELECT w, freq, 1 AS cms_lower_ok, 1 AS cms_upper_ok
        |FROM t ORDER BY w""".stripMargin)),

    // ---- BPE encoding: apply the trained merge table corpus-wide —
    // merge rules fold into codegen as a literal replace chain, so
    // encoding is one narrow scan (no vocab join, no shuffle) --------
    QDef("bpe_encode", (s, dir) =>
      TextAnalysis.bpeEncode(Tables.load(s, dir, "documents"), "text",
          "doc_id", merges = 8)
        .orderBy("doc_id"),
      Some(bpeEncodeSql(merges = 8))),

    // ---- canonical normalization: the pre-dedup cleanup pass -------
    QDef("text_normalize", (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.normalize(col("text")).as("norm_text"),
          length(TextAnalysis.normalize(col("text"))).as("norm_len"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |    ' +', ' ', 'g')) AS norm_text,
        |  CAST(len(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |    ' +', ' ', 'g'))) AS INT) AS norm_len
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- domain mixing: deterministic per-source downsampling ------
    QDef("stratified_sample", (s, dir) =>
      graft.llm.Sampling.stratifiedSample(Tables.load(s, dir, "documents"),
          "doc_id", "source", Map("src0" -> 80, "src1" -> 40), defaultRate = 10)
        .select("doc_id", "source")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, source FROM documents
        |WHERE doc_id % 100 < CASE source WHEN 'src0' THEN 80
        |                                 WHEN 'src1' THEN 40 ELSE 10 END
        |ORDER BY doc_id""".stripMargin)),

    // ---- temperature-weighted (α=0.5) domain mixing: rate ∝
    // sqrt-share, integer-exact except one IEEE-correctly-rounded
    // sqrt, keep decision a pure function of the row ----------------
    QDef("temperature_sample", (s, dir) =>
      // modulus 100 ≤ the gate id spread so the keep decision is
      // actually exercised (row counts shrink to ~the target), not
      // vacuously true for every small doc_id
      graft.llm.Sampling.temperatureSample(Tables.load(s, dir, "documents"),
          "doc_id", "source", targetFracMicro = 250000L, modulus = 100L)
        .select("doc_id", "source", "rate_micro")
        .orderBy("doc_id"),
      Some("""WITH n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_d
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_d) AS BIGINT) AS n FROM n),
        |w AS (SELECT source, n_d,
        |    CAST(floor(sqrt(CAST(n_d AS DOUBLE)) * 1000.0) AS BIGINT) AS w_milli
        |  FROM n),
        |ww AS (SELECT CAST(sum(w_milli) AS BIGINT) AS w_total FROM w),
        |r AS (SELECT source, CAST(least(CAST(1000000 AS HUGEINT),
        |    (CAST(250000 AS HUGEINT) * n * w_milli)
        |      // (CAST(w_total AS HUGEINT) * n_d)) AS BIGINT) AS rate_micro
        |  FROM w CROSS JOIN tot CROSS JOIN ww)
        |SELECT d.doc_id, d.source, rate_micro
        |FROM documents d JOIN r USING (source)
        |WHERE (d.doc_id % 100) * 10000 < rate_micro
        |ORDER BY d.doc_id""".stripMargin)),

    // ---- weighted sampling without replacement (exponential-race
    // priorities, Efraimidis–Spirtakis family): content-addressed
    // integer priorities, global top-k via TakeOrdered ---------------
    QDef("weighted_sample", (s, dir) =>
      graft.llm.Sampling.weightedSample(Tables.load(s, dir, "documents"),
          "text", "doc_id", "n_chars", k = 100)
        .orderBy("priority", "doc_id"),
      Some(s"""SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
        |  (${duckPoly("text")} * 1000000) // n_chars AS priority
        |FROM documents ORDER BY priority, doc_id LIMIT 100""".stripMargin)),

    // ---- per-domain document cap (CommonCrawl anti-spam rule):
    // content-hash priority within each domain, WindowGroupLimit
    // prunes to top-cap per map task before the shuffle --------------
    QDef("domain_cap", (s, dir) =>
      graft.llm.Sampling.domainCap(Tables.load(s, dir, "documents"),
          "text", "doc_id", "source", cap = 10)
        .select("doc_id", "source", "domain_rank")
        .orderBy("doc_id"),
      Some(s"""WITH r AS (SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY ${duckPoly("text")}, doc_id) AS INT) AS domain_rank
        |  FROM documents)
        |SELECT doc_id, source, domain_rank FROM r
        |WHERE domain_rank <= 10 ORDER BY doc_id""".stripMargin)),

    // ---- filter-cascade attrition report (cleaning-pipeline audit):
    // one scan, one global aggregate, |rules| report rows ------------
    QDef("filter_attrition", (s, dir) => {
      import org.apache.spark.sql.functions.{array_distinct, regexp_replace, size}
      val w = size(TextAnalysis.tokens(col("text")))
      val ns = length(regexp_replace(col("text"), " ", ""))
      val uq = size(array_distinct(TextAnalysis.tokens(col("text"))))
      TextAnalysis.filterAttrition(Tables.load(s, dir, "documents"), Seq(
          "min_words_20" -> (w >= 20),
          "max_chars_500" -> (col("n_chars") <= 500),
          "lang_latin" -> col("lang").isin("en", "de", "es", "fr"),
          "mean_wordlen_3_9" -> (ns >= w * 3 && ns <= w * 9),
          "uniq_ratio_30" -> (uq * 10 >= w * 3)))
        .orderBy("stage")
    },
      Some(s"""WITH f AS (SELECT
        |    CAST(len($DuckToks) AS INT) AS w,
        |    CAST(length(replace(text, ' ', '')) AS INT) AS ns,
        |    CAST(len(list_distinct($DuckToks)) AS INT) AS uq,
        |    n_chars, lang
        |  FROM documents),
        |b AS (SELECT w >= 20 AS f1, n_chars <= 500 AS f2,
        |    lang IN ('en', 'de', 'es', 'fr') AS f3,
        |    ns >= w * 3 AND ns <= w * 9 AS f4,
        |    uq * 10 >= w * 3 AS f5 FROM f),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS ct,
        |    CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        |    CAST(sum(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
        |    CAST(sum(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
        |    CAST(sum(CASE WHEN f1 AND f2 AND f3 AND f4 AND f5 THEN 1 ELSE 0 END) AS BIGINT) AS c5,
        |    CAST(sum(CASE WHEN NOT f1 THEN 1 ELSE 0 END) AS BIGINT) AS m1,
        |    CAST(sum(CASE WHEN NOT f2 THEN 1 ELSE 0 END) AS BIGINT) AS m2,
        |    CAST(sum(CASE WHEN NOT f3 THEN 1 ELSE 0 END) AS BIGINT) AS m3,
        |    CAST(sum(CASE WHEN NOT f4 THEN 1 ELSE 0 END) AS BIGINT) AS m4,
        |    CAST(sum(CASE WHEN NOT f5 THEN 1 ELSE 0 END) AS BIGINT) AS m5
        |  FROM b)
        |SELECT * FROM (
        |  SELECT 1 AS stage, 'min_words_20' AS rule, ct AS n_in,
        |    ct - c1 AS n_removed, c1 AS n_out, m1 AS n_fail_alone FROM a
        |  UNION ALL SELECT 2, 'max_chars_500', c1, c1 - c2, c2, m2 FROM a
        |  UNION ALL SELECT 3, 'lang_latin', c2, c2 - c3, c3, m3 FROM a
        |  UNION ALL SELECT 4, 'mean_wordlen_3_9', c3, c3 - c4, c4, m4 FROM a
        |  UNION ALL SELECT 5, 'uniq_ratio_30', c4, c4 - c5, c5, m5 FROM a)
        |ORDER BY stage""".stripMargin)),

    // ---- context-window sequence packing (per-shard window cumsum) -
    QDef("pack_sequences", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val withTok = docs.select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens(col("text"))).as("n_tokens"))
      graft.llm.Sampling.packSequences(withTok, "doc_id", "source", "n_tokens", 512)
        .orderBy("doc_id")
    },
      Some(s"""WITH t AS (SELECT doc_id, source, CAST(len($DuckToks) AS INT) AS n_tokens FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |  CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS tokens_before
        |  FROM t)
        |SELECT doc_id, source, n_tokens, tokens_before,
        |  CAST(floor(CAST(tokens_before AS DOUBLE) / 512) AS BIGINT) AS seq_window,
        |  tokens_before % 512 AS window_offset
        |FROM c ORDER BY doc_id""".stripMargin)),

    // ---- line-level dedup (CCNet/RefinedWeb boilerplate removal):
    // 8-word "lines" recurring in >= 3 distinct docs are stripped
    // everywhere, survivors re-stitched in order; clean_fp is
    // order-sensitive over the full cleaned text -----------------------
    QDef("line_dedup", (s, dir) =>
      TextAnalysis.lineDedup(Tables.load(s, dir, "documents"), "text",
          "doc_id", lineWords = 8, maxDocs = 3)
        .orderBy("doc_id"),
      Some(s"""WITH ws AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |ln AS (SELECT doc_id, i AS line_idx,
        |    array_to_string(w[(i*8+1):(i*8+8)], ' ') AS line
        |  FROM ws, unnest(generate_series(0,
        |    CAST(ceil(len(w) / 8.0) AS INT) - 1)) AS s(i)),
        |cnt AS (SELECT line, count(DISTINCT doc_id) AS n_docs
        |  FROM ln GROUP BY line),
        |j AS (SELECT doc_id, line_idx, ln.line, n_docs
        |  FROM ln JOIN cnt ON ln.line = cnt.line),
        |agg AS (SELECT doc_id, count(*) AS n_lines,
        |    CAST(sum(CASE WHEN n_docs < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |    coalesce(string_agg(CASE WHEN n_docs < 3 THEN line END, ' '
        |      ORDER BY line_idx), '') AS clean
        |  FROM j GROUP BY doc_id)
        |SELECT doc_id, n_lines, n_kept,
        |  CAST(length(clean) AS INT) AS clean_len,
        |  CASE WHEN length(clean) = 0 THEN 0
        |       ELSE ${duckPoly("clean")} END AS clean_fp
        |FROM agg ORDER BY doc_id""".stripMargin)),

    // ---- rolling-hash fingerprint (native codegen'd expression) ----
    QDef("doc_fingerprint", (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, ${duckPoly("text")} AS fp
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- winnowing fingerprints (MOSS): rightmost-min k-gram hash
    // per w-window — selection replayed exactly by the oracle via the
    // same (hash asc, pos desc) packed-integer key --------------------
    QDef("winnow_fingerprint", (s, dir) =>
      TextAnalysis.winnow(Tables.load(s, dir, "documents"), "text",
          "doc_id", k = 4, w = 4)
        .orderBy("doc_id", "pos"),
      Some(s"""$winnowCtes
        |SELECT doc_id, CAST(1048575 - (wkey % 1048576) AS INT) AS pos,
        |  wkey // 1048576 AS fp
        |FROM u ORDER BY doc_id, pos""".stripMargin)),

    // ---- substring-level near-dup pairing over the winnowed index
    // (MOSS candidate stage): ≥ w+k−1-token matches are guaranteed a
    // shared fingerprint, at ~2/(w+1) of the full k-gram index -------
    QDef("winnow_neardup", (s, dir) =>
      Dedup.winnowNearDups(Tables.load(s, dir, "documents"), "text",
          "doc_id", k = 4, w = 4, minShared = 2)
        .orderBy("ia", "ib"),
      Some(s"""$winnowCtes,
        |fps AS (SELECT DISTINCT doc_id, wkey // 1048576 AS fp FROM u),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp
        |  FROM fps GROUP BY 1),
        |pr AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT ia, ib, n_shared,
        |  CAST(n_shared AS DOUBLE) / least(sa.n_fp, sb.n_fp) AS overlap_frac
        |FROM pr JOIN sz sa ON pr.ia = sa.doc_id
        |  JOIN sz sb ON pr.ib = sb.doc_id
        |WHERE n_shared >= 2 ORDER BY ia, ib""".stripMargin)),

    // ---- exact dedup ----------------------------------------------
    QDef("dedup_exact", (s, dir) =>
      Dedup.exact(Tables.load(s, dir, "documents"), "text", "doc_id")
        .orderBy("content_hash"),
      Some("""SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin)),

    // ---- MinHash-LSH near-dups (verified against exact all-pairs) --
    QDef("dedup_minhash_lsh", (s, dir) =>
      Dedup.minhashNearDups(Tables.load(s, dir, "documents"), "text", "doc_id",
          shingleN = 3, threshold = 0.5)
        .orderBy("ia", "ib"),
      Some(s"""WITH ${jaccardPairCtes(3, 0.5)}
        |SELECT ia, ib, jaccard FROM p ORDER BY ia, ib""".stripMargin)),

    // ---- near-dup clusters: connected components over the verified
    // pair graph → keep-one-representative semantics. Oracle: the
    // same pairs via the inverted-index Jaccard (r14 — the all-pairs
    // form lives in tools/oracle_ab.py), closed transitively with a
    // recursive CTE.
    QDef("dedup_clusters", (s, dir) =>
      Dedup.nearDupClusters(
          Dedup.minhashNearDups(Tables.load(s, dir, "documents"), "text", "doc_id",
            shingleN = 3, threshold = 0.5))
        .orderBy("doc_id"),
      Some(ClustersOracleSql)),

    // ---- the distributed connected-components path (Kiveris et al.
    // large-star/small-star), force-gated against the SAME oracle SQL
    // as dedup_clusters (the r8/r15 swap-gate discipline — VERDICT r15
    // #3: the driver union-find fast path was the only gated form).
    // driverBytesThreshold = -1 disqualifies the driver path even for
    // an empty pair graph, so this row proves the 100 TB form —
    // O(log n) grouped-min shuffle rounds, no neighbor lists, no
    // driver collect — lands the IDENTICAL (doc_id, cluster_id)
    // assignment: same components, same min-id representatives.
    QDef("dedup_clusters_diststar", (s, dir) =>
      Dedup.nearDupClusters(
          Dedup.minhashNearDups(Tables.load(s, dir, "documents"), "text", "doc_id",
            shingleN = 3, threshold = 0.5),
          driverBytesThreshold = -1L)
        .orderBy("doc_id"),
      Some(ClustersOracleSql)),

    // ---- end-to-end dedup: keep one representative per near-dup
    // cluster (the user-facing operation the pieces above compose
    // into). The pair graph is verified near-dup pairs UNION exact
    // (md5) duplicate pairs — the latter covers byte-identical docs
    // shorter than the shingle width, whose Jaccard is undefined.
    // Oracle: the same anti-join over the recursive closure.
    QDef("dedup_keep_representatives", (s, dir) =>
      Dedup.dropNearDups(Tables.load(s, dir, "documents"), "text", "doc_id")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE ${jaccardPairCtes(3, 0.5)},
        |ex AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib
        |  FROM documents a JOIN documents b
        |  ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id),
        |e AS (SELECT ia AS a, ib AS b FROM p UNION SELECT ib, ia FROM p
        |      UNION SELECT ia, ib FROM ex UNION SELECT ib, ia FROM ex),
        |reach(a, b) AS (
        |  SELECT DISTINCT a, a FROM e
        |  UNION
        |  SELECT e.a, r.b FROM e JOIN reach r ON e.b = r.a),
        |losers AS (
        |  SELECT a AS doc_id FROM reach GROUP BY a HAVING min(b) <> a)
        |SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
        |ORDER BY doc_id""".stripMargin)),

    // ---- exact n-gram Jaccard via inverted index (no LSH) ----------
    QDef("dedup_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccardPairs(Tables.load(s, dir, "documents"), "text", "doc_id",
          shingleN = 2, threshold = 0.5)
        .orderBy("ia", "ib"),
      Some(s"""WITH ${jaccardPairCtes(2, 0.5)}
        |SELECT ia, ib, jaccard FROM p ORDER BY ia, ib""".stripMargin)),

    // ---- asymmetric containment pairs (quote/subset detection —
    // tiny-inside-huge has small Jaccard but containment 1.0) --------
    QDef("dedup_containment", (s, dir) =>
      // classic inverted-index form. The lossless prefix-filtered
      // variant (containmentPairsPrefix, bit-identical per LlmSpec and
      // AlgoPropertySpec) is the 100 TB path on Zipfian real corpora
      // (Bayardo et al., WWW'07) — gated below as
      // dedup_containment_prefix against this same oracle. Timings of
      // the two forms: docs/HISTORY.md "Inverted-index pair kernel".
      Dedup.containmentPairs(Tables.load(s, dir, "documents"), "text",
          "doc_id", shingleN = 2, threshold = 0.8)
        .orderBy("ia", "ib"),
      Some(ContainmentOracleSql)),

    // ---- the 100 TB containment path (Bayardo prefix filtering),
    // oracle-gated against the SAME SQL as dedup_containment: the two
    // engine forms are proven bit-identical (LlmSpec,
    // AlgoPropertySpec), so the swap-gate discipline (r8:
    // profile_table_approx precedent) gives the scale-recommended form
    // its own green correctness row rather than leaving it spec-only -
    QDef("dedup_containment_prefix", (s, dir) =>
      Dedup.containmentPairsPrefix(Tables.load(s, dir, "documents"),
          "text", "doc_id", shingleN = 2, threshold = 0.8)
        .orderBy("ia", "ib"),
      Some(ContainmentOracleSql)),

    // ---- SimHash signatures ---------------------------------------
    QDef("dedup_simhash", (s, dir) =>
      Dedup.simhash(Tables.load(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id"),
      Some(s"""$SimhashSigCtes
        |SELECT doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin)),

    // ---- SimHash Hamming-block pairing (Manku et al., WWW'07):
    // pigeonhole candidates on exact (block, bits) buckets, verify
    // with popcount(xor) — the oracle replays the verify over all
    // pairs, which the blocking provably covers for hamming <= 2.
    // Signatures hash DISTINCT 3-gram shingles (first-occurrence
    // order, like WordShingles) — unigram features collapse on this
    // vocabulary (see Dedup.simhashShingles) ------------------------
    QDef("simhash_pairs", (s, dir) =>
      Dedup.simhashPairs(Tables.load(s, dir, "documents"), "text",
          "doc_id", maxHamming = 2, shingleN = 3)
        .orderBy("ia", "ib"),
      Some(s"""WITH tok AS (
        |  SELECT doc_id, $DuckToks AS ws FROM documents),
        |g AS (SELECT doc_id, list_distinct([array_to_string(ws[i+1 : i+3], ' ')
        |    for i in range(0, len(ws) - 2)]) AS grams
        |  FROM tok WHERE len(ws) >= 3),
        |th AS (SELECT doc_id, unnest(list_transform(grams,
        |    s -> ${duckPoly("s")})) AS h FROM g),
        |bits AS (
        |  SELECT doc_id, j,
        |    sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM th CROSS JOIN generate_series(0, 29) AS t(j)
        |  GROUP BY doc_id, j),
        |sig AS (SELECT doc_id,
        |  CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS ia, b.doc_id AS ib,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
        |ORDER BY ia, ib""".stripMargin)),

    // ---- embedding cosine near-dups -------------------------------
    QDef("dedup_embedding", (s, dir) =>
      Dedup.embeddingNearDups(Tables.load(s, dir, "embeddings"), "embedding",
          "vec_id", threshold = 0.4)
        .orderBy("ia", "ib"),
      Some(s"""$EmbeddingPairCtes
        |SELECT ia, ib, cos FROM p ORDER BY ia, ib""".stripMargin)),

    // ---- the 100 TB embedding near-dup path: hyperplane-LSH bucketed
    // candidates + exact-cosine verify, gated via the verdict pattern
    // (rows = the EXACT pair set, SQL-reproducible; recall_ok pins the
    // LSH path's recovery ≥ 0.5 — measured 0.73/0.68/0.63 at
    // sf0.001/0.01/0.1 with bits=6 probeBits=2; mid-range because
    // threshold-0.4 pairs sit near 66°, outside the near-dup angles
    // LSH is built for — the high-recall-at-high-cos guarantee is
    // asserted in LlmSpec). Production callers run the LSH path alone;
    // the gate runs both by design, like ann_ivf ------------------
    QDef("dedup_embedding_lsh", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Dedup.pairsWithRecallVerdict(
          Dedup.embeddingNearDups(emb, "embedding", "vec_id", threshold = 0.4),
          Dedup.embeddingNearDupsLsh(emb, "embedding", "vec_id",
            threshold = 0.4, bits = 6, probeBits = 2), minRecall = 0.5)
        .orderBy("ia", "ib")
    }, Some(s"""$EmbeddingPairCtes
      |SELECT ia, ib, cos, 1 AS recall_ok FROM p ORDER BY ia, ib""".stripMargin)),

    // ---- the high-recall LSH regime gate (VERDICT r15 #6): the
    // threshold-0.4 gate above pins only the 0.5 recall floor, because
    // cos-0.4 pairs sit near 66° — outside LSH's design regime. This
    // row asserts the guarantee users actually rely on: on a corpus
    // whose qualifying pairs ARE near-duplicates (planted shifted
    // copies at cos ≈ 0.993 — Dedup.plantShiftedNearDups, derived
    // bit-reproducibly from the embeddings table so the DuckDB oracle
    // replays it), the PRODUCTION config (bits=8, probeBits=1 — the
    // embeddingNearDupsLsh defaults) recovers ≥ 0.9 of all cos ≥ 0.8
    // pairs. Measured (bit-deterministic): 0.92 / 0.96 / 0.93 at
    // sf0.001/0.01/0.1. Un-planted pairs never reach 0.8 (max
    // observed cos ≈ 0.6), so the exact pair set is exactly the
    // planted set ----------------------------------------------------
    QDef("dedup_embedding_lsh_hi", (s, dir) => {
      val aug = Dedup.plantShiftedNearDups(Tables.load(s, dir, "embeddings"),
        "embedding", "vec_id", every = 10, shift = 0.015, idOffset = 1000000L)
      Dedup.pairsWithRecallVerdict(
          Dedup.embeddingNearDups(aug, "embedding", "vec_id", threshold = 0.8),
          Dedup.embeddingNearDupsLsh(aug, "embedding", "vec_id",
            threshold = 0.8), minRecall = 0.9)
        .orderBy("ia", "ib")
    }, Some("""WITH aug AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE) + 0.015)
      |  FROM embeddings WHERE vec_id % 10 = 0),
      |n AS (SELECT vec_id, v,
      |  list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm2
      |  FROM aug),
      |p AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
      |  list_reduce(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2]),
      |      (x, y) -> x + y) / (sqrt(a.nrm2) * sqrt(b.nrm2)) AS cos
      |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
      |SELECT ia, ib, cos, 1 AS recall_ok FROM p WHERE cos >= 0.8
      |ORDER BY ia, ib""".stripMargin)),

    // ---- brute-force cosine top-k (ANN baseline) -------------------
    QDef("ann_topk_exact", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.bruteForceTopK(
          emb.filter(col("vec_id") % 50 === 0), emb, k = 5)
        .orderBy("q_vec_id", "rank")
    },
      Some("""WITH n AS (SELECT vec_id, embedding,
        |  sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS nrm
        |  FROM embeddings),
        |p AS (SELECT q.vec_id AS q_vec_id, c.vec_id AS n_vec_id,
        |  list_reduce(list_transform(list_zip(q.embedding, c.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (x, y) -> x + y)
        |    / (q.nrm * c.nrm) AS cos
        |  FROM n q JOIN n c ON q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id),
        |r AS (SELECT q_vec_id, n_vec_id, cos,
        |  CAST(row_number() OVER (PARTITION BY q_vec_id ORDER BY cos DESC, n_vec_id) AS INT) AS rank
        |  FROM p)
        |SELECT q_vec_id, rank, n_vec_id, cos FROM r WHERE rank <= 5
        |ORDER BY q_vec_id, rank""".stripMargin)),

    // ---- IVF probe ANN (scale path). Hash-gated via the verdict
    // pattern (Similarity.topKWithRecallVerdict): rows are the EXACT
    // top-k (SQL-reproducible), recall_ok pins IVF's recall ≥ 0.3
    // (measured 0.36–0.52 at nprobe=3/10 cells on the uniform
    // testdata; bit-deterministic). High-recall-on-clustered-data is
    // asserted in LlmSpec. The gate runs both paths by design —
    // production callers use ivfTopK alone.
    QDef("ann_ivf", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") % 50 === 0)
      Similarity.topKWithRecallVerdict(
          Similarity.bruteForceTopK(qs, emb, k = 5),
          Similarity.ivfTopK(qs, emb, k = 5, nprobe = 3), minRecall = 0.3)
        .orderBy("q_vec_id", "rank")
    }, Some(AnnExactSqlWithVerdict)),

    // ---- IVF-PQ with ADC scan + exact re-rank (the FAISS
    // billion-vector layout): candidate scan reads only (cell, id,
    // codes); same verdict gate — a broken codebook/ADC/rerank chain
    // collapses recall_ok. recall_ok pins ≥ 0.2: measured 0.36 / 0.52
    // / 0.28 at sf0.001/0.01/0.1 with this config — each scale's
    // plateau equals its IVF nprobe=3 probe ceiling, i.e. the PQ+rerank
    // chain inside the probed cells is near-lossless even on uniform
    // data (the worst case for quantization; clustered-data recall is
    // pinned high in LlmSpec) ----------------------------------------
    QDef("ann_ivfpq", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") % 50 === 0)
      Similarity.topKWithRecallVerdict(
          Similarity.bruteForceTopK(qs, emb, k = 5),
          Similarity.ivfpqTopK(qs, emb, k = 5, nprobe = 3, nSub = 4,
            codeK = 8, iters = 1, rerank = 32), minRecall = 0.2)
        .orderBy("q_vec_id", "rank")
    }, Some(AnnExactSqlWithVerdict)),

    // ---- token-budget allocation across domains (waterfilling): cap
    // level c such that Σ min(n_d, c) = B — the "spend a fixed token
    // budget without letting big domains starve small ones" mixture
    // solve. Everything after the per-domain aggregate runs on the
    // ≤|domains|-row metadata frame (global windows there are
    // metadata-scale — see PlanAuditSpec): ascending prefix sums give
    // every candidate level c_k = (B − P_{k})/(m − k) in closed form,
    // validity brackets pick the waterfill level (all valid
    // candidates carry the same c, so a null-skipping min selects
    // it), and alloc = least(n_d, c). One fixed-order double division
    // per candidate — both engines replay it bit-identically.
    QDef("mixture_waterfill", (s, dir) =>
      graft.llm.Sampling.waterfill(
          Tables.load(s, dir, "documents")
            .groupBy("source").agg(sum("n_chars").as("n")),
          budgetFrac = 0.95)
        .orderBy("source"),
      Some("""WITH d AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |r AS (SELECT source, n,
        |    row_number() OVER w AS rk,
        |    lag(n) OVER w AS prev_n,
        |    sum(n) OVER (ORDER BY n, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix,
        |    sum(n) OVER () AS total,
        |    count(*) OVER () AS m
        |  FROM d WINDOW w AS (ORDER BY n, source)),
        |c AS (SELECT *,
        |    -- 0.95 must be DOUBLE: DuckDB parses the bare literal as
        |    -- DECIMAL and decimal math drifts from the engine's
        |    -- double path in the last bits
        |    (CAST(0.95 AS DOUBLE) * total - (prefix - n))
        |      / (m - (rk - 1)) AS cand
        |  FROM r),
        |l AS (SELECT *, min(CASE WHEN cand <= n
        |      AND (rk = 1 OR cand >= prev_n) THEN cand END) OVER () AS c_lvl
        |  FROM c)
        |SELECT source, n AS n_tokens,
        |  least(CAST(n AS DOUBLE), c_lvl) AS alloc,
        |  CAST(n > c_lvl AS INT) AS capped
        |FROM l ORDER BY source""".stripMargin)),

    // ---- corpus-balance audit: Gini concentration of the domain
    // mixture (0 = perfectly balanced, →1 = one domain dominates) —
    // the one-number health check next to domain_mixture_stats.
    // Gini = Σ(2i − m − 1)·x_(i) / (m·Σx) over ascending sizes: the
    // numerator is EXACT integer arithmetic on the ≤|domains|-row
    // metadata frame (the waterfill discipline), the final value one
    // IEEE division.
    QDef("domain_gini", (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val ord = W.orderBy("n", "source")
      val all = W.orderBy("n", "source")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
      Tables.load(s, dir, "documents")
        .groupBy("source").agg(sum("n_chars").as("n"))
        .withColumn("rk", row_number().over(ord))
        .withColumn("m", count(lit(1)).over(all))
        .withColumn("tot", sum("n").over(all))
        .withColumn("num",
          sum((lit(2) * col("rk") - col("m") - 1) * col("n")).over(all))
        .select(col("m").as("n_domains"), col("tot").as("total_tokens"),
          (col("num").cast("double") / (col("m") * col("tot"))).as("gini"))
        .limit(1)
    },
      Some("""WITH d AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |r AS (SELECT n,
        |    CAST(row_number() OVER (ORDER BY n, source) AS INT) AS rk,
        |    CAST(count(*) OVER () AS BIGINT) AS m,
        |    CAST(sum(n) OVER () AS BIGINT) AS tot
        |  FROM d)
        |SELECT CAST(m AS BIGINT) AS n_domains, tot AS total_tokens,
        |  CAST(sum((2 * rk - m - 1) * n) AS DOUBLE) / (m * tot) AS gini
        |FROM r GROUP BY m, tot""".stripMargin)),

    // ---- curriculum ordering: band-stratified round-robin training
    // order (short/easy docs interleaved with long/hard ones instead
    // of a length-sorted corpus). The global position needs NO global
    // window: pos = within_band_rank · nBands + band — per-band
    // windows only, and the formula guarantees a total order with the
    // bands perfectly interleaved. Difficulty proxy here = length
    // bands with literal boundaries (swap in any quality score).
    QDef("curriculum_order", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val band = when(col("n_chars") < 180, 0)
        .when(col("n_chars") < 310, 1)
        .when(col("n_chars") < 420, 2).otherwise(3)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("band").orderBy("doc_id")
      docs.select(col("doc_id"), band.as("band"))
        .withColumn("band_rank", row_number().over(w) - 1)
        .select(col("doc_id"), col("band"),
          (col("band_rank") * 4 + col("band")).as("curriculum_pos"))
        .orderBy("doc_id")
    },
      Some("""WITH b AS (SELECT doc_id,
        |    CASE WHEN n_chars < 180 THEN 0 WHEN n_chars < 310 THEN 1
        |         WHEN n_chars < 420 THEN 2 ELSE 3 END AS band
        |  FROM documents),
        |r AS (SELECT doc_id, band,
        |    row_number() OVER (PARTITION BY band ORDER BY doc_id) - 1 AS br
        |  FROM b)
        |SELECT doc_id, CAST(band AS INT) AS band,
        |  CAST(br * 4 + band AS INT) AS curriculum_pos
        |FROM r ORDER BY doc_id""".stripMargin)),

    // ---- collocation extraction: within-document term co-occurrence
    // lift (binary-occurrence PMI's exp) over the frequent vocabulary.
    // df-prune FIRST (broadcast ≥minDf terms) so the per-doc pair
    // fan-out is bounded by the frequent-vocab size, never the raw
    // vocabulary; pairs via the doc-key equi-self-join (never
    // all-pairs on terms); exact bigint counts, lift = one IEEE
    // division. Top-20 by lift so the gate output is bounded.
    QDef("collocations", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val dt = docs.select(col("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(col("text")))).as("term"))
      val dfT = dt.groupBy("term").agg(count(lit(1)).as("df"))
      val fdt = dt.join(broadcast(dfT.filter(col("df") >= 25)), "term")
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val pairs = fdt.as("x")
        .join(fdt.as("y"), col("x.doc_id") === col("y.doc_id")
          && col("x.term") < col("y.term"))
        .groupBy(col("x.term").as("term_a"), col("y.term").as("term_b"))
        .agg(count(lit(1)).as("n_ab"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("lift").desc, col("term_a"), col("term_b"))
      pairs
        .join(broadcast(dfT.select(col("term").as("term_a"),
          col("df").as("df_a"))), "term_a")
        .join(broadcast(dfT.select(col("term").as("term_b"),
          col("df").as("df_b"))), "term_b")
        .crossJoin(broadcast(nDocs))
        .withColumn("lift", (col("n_ab") * col("n_docs")).cast("double")
          / (col("df_a") * col("df_b")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 20)
        .select("rk", "term_a", "term_b", "n_ab", "lift")
        .orderBy("rk")
    },
      Some(s"""WITH dt AS (SELECT DISTINCT doc_id, unnest($DuckToks) AS term
        |  FROM documents),
        |dfT AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY 1),
        |f AS (SELECT dt.doc_id, dt.term FROM dt
        |  JOIN dfT USING (term) WHERE df >= 25),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |p AS (SELECT x.term AS term_a, y.term AS term_b,
        |    CAST(count(*) AS BIGINT) AS n_ab
        |  FROM f x JOIN f y ON x.doc_id = y.doc_id AND x.term < y.term
        |  GROUP BY 1, 2),
        |l AS (SELECT term_a, term_b, n_ab,
        |    CAST(n_ab * n_docs AS DOUBLE) / (a.df * b.df) AS lift
        |  FROM p JOIN dfT a ON a.term = p.term_a
        |    JOIN dfT b ON b.term = p.term_b, n),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY lift DESC,
        |    term_a, term_b) AS INT) AS rk FROM l)
        |SELECT rk, term_a, term_b, n_ab, lift FROM r
        |WHERE rk <= 20 ORDER BY rk""".stripMargin)),

    // ---- token-distribution entropy: the template/boilerplate
    // quality signal (low entropy = few repeated types). Quantized
    // per-term logs summed as integers (the unigram_logprob rule) —
    // order-independent, libm-drift-proof ---------------------------
    QDef("token_entropy", (s, dir) =>
      TextAnalysis.tokenEntropy(Tables.load(s, dir, "documents"),
          "text", "doc_id")
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, unnest($DuckToks) AS term FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM t GROUP BY 1, 2),
        |d AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS toks,
        |    CAST(count(*) AS BIGINT) AS n_types FROM tf GROUP BY 1),
        |e AS (SELECT tf.doc_id, d.toks, d.n_types,
        |    CAST(sum(tf * CAST(floor(ln(CAST(toks AS DOUBLE) / tf)
        |      * 1000000.0) AS BIGINT)) AS BIGINT) AS entropy_micro
        |  FROM tf JOIN d USING (doc_id) GROUP BY 1, 2, 3)
        |SELECT doc.doc_id, COALESCE(toks, 0) AS n_tokens,
        |  COALESCE(n_types, 0) AS n_types,
        |  COALESCE(entropy_micro, 0) AS entropy_micro,
        |  CASE WHEN COALESCE(toks, 0) = 0 THEN 0.0
        |    ELSE CAST(entropy_micro AS DOUBLE) / toks END
        |    AS entropy_per_token_micro
        |FROM documents doc LEFT JOIN e USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // ---- cross-corpus n-gram novelty: per-doc fraction of distinct
    // shingles already seen in an earlier (lower-id) doc — the
    // corpus-growth redundancy curve; linear cost, no pair
    // enumeration (inverted index reduced to first posting) ----------
    QDef("ngram_novelty", (s, dir) =>
      TextAnalysis.ngramNovelty(Tables.load(s, dir, "documents"),
          "text", "doc_id", n = 3)
        .orderBy("doc_id"),
      Some(s"""WITH tok AS (SELECT doc_id, $DuckToks AS ws FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(ws) >= 3
        |    THEN [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)]
        |    ELSE [] END)) AS g FROM tok),
        |fs AS (SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY g)
        |SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(sum(CASE WHEN fs.first_doc < sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_seen,
        |  CAST(sum(CASE WHEN fs.first_doc < sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) AS redundancy
        |FROM sh JOIN fs USING (g)
        |GROUP BY sh.doc_id ORDER BY doc_id""".stripMargin)),

    // ---- MMR diversity re-ranking (Carbonell–Goldstein SIGIR'98):
    // greedy λ·rel − (1−λ)·max-sim-to-picked over the exact top-8
    // candidates, k=4 picks. Unrolled dataframe greedy (constant k
    // steps, everything per-query bounded); the oracle unrolls the
    // same steps, so the gate hash-matches picks AND scores ----------
    QDef("mmr_rerank", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") % MmrQueryMod === 0)
      Similarity.mmrRerank(qs, emb, nCand = 8, k = 4, lam = MmrLam)
        .withColumn("mmr_rank", col("mmr_rank").cast("int"))
        .orderBy("q_vec_id", "mmr_rank")
    }, Some(mmrSql(nCand = 8, k = 4, lam = MmrLam,
      queryPred = s"q.vec_id % $MmrQueryMod = 0"))),

    // ---- random-hyperplane LSH ANN (structure-free scale path);
    // same verdict gate, recall_ok pins ≥ 0.2 (measured 0.26–0.30 at
    // bits=6 multi-probe on uniform data; probed share is 7/64 ≈ 0.11
    // so a broken bucketing collapses the verdict).
    QDef("ann_lsh", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") % 50 === 0)
      Similarity.topKWithRecallVerdict(
          Similarity.bruteForceTopK(qs, emb, k = 5),
          Similarity.lshTopK(qs, emb, k = 5, bits = 6), minRecall = 0.2)
        .orderBy("q_vec_id", "rank")
    }, Some(AnnExactSqlWithVerdict)),

    // ---- C4-style span (chunk) dedup: drop repeated 10-word chunks
    // corpus-wide (first occurrence by (doc_id, idx) wins), keep the
    // reassembled survivors per doc ---------------------------------
    QDef("chunk_dedup", (s, dir) =>
      Dedup.chunkDedup(Tables.load(s, dir, "documents"), "text", "doc_id",
          chunkWords = 10)
        .orderBy("doc_id"),
      Some(s"""WITH tok AS (SELECT doc_id, $DuckToks AS ws FROM documents),
        |ch AS (SELECT doc_id, CASE WHEN len(ws) = 0 THEN CAST([] AS VARCHAR[])
        |  ELSE [array_to_string(ws[i*10+1 : i*10+10], ' ')
        |        for i in range(0, CAST(ceil(len(ws) / 10.0) AS INT))] END AS chunks
        |  FROM tok),
        |ex AS (SELECT doc_id, unnest([{'idx': i, 'chunk': chunks[i+1]}
        |  for i in range(0, len(chunks))], recursive := true) FROM ch),
        |fw AS (SELECT doc_id, idx, chunk,
        |  row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rn FROM ex),
        |k AS (SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
        |  string_agg(chunk, ' ' ORDER BY idx) AS kept_text
        |  FROM fw WHERE rn = 1 GROUP BY doc_id)
        |SELECT c.doc_id, CAST(len(chunks) AS INT) AS n_chunks,
        |  coalesce(n_kept, 0) AS n_kept, coalesce(kept_text, '') AS kept_text
        |FROM ch c LEFT JOIN k USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // ---- exact-substring duplicate marking (Lee et al. 2022,
    // ExactSubstr direction): EVERY overlapping 15-token span is a
    // unit, so duplicated passages are caught at any alignment.
    // Span count per doc: max(0, n_tokens - 14) --------------------
    QDef("exact_substring_dedup", (s, dir) =>
      Dedup.exactSubstringSpans(Tables.load(s, dir, "documents"), "text",
          "doc_id", spanTokens = 15)
        .orderBy("doc_id"),
      Some(s"""WITH tok AS (SELECT doc_id, $DuckToks AS ws FROM documents),
        |sp AS (SELECT doc_id, unnest([{'pos': i,
        |    'span': array_to_string(ws[i+1 : i+15], ' ')}
        |  for i in range(0, greatest(len(ws) - 14, 0))], recursive := true)
        |  FROM tok),
        |f AS (SELECT doc_id, pos, span,
        |  count(*) OVER (PARTITION BY span) AS cnt,
        |  row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
        |  FROM sp),
        |agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_spans,
        |  CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS INT) AS n_dup_spans,
        |  CAST(sum(CASE WHEN cnt > 1 AND rn = 1 THEN 1 ELSE 0 END) AS INT)
        |    AS n_dup_primary
        |  FROM f GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(n_spans, 0) AS n_spans,
        |  coalesce(n_dup_spans, 0) AS n_dup_spans,
        |  coalesce(n_dup_primary, 0) AS n_dup_primary,
        |  CASE WHEN coalesce(n_spans, 0) > 0
        |    THEN CAST(n_dup_spans AS DOUBLE) / n_spans ELSE 0.0 END AS frac_dup
        |FROM tok t LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // ---- BM25 keyword retrieval: top-5 docs per query (queries =
    // every 97th doc's first 3 tokens). idf floor-quantized to micro;
    // tf/length factor mirrors the IEEE op order; per-term floors
    // before the sum so aggregation is integer-exact ----------------
    QDef("bm25_topk", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val queries = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("query_id"),
          array_join(slice(TextAnalysis.tokens(col("text")), 1, 3), " ")
            .as("qtext"))
      TextAnalysis.bm25TopK(docs, queries, "text", "doc_id",
          "query_id", "qtext", k = 5)
        .orderBy("query_id", "rank")
    },
      Some(s"""WITH terms AS (SELECT doc_id, unnest($DuckToks) AS term FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM terms GROUP BY 1, 2),
        |lens AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len_d
        |  FROM terms GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len_d) AS BIGINT) AS tot_len FROM lens),
        |q AS (SELECT doc_id AS query_id,
        |    array_to_string(($DuckToks)[1:3], ' ') AS qtext
        |  FROM documents WHERE doc_id % 97 = 0),
        |qt AS (SELECT DISTINCT query_id, unnest(
        |    list_filter(string_split(qtext, ' '), w -> w <> '')) AS term FROM q),
        |cand AS (SELECT qt.query_id, tf.doc_id, tf.term, tf.tf
        |  FROM tf JOIN qt USING (term)),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df_t
        |  FROM (SELECT DISTINCT term, doc_id FROM cand) GROUP BY 1),
        |contrib AS (SELECT query_id, c.doc_id,
        |    CAST(floor(ln(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
        |      * 1000000.0) AS BIGINT) AS idf_micro,
        |    (c.tf * (1.2 + 1)) / (c.tf + 1.2 * ((1 - 0.75) + 0.75 * len_d
        |      / (CAST(tot_len AS DOUBLE) / n_docs))) AS tf_factor
        |  FROM cand c JOIN lens USING (doc_id) JOIN dfreq USING (term)
        |  CROSS JOIN stats),
        |scored AS (SELECT query_id, doc_id,
        |    CAST(sum(CAST(floor(CAST(idf_micro AS DOUBLE) * tf_factor)
        |      AS BIGINT)) AS BIGINT) AS score_micro
        |  FROM contrib GROUP BY 1, 2),
        |ranked AS (SELECT query_id, doc_id, score_micro,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_micro DESC, doc_id) AS INT) AS rank
        |  FROM scored)
        |SELECT query_id, rank, doc_id, score_micro FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // ---- hybrid retrieval: BM25 leg + exact-cosine leg fused by
    // reciprocal-rank (integer 1e9 div (60+rank) — no float fusion).
    // Corpus = ids with both text and vector; the oracle replays both
    // leg chains over the same restricted corpus plus the fusion -----
    QDef("hybrid_rrf", (s, dir) =>
      TextAnalysis.hybridRrf(Tables.load(s, dir, "documents"),
          Tables.load(s, dir, "embeddings"), "text", "doc_id", "vec_id",
          qMod = 97L, kLeg = 10, k = 5)
        .orderBy("query_id", "rank"),
      Some(s"""WITH d AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id IN (SELECT vec_id FROM embeddings)),
        |e AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE vec_id IN (SELECT doc_id FROM documents)),
        |terms AS (SELECT doc_id, unnest($DuckToks) AS term FROM d),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM terms GROUP BY 1, 2),
        |lens AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len_d
        |  FROM terms GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len_d) AS BIGINT) AS tot_len FROM lens),
        |q AS (SELECT doc_id AS query_id,
        |    array_to_string(($DuckToks)[1:3], ' ') AS qtext
        |  FROM d WHERE doc_id % 97 = 0),
        |qt AS (SELECT DISTINCT query_id, unnest(
        |    list_filter(string_split(qtext, ' '), w -> w <> '')) AS term FROM q),
        |cand AS (SELECT qt.query_id, tf.doc_id, tf.term, tf.tf
        |  FROM tf JOIN qt USING (term)),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df_t
        |  FROM (SELECT DISTINCT term, doc_id FROM cand) GROUP BY 1),
        |contrib AS (SELECT query_id, c.doc_id,
        |    CAST(floor(ln(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
        |      * 1000000.0) AS BIGINT) AS idf_micro,
        |    (c.tf * (1.2 + 1)) / (c.tf + 1.2 * ((1 - 0.75) + 0.75 * len_d
        |      / (CAST(tot_len AS DOUBLE) / n_docs))) AS tf_factor
        |  FROM cand c JOIN lens USING (doc_id) JOIN dfreq USING (term)
        |  CROSS JOIN stats),
        |scored AS (SELECT query_id, doc_id,
        |    CAST(sum(CAST(floor(CAST(idf_micro AS DOUBLE) * tf_factor)
        |      AS BIGINT)) AS BIGINT) AS score_micro
        |  FROM contrib GROUP BY 1, 2),
        |lex AS (SELECT query_id, doc_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_micro DESC, doc_id) AS INT) AS lex_rank
        |  FROM scored QUALIFY lex_rank <= 10),
        |nv AS (SELECT vec_id, embedding,
        |  sqrt(list_reduce(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS nrm
        |  FROM e),
        |pr AS (SELECT qv.vec_id AS query_id, c.vec_id AS doc_id,
        |  list_reduce(list_transform(list_zip(qv.embedding, c.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (x, y) -> x + y)
        |    / (qv.nrm * c.nrm) AS cos
        |  FROM nv qv JOIN nv c ON qv.vec_id % 97 = 0 AND qv.vec_id <> c.vec_id),
        |dense AS (SELECT query_id, doc_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, doc_id) AS INT) AS dense_rank
        |  FROM pr QUALIFY dense_rank <= 10),
        |f AS (SELECT coalesce(l.query_id, dn.query_id) AS query_id,
        |    coalesce(l.doc_id, dn.doc_id) AS doc_id,
        |    l.lex_rank AS lex_rank, dn.dense_rank AS dense_rank
        |  FROM lex l FULL OUTER JOIN dense dn
        |    ON l.query_id = dn.query_id AND l.doc_id = dn.doc_id),
        |sc AS (SELECT query_id, doc_id,
        |    coalesce(1000000000 // (60 + lex_rank), 0)
        |      + coalesce(1000000000 // (60 + dense_rank), 0) AS rrf_micro,
        |    coalesce(lex_rank, -1) AS lex_rank,
        |    coalesce(dense_rank, -1) AS dense_rank
        |  FROM f),
        |r AS (SELECT query_id, doc_id, rrf_micro, lex_rank, dense_rank,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY rrf_micro DESC, doc_id) AS INT) AS rank
        |  FROM sc)
        |SELECT query_id, rank, doc_id, CAST(rrf_micro AS BIGINT) AS rrf_micro,
        |  lex_rank, dense_rank
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // ---- boilerplate span removal (RefinedWeb line-dedup variant):
    // drop EVERY occurrence of a chunk present in > maxDocFreq
    // distinct docs; chunk_dedup above keeps the first instead -------
    QDef("boilerplate_removal", (s, dir) =>
      Dedup.boilerplateRemoval(Tables.load(s, dir, "documents"), "text",
          "doc_id", chunkWords = 5, maxDocFreq = 2)
        .orderBy("doc_id"),
      Some(s"""WITH tok AS (SELECT doc_id, $DuckToks AS ws FROM documents),
        |ch AS (SELECT doc_id, CASE WHEN len(ws) = 0 THEN CAST([] AS VARCHAR[])
        |  ELSE [array_to_string(ws[i*5+1 : i*5+5], ' ')
        |        for i in range(0, CAST(ceil(len(ws) / 5.0) AS INT))] END AS chunks
        |  FROM tok),
        |ex AS (SELECT doc_id, unnest([{'idx': i, 'chunk': chunks[i+1]}
        |  for i in range(0, len(chunks))], recursive := true) FROM ch),
        |rare AS (SELECT chunk FROM (SELECT chunk, count(DISTINCT doc_id) AS df_docs
        |  FROM ex GROUP BY 1) WHERE df_docs <= 2),
        |k AS (SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
        |  string_agg(chunk, ' ' ORDER BY idx) AS kept_text
        |  FROM ex WHERE chunk IN (SELECT chunk FROM rare) GROUP BY doc_id)
        |SELECT c.doc_id, CAST(len(chunks) AS INT) AS n_chunks,
        |  coalesce(n_kept, 0) AS n_kept, coalesce(kept_text, '') AS kept_text
        |FROM ch c LEFT JOIN k USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // ---- TF-IDF top-k terms per document (integer-quantized idf so
    // JVM/DuckDB libm 1-ulp ln() drift cannot flip the ranking) ------
    QDef("tfidf_topk", (s, dir) =>
      TextAnalysis.tfIdfTopK(Tables.load(s, dir, "documents"), "text",
          "doc_id", k = 5)
        .orderBy("doc_id", "rank"),
      Some(s"""WITH terms AS (SELECT doc_id, unnest($DuckToks) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT doc_id, tf.term, tf, df_t,
        |  tf * CAST(floor(ln(CAST(n_docs AS DOUBLE) / CAST(df_t AS DOUBLE))
        |    * 1000000.0) AS BIGINT) AS score_micro
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, tf, df_t, score_micro,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score_micro DESC, term) AS INT) AS rank FROM sc)
        |SELECT doc_id, rank, term, tf, df_t, score_micro FROM r
        |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin)),

    // ---- benchmark-contamination check: distinct 3-gram overlap of
    // every corpus doc against a broadcast "eval set" (here: every
    // 20th doc stands in for the benchmark corpus) -------------------
    QDef("contamination_ngram", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      TextAnalysis.contaminationNgram(docs,
          docs.filter(col("doc_id") % 20 === 0), "text", "doc_id",
          n = 3, threshold = 0.2)
        .orderBy("doc_id")
    },
      Some(s"""WITH tok AS (SELECT doc_id, $DuckToks AS ws FROM documents),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ws) >= 3
        |  THEN [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)]
        |  ELSE [] END) AS grams FROM tok),
        |bg AS (SELECT DISTINCT unnest(grams) AS gram FROM sh WHERE doc_id % 20 = 0),
        |dg AS (SELECT doc_id, unnest(grams) AS gram FROM sh),
        |ov AS (SELECT doc_id, count(*) AS n_overlap FROM dg
        |  WHERE gram IN (SELECT gram FROM bg) GROUP BY doc_id)
        |SELECT s.doc_id, CAST(len(grams) AS INT) AS n_grams,
        |  coalesce(o.n_overlap, 0) AS n_overlap,
        |  CASE WHEN len(grams) > 0
        |    THEN CAST(coalesce(o.n_overlap, 0) AS DOUBLE) / len(grams) END AS overlap_frac,
        |  CASE WHEN len(grams) > 0 THEN CAST(
        |    CAST(coalesce(o.n_overlap, 0) AS DOUBLE) / len(grams) >= 0.2 AS INT) END AS contaminated
        |FROM sh s LEFT JOIN ov o USING (doc_id) ORDER BY s.doc_id""".stripMargin)),

    // ---- group-wise embedding centroids (class prototypes /
    // nearest-class-mean): fully distributed vector mean — one
    // (label, pos) aggregation with scaled-long sums (merge-order
    // exact), in-row re-assembly; centroid emitted as a joined string
    // for a type-stable hash (the agg_collect precedent) --------------
    QDef("embedding_centroids", (s, dir) =>
      Similarity.groupCentroids(Tables.load(s, dir, "embeddings"),
          "embedding", "label")
        .select(col("label"), col("n_vectors"),
          concat_ws(",", col("centroid_micro")).as("centroid_str"))
        .orderBy("label"),
      Some("""WITH e AS (SELECT label, embedding[i] AS val, i AS ord
        |  FROM embeddings,
        |    unnest(generate_series(1, len(embedding))) AS s(i)),
        |g AS (SELECT label, ord,
        |    CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 1e6) AS BIGINT)) AS BIGINT) AS s,
        |    count(*) AS n
        |  FROM e GROUP BY label, ord)
        |SELECT label, CAST(max(n) AS BIGINT) AS n_vectors,
        |  string_agg(CAST(s // n AS VARCHAR), ',' ORDER BY ord) AS centroid_str
        |FROM g GROUP BY label ORDER BY label""".stripMargin)),

    // ---- per-group embedding outliers (mislabeled/noise-tail
    // curation): integer micro-unit d² to own-group centroid vs the
    // group mean — broadcast centroid + stats tables, never pairwise -
    QDef("embedding_outliers", (s, dir) =>
      Similarity.centroidOutliers(Tables.load(s, dir, "embeddings"),
          "embedding", "vec_id", "label", factorPct = 200)
        .orderBy("vec_id"),
      Some("""WITH e AS (SELECT vec_id, label,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT) AS xm,
        |    i AS ord
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS s(i)),
        |c AS (SELECT label, ord, CAST(sum(xm) AS BIGINT) AS sm, count(*) AS n
        |  FROM e GROUP BY label, ord),
        |d AS (SELECT vec_id, e.label,
        |    CAST(sum((xm - sm // n) * (xm - sm // n)) AS BIGINT) AS d2
        |  FROM e JOIN c ON e.label = c.label AND e.ord = c.ord
        |  GROUP BY vec_id, e.label),
        |g AS (SELECT label, CAST(sum(d2) AS BIGINT) AS sum_d2,
        |    CAST(count(*) AS BIGINT) AS n FROM d GROUP BY label)
        |SELECT vec_id, d.label, d2, sum_d2 // n AS mean_d2,
        |  d2 > (200 * (sum_d2 // n)) // 100 AS is_outlier
        |FROM d JOIN g ON d.label = g.label ORDER BY vec_id""".stripMargin)),

    // ---- Lloyd k-means cluster assignment (domain discovery /
    // diversity sampling / real IVF cells). Deterministic by
    // construction (decimal centroid sums, struct-ordered argmin), so
    // the oracle replays it exactly, unrolled ------------------------
    QDef("kmeans_assign", (s, dir) =>
      Similarity.kMeansAssign(Tables.load(s, dir, "embeddings"),
          k = 4, iters = 2)
        .orderBy("vec_id"),
      Some(kmeansSql(k = 4, iters = 2))),

    // ---- product quantization (Jégou et al.): per-subspace k-means
    // codes; final encoding is ONE projection with all argmins folded
    // into codegen — no join between subspaces. Oracle = 4 unrolled
    // subspace k-means replays over sliced vectors ------------------
    QDef("pq_codes", (s, dir) =>
      Similarity.pqCodes(Tables.load(s, dir, "embeddings"),
          nSub = 4, k = 4, iters = 1)
        .orderBy("vec_id"),
      Some(pqSql(nSub = 4, subDim = 16, k = 4, iters = 1))),

    // ---- SemDeDup (arXiv:2303.09540): k-means cells bound the
    // pairwise stage; within-cell cosine groups collapse to a min-id
    // representative. Oracle = unrolled k-means replay + within-
    // cluster pair join + recursive-CTE components ------------------
    QDef("semdedup", (s, dir) =>
      Dedup.semDeDup(Tables.load(s, dir, "embeddings"), k = 4, iters = 2,
          threshold = 0.4)
        .orderBy("vec_id"),
      Some(kmeansCtes(k = 4, iters = 2).replaceFirst("WITH ", "WITH RECURSIVE ") +
        s""",
        |v AS (SELECT e.vec_id, e.embedding, a.cluster,
        |    sqrt(list_reduce(list_transform(e.embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (p, q) -> p + q)) AS nrm
        |  FROM embeddings e JOIN ${kmeansFinal(2)} a USING (vec_id)),
        |p AS (SELECT a.vec_id AS ia, b.vec_id AS ib
        |  FROM v a JOIN v b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  WHERE list_reduce(list_transform(list_zip(a.embedding, b.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (x, y) -> x + y)
        |    / (a.nrm * b.nrm) >= 0.4),
        |e2 AS (SELECT ia AS a, ib AS b FROM p UNION SELECT ib, ia FROM p),
        |reach(a, b) AS (
        |  SELECT DISTINCT a, a FROM e2
        |  UNION
        |  SELECT e2.a, r.b FROM e2 JOIN reach r ON e2.b = r.a),
        |g AS (SELECT a AS vec_id, min(b) AS group_id FROM reach GROUP BY a)
        |SELECT v.vec_id, v.cluster, coalesce(g.group_id, v.vec_id) AS rep_id,
        |  (coalesce(g.group_id, v.vec_id) = v.vec_id) AS is_kept
        |FROM v LEFT JOIN g USING (vec_id) ORDER BY vec_id""".stripMargin)),

    // ---- cluster-stratified diversity sampling (cover the embedding
    // space): k-means then keep the perCluster lowest ids per cell ---
    QDef("diversity_sample", (s, dir) =>
      Similarity.diversitySample(Tables.load(s, dir, "embeddings"),
          k = 4, iters = 2, perCluster = 25)
        .orderBy("vec_id"),
      Some(kmeansCtes(k = 4, iters = 2) +
        s""",
        |d AS (SELECT vec_id, cluster, CAST(row_number() OVER (
        |  PARTITION BY cluster ORDER BY vec_id) AS INT) AS pick_rank
        |  FROM ${kmeansFinal(2)})
        |SELECT vec_id, cluster, pick_rank FROM d
        |WHERE pick_rank <= 25 ORDER BY vec_id""".stripMargin)),

    // ---- int8 symmetric embedding quantization (vector-store
    // compression; exploded form for the gate's row compare) ---------
    QDef("embed_quantize", (s, dir) =>
      Similarity.quantizeInt8(Tables.load(s, dir, "embeddings"))
        .orderBy("vec_id", "pos"),
      Some("""WITH sv AS (SELECT vec_id, embedding,
        |  CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS scale
        |  FROM embeddings),
        |e AS (SELECT vec_id, scale,
        |  CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
        |  unnest(embedding) AS x FROM sv)
        |SELECT vec_id, pos, scale,
        |  CASE WHEN scale = 0 THEN 0 ELSE
        |    CAST(trunc(CAST(x AS DOUBLE) / scale * 127.0) AS INT) END AS q
        |FROM e ORDER BY vec_id, pos""".stripMargin)),

    // ---- Johnson–Lindenstrauss signed random projection: 64 → 16
    // dims with a deterministic ±1 matrix (Achlioptas '03) — the
    // cheap-prefilter compression ahead of clustering/dedup/ANN.
    // One codegen'd scan (16 VectorDot folds against literal sign
    // rows); the oracle SQL is GENERATED from the same sign matrix,
    // replaying each fold left-to-right so the doubles are
    // bit-identical -------------------------------------------------
    QDef("embed_project", (s, dir) =>
      Similarity.signedRandomProjection(Tables.load(s, dir, "embeddings"),
          outDim = 16)
        .orderBy("vec_id", "j"),
      Some {
        val signs = Similarity.projectionSigns(outDim = 16, dim = 64)
        val legs = signs.zipWithIndex.map { case (row, j) =>
          val arr = row.map(x => if (x > 0) "1.0" else "-1.0").mkString(", ")
          s"""SELECT vec_id, $j AS j,
             |  list_reduce(list_transform(list_zip(embedding, [$arr]),
             |    x -> CAST(x[1] AS DOUBLE) * x[2]), (a, b) -> a + b) AS proj
             |FROM embeddings""".stripMargin
        }
        legs.mkString("SELECT vec_id, CAST(j AS INT) AS j, proj FROM (\n",
          "\nUNION ALL\n", "\n) ORDER BY vec_id, j")
      }),

    // ---- content-addressed train/val/test split (re-shard-stable;
    // byte-identical dups always share a split — no exact-dup
    // train→test leakage by construction) ----------------------------
    QDef("hash_split", (s, dir) =>
      graft.llm.Sampling.splitByHash(Tables.load(s, dir, "documents"),
          "text", Seq("train" -> 80, "val" -> 90, "test" -> 100))
        .select("doc_id", "split_hash", "split")
        .orderBy("doc_id"),
      Some(s"""WITH h AS (SELECT doc_id, ${duckPoly("text")} % 100 AS split_hash
        |  FROM documents)
        |SELECT doc_id, split_hash,
        |  CASE WHEN split_hash < 80 THEN 'train'
        |       WHEN split_hash < 90 THEN 'val' ELSE 'test' END AS split
        |FROM h ORDER BY doc_id""".stripMargin)),

    // ---- near-dup incremental ingest (fuzzy companion to
    // dedup_incremental, completing the exact/Bloom/near-dup matrix):
    // batch = doc_id % 10 == 0, corpus = the rest; a batch doc is
    // admitted iff no near-dup in the corpus and no lower-id
    // corpus-clean batch peer (policy contract in Dedup.scala) --------
    QDef("dedup_incremental_neardup", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.incrementalNearDedup(
          docs.filter(pmod(col("doc_id"), lit(10)) === 0),
          docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
          "text", "doc_id", shingleN = 2, threshold = 0.5)
        .orderBy("doc_id")
    },
      Some(s"""WITH ${jaccardPairCtes(2, 0.5)},
        |d AS (SELECT ia AS x, ib AS y FROM p UNION ALL SELECT ib, ia FROM p),
        |cb AS (SELECT x AS doc_id, CAST(count(*) AS BIGINT) AS n
        |  FROM d WHERE x % 10 = 0 AND y % 10 <> 0 GROUP BY x),
        |clean AS (SELECT doc_id FROM sh
        |  WHERE doc_id % 10 = 0 AND doc_id NOT IN (SELECT doc_id FROM cb)),
        |pb AS (SELECT d.x AS doc_id, CAST(count(*) AS BIGINT) AS n
        |  FROM d JOIN clean c ON d.y = c.doc_id
        |  WHERE d.x % 10 = 0 AND d.y % 10 = 0 AND d.y < d.x GROUP BY d.x)
        |SELECT b.doc_id,
        |  coalesce(cb.n, 0) AS n_corpus_blockers,
        |  coalesce(pb.n, 0) AS n_peer_blockers,
        |  CAST(CASE WHEN coalesce(cb.n, 0) = 0 AND coalesce(pb.n, 0) = 0
        |    THEN 1 ELSE 0 END AS INT) AS admitted
        |FROM (SELECT doc_id FROM sh WHERE doc_id % 10 = 0) b
        |LEFT JOIN cb ON b.doc_id = cb.doc_id
        |LEFT JOIN pb ON b.doc_id = pb.doc_id
        |ORDER BY b.doc_id""".stripMargin)),

    // ---- decontaminated split: after the content-hash split, any
    // train/val doc with n-gram Jaccard >= 0.5 to ANY test doc is
    // quarantined (kept=0) — near-dups of eval data must not be
    // trained on; hash-split alone only protects exact dups ----------
    QDef("split_decontaminate", (s, dir) =>
      graft.llm.Sampling.decontaminatedSplit(
          Tables.load(s, dir, "documents"), "text", "doc_id",
          Seq("train" -> 80, "val" -> 90, "test" -> 100), holdout = "test",
          shingleN = 2, threshold = 0.5)
        .orderBy("doc_id"),
      Some(s"""WITH h AS (SELECT doc_id, ${duckPoly("text")} % 100 AS split_hash,
        |    text FROM documents),
        |sp AS (SELECT doc_id, split_hash,
        |    CASE WHEN split_hash < 80 THEN 'train'
        |         WHEN split_hash < 90 THEN 'val' ELSE 'test' END AS split,
        |    text FROM h),
        |tok AS (SELECT doc_id, split, split_hash,
        |    list_filter(string_split(text, ' '), w -> w <> '') AS ws FROM sp),
        |sh AS (SELECT doc_id, split, split_hash,
        |    list_distinct(CASE WHEN len(ws) >= 2
        |      THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
        |      ELSE [] END) AS shingles FROM tok),
        |sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
        |post AS (SELECT doc_id, split, unnest(shingles) AS sg FROM sh),
        |pr AS (SELECT a.doc_id AS x, b.doc_id AS y, CAST(count(*) AS BIGINT) AS shared
        |  FROM post a JOIN post b ON a.sg = b.sg
        |    AND a.split <> 'test' AND b.split = 'test'
        |  GROUP BY 1, 2),
        |leak AS (SELECT x AS doc_id, CAST(count(*) AS BIGINT) AS n_leak_partners
        |  FROM pr JOIN sz sa ON pr.x = sa.doc_id JOIN sz sb ON pr.y = sb.doc_id
        |  WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.5
        |  GROUP BY x)
        |SELECT s.doc_id, s.split_hash, s.split,
        |  coalesce(l.n_leak_partners, 0) AS n_leak_partners,
        |  CAST(CASE WHEN s.split <> 'test' AND coalesce(l.n_leak_partners, 0) > 0
        |    THEN 0 ELSE 1 END AS INT) AS kept
        |FROM sp s LEFT JOIN leak l ON s.doc_id = l.doc_id
        |ORDER BY s.doc_id""".stripMargin)),

    // ---- deterministic corpus shuffle → training shards (order
    // randomization + shard layout; per-shard windows only) ---------
    QDef("shard_shuffle", (s, dir) =>
      graft.llm.Sampling.shardShuffle(Tables.load(s, dir, "documents"),
          "doc_id", nShards = 8)
        .select("doc_id", "shuffle_key", "shard", "shard_seq")
        .orderBy("doc_id"),
      Some(s"""WITH k AS (SELECT doc_id,
        |  ((doc_id % ${graft.llm.Sampling.ShufflePrime})
        |    * ${graft.llm.Sampling.ShuffleMult})
        |    % ${graft.llm.Sampling.ShufflePrime} AS shuffle_key
        |  FROM documents)
        |SELECT doc_id, shuffle_key,
        |  CAST(shuffle_key % 8 AS INT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY shuffle_key % 8
        |    ORDER BY shuffle_key, doc_id) AS BIGINT) AS shard_seq
        |FROM k ORDER BY doc_id""".stripMargin)),

    // ---- ingestion-time incremental dedup: new batch (doc_id%5<>0)
    // against the served corpus (doc_id%5=0) -------------------------
    QDef("dedup_incremental", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.incrementalDedup(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0), "text", "doc_id")
        .select("doc_id", "content_hash")
        .orderBy("doc_id")
    },
      Some("""WITH ex AS (SELECT DISTINCT md5(text) AS content_hash
        |  FROM documents WHERE doc_id % 5 = 0),
        |b AS (SELECT doc_id, md5(text) AS content_hash FROM documents
        |  WHERE doc_id % 5 <> 0),
        |f AS (SELECT doc_id, content_hash, row_number() OVER (
        |    PARTITION BY content_hash ORDER BY doc_id) AS rn
        |  FROM b WHERE content_hash NOT IN (SELECT content_hash FROM ex))
        |SELECT doc_id, content_hash FROM f WHERE rn = 1
        |ORDER BY doc_id""".stripMargin)),

    // ---- Bloom-prefiltered incremental dedup: same EXACT answer as
    // dedup_incremental's shape (different fixture split), but the
    // corpus side builds a native BloomFilterAggregate instead of
    // shuffling its hash set; survivors are verified with broadcast
    // probes. fpp deliberately loose (0.2) so false positives occur at
    // gate scale and the verify join is provably exercised.
    QDef("dedup_bloom_incremental", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.bloomIncrementalDedup(
          docs.filter(col("doc_id") % 4 =!= 0),
          docs.filter(col("doc_id") % 4 === 0), "text", "doc_id",
          expectedItems = 4096, fpp = 0.2)
        .select("doc_id", "content_hash")
        .orderBy("doc_id")
    },
      Some("""WITH ex AS (SELECT DISTINCT md5(text) AS content_hash
        |  FROM documents WHERE doc_id % 4 = 0),
        |b AS (SELECT doc_id, md5(text) AS content_hash FROM documents
        |  WHERE doc_id % 4 <> 0),
        |f AS (SELECT doc_id, content_hash, row_number() OVER (
        |    PARTITION BY content_hash ORDER BY doc_id) AS rn
        |  FROM b WHERE content_hash NOT IN (SELECT content_hash FROM ex))
        |SELECT doc_id, content_hash FROM f WHERE rn = 1
        |ORDER BY doc_id""".stripMargin)),

    // ---- multimodal feature extraction (mapPartitions stub decode) -
    QDef("multimodal_features", (s, dir) =>
      Multimodal.decodeStub(s,
          Multimodal.mediaTable(Tables.load(s, dir, "documents")))
        .toDF().orderBy("doc_id"),
      Some("""SELECT doc_id, 'text/plain' AS media_type,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS payload_len,
        |  hex(substr(text, 1, 4)) AS header_hex,
        |  CAST((octet_length(encode(text)) + 255) // 256 AS BIGINT) AS n_chunks
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- frame sampling: every 4th 256-byte frame, max 8 per record
    // (the bounded video frame-sample schedule). The oracle replays
    // byte offsets with substr over CHARACTERS, valid only while the
    // corpus is pure ASCII (DuckDB can't byte-slice blobs) — so the
    // engine emits an ascii_ok verdict the oracle pins to 1: if the
    // data ever grows non-ASCII text the gate fails loudly instead of
    // silently diverging (ADVICE r5).
    QDef("multimodal_frames", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val ascii = broadcast(docs.agg(
        min((octet_length(col("text")) === length(col("text"))).cast("int"))
          .as("ascii_ok")))
      Multimodal.frameSample(s, Multimodal.mediaTable(docs))
        .toDF().crossJoin(ascii).orderBy("doc_id", "frame_idx")
    },
      Some("""WITH t AS (SELECT doc_id, text, len(text) AS n FROM documents),
        |f AS (SELECT doc_id, text, n, i AS frame_idx
        |  FROM t, unnest(generate_series(0, (n + 255) // 256 - 1)) AS s(i)
        |  WHERE i % 4 = 0),
        |r AS (SELECT doc_id, frame_idx,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY frame_idx) AS rn,
        |    frame_idx * 256 AS frame_off,
        |    least(256, n - frame_idx * 256) AS frame_len,
        |    hex(substr(text, CAST(frame_idx * 256 + 1 AS INT),
        |      CAST(least(4, n - frame_idx * 256) AS INT))) AS frame_hex
        |  FROM f)
        |SELECT doc_id, frame_idx, frame_off, frame_len, frame_hex, 1 AS ascii_ok
        |FROM r WHERE rn <= 8 ORDER BY doc_id, frame_idx""".stripMargin)),

    // ---- resize stub: every 4th byte survives (downsample shape);
    // same ascii_ok guard as multimodal_frames -----------------------
    QDef("multimodal_resize", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val ascii = broadcast(docs.agg(
        min((octet_length(col("text")) === length(col("text"))).cast("int"))
          .as("ascii_ok")))
      Multimodal.resizeStub(s, Multimodal.mediaTable(docs))
        .toDF().crossJoin(ascii).orderBy("doc_id")
    },
      Some("""SELECT doc_id, CAST(len(text) AS BIGINT) AS orig_len,
        |  CAST((len(text) + 3) // 4 AS BIGINT) AS resized_len,
        |  hex(substr(text, 1, 1)
        |    || CASE WHEN len(text) >= 5 THEN substr(text, 5, 1) ELSE '' END
        |    || CASE WHEN len(text) >= 9 THEN substr(text, 9, 1) ELSE '' END
        |    || CASE WHEN len(text) >= 13 THEN substr(text, 13, 1) ELSE '' END)
        |    AS head_hex,
        |  1 AS ascii_ok
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- corpus-trained unigram LM score (CCNet-style quality /
    // perplexity bucketing). Exact integer sums; per-term NLL floor-
    // quantized to micro units like tfidf_topk's idf.
    QDef("unigram_logprob", (s, dir) =>
      TextAnalysis.unigramLogProb(Tables.load(s, dir, "documents"),
          "text", "doc_id")
        .orderBy("doc_id"),
      Some(s"""WITH terms AS (SELECT doc_id, unnest($DuckToks) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |c AS (SELECT term, CAST(sum(tf) AS BIGINT) AS c_t FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS t_total FROM c),
        |sc AS (SELECT doc_id, tf,
        |    CAST(floor(ln(CAST(t_total AS DOUBLE) / CAST(c_t AS DOUBLE))
        |      * 1000000.0) AS BIGINT) AS nll_micro
        |  FROM tf JOIN c USING (term) CROSS JOIN tot),
        |agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |    CAST(sum(tf * nll_micro) AS BIGINT) AS nll_micro_sum
        |  FROM sc GROUP BY 1)
        |SELECT d.doc_id, coalesce(n_tokens, 0) AS n_tokens,
        |  coalesce(nll_micro_sum, 0) AS nll_micro_sum
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // ---- bigram conditional NLL (Laplace-smoothed) — the n-gram
    // step toward CCNet's KenLM scoring; same quantization contract
    // as unigram_logprob --------------------------------------------
    QDef("bigram_logprob", (s, dir) =>
      TextAnalysis.bigramLogProb(Tables.load(s, dir, "documents"),
          "text", "doc_id")
        .orderBy("doc_id"),
      Some(s"""WITH tok AS (SELECT doc_id, $DuckToks AS ws FROM documents),
        |bg AS (SELECT doc_id,
        |    unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS bg
        |  FROM tok),
        |tf AS (SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS tf
        |  FROM bg GROUP BY 1, 2),
        |cb AS (SELECT bg, CAST(sum(tf) AS BIGINT) AS c_big,
        |    split_part(bg, ' ', 1) AS w1 FROM tf GROUP BY 1),
        |cc AS (SELECT w1, CAST(sum(c_big) AS BIGINT) AS c_ctx
        |  FROM cb GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v
        |  FROM (SELECT unnest($DuckToks) AS term FROM documents)),
        |sc AS (SELECT doc_id, tf,
        |    CAST(floor(ln(CAST(c_ctx + v AS DOUBLE)
        |      / CAST(c_big + 1 AS DOUBLE)) * 1000000.0) AS BIGINT) AS nll_micro
        |  FROM tf JOIN cb USING (bg) JOIN cc USING (w1) CROSS JOIN v),
        |agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
        |    CAST(sum(tf * nll_micro) AS BIGINT) AS nll_micro_sum
        |  FROM sc GROUP BY 1)
        |SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
        |  coalesce(nll_micro_sum, 0) AS nll_micro_sum
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // ---- CCNet head/middle/tail quality bucketing: exact global
    // ntile over mean unigram NLL from a BandedWindow rank (no global
    // window; bit-identical to the single-window form the oracle
    // runs) ---------------------------------------------------------
    QDef("quality_buckets", (s, dir) =>
      TextAnalysis.qualityBuckets(Tables.load(s, dir, "documents"),
          "text", "doc_id", buckets = 3)
        .orderBy("doc_id"),
      Some(s"""WITH terms AS (SELECT doc_id, unnest($DuckToks) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |c AS (SELECT term, CAST(sum(tf) AS BIGINT) AS c_t FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS t_total FROM c),
        |sc AS (SELECT doc_id, tf,
        |    CAST(floor(ln(CAST(t_total AS DOUBLE) / CAST(c_t AS DOUBLE))
        |      * 1000000.0) AS BIGINT) AS nll_micro
        |  FROM tf JOIN c USING (term) CROSS JOIN tot),
        |agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |    CAST(sum(tf * nll_micro) AS BIGINT) AS nll_micro_sum
        |  FROM sc GROUP BY 1),
        |per AS (SELECT d.doc_id, coalesce(n_tokens, 0) AS n_tokens,
        |    coalesce(nll_micro_sum, 0) AS nll_micro_sum
        |  FROM documents d LEFT JOIN agg USING (doc_id)),
        |m AS (SELECT doc_id, n_tokens,
        |    CASE WHEN n_tokens = 0 THEN 8000000000000000000
        |         ELSE nll_micro_sum // n_tokens END AS mean_nll_micro
        |  FROM per)
        |SELECT doc_id, n_tokens, mean_nll_micro,
        |  CAST(row_number() OVER w AS BIGINT) AS nll_rank,
        |  CAST(ntile(3) OVER w AS INT) AS quality_bucket
        |FROM m WINDOW w AS (ORDER BY mean_nll_micro, doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // ---- token-budget corpus selection: best-quality-first running
    // token sum, whole docs selected until the budget passes — the
    // "take the best N tokens" curation step. Exact global prefix sum
    // WITHOUT a global window (BandedWindow, like quality_buckets) -----
    QDef("budget_select", (s, dir) =>
      TextAnalysis.budgetSelect(Tables.load(s, dir, "documents"),
          "text", "doc_id", budgetTokens = 15000L)
        .orderBy("doc_id"),
      Some(s"""WITH terms AS (SELECT doc_id, unnest($DuckToks) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |c AS (SELECT term, CAST(sum(tf) AS BIGINT) AS c_t FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS t_total FROM c),
        |sc AS (SELECT doc_id, tf,
        |    CAST(floor(ln(CAST(t_total AS DOUBLE) / CAST(c_t AS DOUBLE))
        |      * 1000000.0) AS BIGINT) AS nll_micro
        |  FROM tf JOIN c USING (term) CROSS JOIN tot),
        |agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |    CAST(sum(tf * nll_micro) AS BIGINT) AS nll_micro_sum
        |  FROM sc GROUP BY 1),
        |per AS (SELECT d.doc_id, coalesce(n_tokens, 0) AS n_tokens,
        |    coalesce(nll_micro_sum, 0) AS nll_micro_sum
        |  FROM documents d LEFT JOIN agg USING (doc_id)),
        |m AS (SELECT doc_id, n_tokens,
        |    CASE WHEN n_tokens = 0 THEN 8000000000000000000
        |         ELSE nll_micro_sum // n_tokens END AS mean_nll_micro
        |  FROM per)
        |SELECT doc_id, n_tokens, mean_nll_micro,
        |  CAST(sum(n_tokens) OVER (ORDER BY mean_nll_micro, doc_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
        |  CAST(CASE WHEN sum(n_tokens) OVER (ORDER BY mean_nll_micro, doc_id
        |    ROWS UNBOUNDED PRECEDING) <= 15000 THEN 1 ELSE 0 END AS INT) AS selected
        |FROM m ORDER BY doc_id""".stripMargin)),

    // ---- broadcast dictionary phrase tagging (blocklists / topic
    // tags / gazetteers): per-length positional n-grams ⋈ broadcast
    // dict, one doc-key agg; corpus never shuffles on content --------
    QDef("dict_tag", (s, dir) =>
      TextAnalysis.dictTag(Tables.load(s, dir, "documents"), "text", "doc_id",
          Seq("spark", "big table", "hash value", "sort table",
            "data column", "fast merge batch"))
        .orderBy("doc_id"),
      Some(s"""WITH tok AS (SELECT doc_id, $DuckToks AS ws FROM documents),
        |g AS (
        |  SELECT doc_id, unnest([{'pos': i, 'ph': array_to_string(ws[i+1:i+1], ' ')}
        |      for i in range(0, len(ws))]) AS m FROM tok
        |  UNION ALL
        |  SELECT doc_id, unnest([{'pos': i, 'ph': array_to_string(ws[i+1:i+2], ' ')}
        |      for i in range(0, len(ws) - 1)]) AS m FROM tok
        |  UNION ALL
        |  SELECT doc_id, unnest([{'pos': i, 'ph': array_to_string(ws[i+1:i+3], ' ')}
        |      for i in range(0, len(ws) - 2)]) AS m FROM tok),
        |h AS (SELECT doc_id, m.pos AS pos, m.ph AS phrase FROM g
        |  WHERE m.ph IN ('spark', 'big table', 'hash value', 'sort table',
        |    'data column', 'fast merge batch')),
        |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
        |    CAST(count(DISTINCT phrase) AS BIGINT) AS n_distinct,
        |    CAST(min(pos) AS INT) AS first_pos,
        |    string_agg(phrase, '|' ORDER BY pos, phrase) AS matches
        |  FROM h GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(n_matches, 0) AS n_matches,
        |  coalesce(n_distinct, 0) AS n_distinct,
        |  coalesce(first_pos, -1) AS first_pos,
        |  coalesce(matches, '') AS matches
        |FROM documents d LEFT JOIN a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)),

    // ---- per-domain adaptive quality threshold: keep each domain's
    // best keepPct% by mean NLL — BandedWindow (domain, band) windows, no
    // whole-domain single-task window; oracle = the naive per-domain
    // rank the banding must equal bit-for-bit ------------------------
    QDef("domain_quality_cut", (s, dir) =>
      TextAnalysis.domainQualityCut(Tables.load(s, dir, "documents"),
          "text", "doc_id", "source", keepPct = 75)
        .orderBy("doc_id"),
      Some(s"""WITH terms AS (SELECT doc_id, unnest($DuckToks) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |c AS (SELECT term, CAST(sum(tf) AS BIGINT) AS c_t FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS t_total FROM c),
        |sc AS (SELECT doc_id, tf,
        |    CAST(floor(ln(CAST(t_total AS DOUBLE) / CAST(c_t AS DOUBLE))
        |      * 1000000.0) AS BIGINT) AS nll_micro
        |  FROM tf JOIN c USING (term) CROSS JOIN tot),
        |agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |    CAST(sum(tf * nll_micro) AS BIGINT) AS nll_micro_sum
        |  FROM sc GROUP BY 1),
        |per AS (SELECT d.doc_id, d.source, coalesce(n_tokens, 0) AS n_tokens,
        |    coalesce(nll_micro_sum, 0) AS nll_micro_sum
        |  FROM documents d LEFT JOIN agg USING (doc_id)),
        |m AS (SELECT doc_id, source, n_tokens,
        |    CASE WHEN n_tokens = 0 THEN 8000000000000000000
        |         ELSE nll_micro_sum // n_tokens END AS mean_nll_micro
        |  FROM per)
        |SELECT doc_id, source AS domain, mean_nll_micro,
        |  CAST(row_number() OVER w AS BIGINT) AS src_rank,
        |  CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_domain,
        |  CAST(CASE WHEN row_number() OVER w * 100
        |      <= count(*) OVER (PARTITION BY source) * 75
        |    THEN 1 ELSE 0 END AS INT) AS kept
        |FROM m
        |WINDOW w AS (PARTITION BY source ORDER BY mean_nll_micro, doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // ---- training-mix accounting per (source, lang): doc/token/char
    // mass + summed unigram NLL — what a mixture designer reads before
    // setting per-domain sampling weights.
    QDef("domain_mixture_stats", (s, dir) =>
      TextAnalysis.domainMixtureStats(Tables.load(s, dir, "documents"),
          "text", "doc_id", Seq("source", "lang"))
        .orderBy("source", "lang"),
      Some(s"""WITH terms AS (SELECT doc_id, unnest($DuckToks) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |c AS (SELECT term, CAST(sum(tf) AS BIGINT) AS c_t FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS t_total FROM c),
        |sc AS (SELECT doc_id, tf,
        |    CAST(floor(ln(CAST(t_total AS DOUBLE) / CAST(c_t AS DOUBLE))
        |      * 1000000.0) AS BIGINT) AS nll_micro
        |  FROM tf JOIN c USING (term) CROSS JOIN tot),
        |agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |    CAST(sum(tf * nll_micro) AS BIGINT) AS nll_micro_sum
        |  FROM sc GROUP BY 1)
        |SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(len(text)) AS BIGINT) AS n_chars,
        |  CAST(sum(coalesce(n_tokens, 0)) AS BIGINT) AS n_tokens,
        |  CAST(sum(coalesce(nll_micro_sum, 0)) AS BIGINT) AS nll_micro_sum
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |GROUP BY source, lang ORDER BY source, lang""".stripMargin)),

    // ---- REAL image decode: pure-JVM binary-PPM (P6) parse inside
    // the same mapPartitions shape as the stub path. The fixture
    // writes a deterministic P6 image per doc (pixel byte p =
    // (doc_id*31 + 7p) mod 256, dimensions cycling with doc_id, a
    // header comment every 3rd doc); the oracle computes the SAME
    // features from the formula alone — writer and parser are
    // cross-checked against independent math, so a header-offset or
    // channel-order bug flips luma_sum.
    QDef("multimodal_decode", (s, dir) =>
      Multimodal.decodeImages(s,
          Multimodal.syntheticPpmTable(Tables.load(s, dir, "documents")))
        .toDF().orderBy("doc_id"),
      Some("""WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM documents),
        |px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS i FROM d),
        |l AS (SELECT doc_id, w, h,
        |    299 * ((doc_id * 31 + 7 * (3 * i)) % 256)
        |  + 587 * ((doc_id * 31 + 7 * (3 * i + 1)) % 256)
        |  + 114 * ((doc_id * 31 + 7 * (3 * i + 2)) % 256) AS lum
        |  FROM px)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  3 AS channels, 255 AS maxval, CAST(w * h AS BIGINT) AS n_pixels,
        |  CAST(sum(lum) AS BIGINT) AS luma_sum
        |FROM l GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin)),

    // ---- audio decode: real RIFF/WAVE PCM parser (generic chunk
    // walk incl. an injected LIST chunk on every 3rd doc + the RIFF
    // even-padding rule) over synthetic 8 kHz 16-bit mono clips whose
    // samples are a pure function of documents.text — the oracle
    // recomputes sample rate, duration, energy and zero crossings
    // from the text alone, so writer AND parser are cross-checked.
    // All features exact integers ------------------------------------
    QDef("audio_features", (s, dir) => {
      val media = Multimodal.syntheticWavTable(Tables.load(s, dir, "documents"))
      Multimodal.decodeAudio(s, media).toDF().orderBy("doc_id")
    },
      Some("""WITH c AS (SELECT doc_id,
        |    list_transform(string_split(text, ''), ch -> (unicode(ch) - 77) * 256) AS s
        |  FROM documents)
        |SELECT doc_id, 8000 AS sample_rate, 16 AS bits,
        |  CAST(len(s) AS BIGINT) AS n_samples,
        |  CAST(len(s) * 1000000 // 8000 AS BIGINT) AS duration_us,
        |  CAST(CASE WHEN len(s) = 0 THEN 0 ELSE
        |    list_reduce(list_transform(s, x -> CAST(x AS BIGINT) * x),
        |      (a, b) -> a + b) END AS BIGINT) AS energy,
        |  CAST(len([1 for i in range(2, len(s) + 1)
        |    if s[i-1] * s[i] < 0]) AS BIGINT) AS zero_crossings
        |FROM c ORDER BY doc_id""".stripMargin)),

    // ---- video decode + scene-cut detection: concatenated-P6
    // streams (a real multi-frame parser walk — each frame's header
    // re-parsed, trailing garbage rejects the record), per-frame
    // integer luma, cut = |Δluma| > threshold via a per-doc lag
    // window. Oracle replays frames AND cuts from the pixel formula —
    // writer, stream walk, luma and windowing all cross-checked ------
    QDef("video_scene_cuts", (s, dir) => {
      val media = Multimodal.syntheticVideoTable(Tables.load(s, dir, "documents"))
      val vf = Multimodal.videoFrames(s, media).toDF()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("frame_idx")
      vf.withColumn("prev", lag(col("luma_sum"), 1).over(w))
        .select(col("doc_id"), col("frame_idx"), col("luma_sum"),
          when(col("prev").isNull, 0)
            .otherwise((abs(col("luma_sum") - col("prev")) > 50000L)
              .cast("int")).as("is_cut"))
        .orderBy("doc_id", "frame_idx")
    },
      Some("""WITH f AS (SELECT doc_id, unnest(range(0, 3 + doc_id % 4)) AS fi
        |  FROM documents),
        |l AS (SELECT doc_id, fi,
        |  CAST(list_reduce([299*((doc_id*31 + fi*fi*17 + 7*(3*q))%256)
        |    + 587*((doc_id*31 + fi*fi*17 + 7*(3*q+1))%256)
        |    + 114*((doc_id*31 + fi*fi*17 + 7*(3*q+2))%256)
        |   for q in range(0, 12)], (a, b) -> a + b) AS BIGINT) AS luma_sum
        |  FROM f)
        |SELECT doc_id, CAST(fi AS INT) AS frame_idx, luma_sum,
        |  CAST(CASE
        |    WHEN lag(luma_sum) OVER (PARTITION BY doc_id ORDER BY fi) IS NULL
        |      THEN 0
        |    WHEN abs(luma_sum - lag(luma_sum)
        |      OVER (PARTITION BY doc_id ORDER BY fi)) > 50000 THEN 1
        |    ELSE 0 END AS INT) AS is_cut
        |FROM l ORDER BY doc_id, frame_idx""".stripMargin)),

    // ---- audio near-dup: 64-bit energy-delta fingerprint
    // (Haitsma–Kalker family, one band: 3-sample frame energies,
    // gradient-sign bits) → the same generic pigeonhole Hamming
    // pairing as images. Oracle replays fingerprint AND all-pairs
    // Hamming from the text→sample formula — writer, parser, framing
    // and block join all cross-checked; same BIGINT-min bit-63
    // convention as image_phash_pairs -------------------------------
    QDef("audio_fingerprint_pairs", (s, dir) => {
      val media = Multimodal.syntheticWavTable(Tables.load(s, dir, "documents"))
      val sig = Multimodal.audioFingerprints(s, media).toDF()
      Dedup.hammingPairs(sig, "doc_id", "afp", bits = 64, maxHamming = 2)
        .orderBy("ia", "ib")
    },
      Some("""WITH c AS (SELECT doc_id,
        |    list_transform(string_split(text, ''), ch -> (unicode(ch) - 77) * 256) AS s
        |  FROM documents),
        |e AS (SELECT doc_id,
        |  [CASE WHEN len(list_slice(s, 3*j + 1, 3*j + 3)) = 0 THEN 0
        |    ELSE list_reduce(list_transform(list_slice(s, 3*j + 1, 3*j + 3),
        |      x -> CAST(x AS BIGINT) * x), (a, b) -> a + b) END
        |   for j in range(0, 65)] AS en
        |  FROM c),
        |h AS (SELECT doc_id,
        |  list_reduce([CASE WHEN en[i + 1] <= en[i + 2] THEN CAST(0 AS BIGINT)
        |      WHEN i = 63 THEN CAST(-9223372036854775808 AS BIGINT)
        |      ELSE (CAST(1 AS BIGINT) << i) END
        |    for i in range(0, 64)], (a, b) -> a | b) AS afp
        |  FROM e)
        |SELECT a.doc_id AS ia, b.doc_id AS ib,
        |  CAST(bit_count(xor(a.afp, b.afp)) AS INT) AS hamming
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.afp, b.afp)) <= 2
        |ORDER BY ia, ib""".stripMargin)),

    // ---- perceptual image near-dup: decode → 64-bit dHash (8×9
    // nearest-neighbor luma grid, gradient sign bits) → pigeonhole
    // Hamming pairing (the generic Dedup.hammingPairs — never
    // all-pairs). The oracle replays hash AND pairing from the
    // synthetic-PPM pixel formula alone (quadratic all-pairs — the
    // usual exact-oracle-vs-blocked-engine contrast), so writer,
    // parser, grid sampling and block join are all cross-checked.
    // In DuckDB 1<<63 overflows; bit 63 ORs in as the BIGINT min
    // literal (same two's-complement bit) ---------------------------
    QDef("image_phash_pairs", (s, dir) => {
      val media = Multimodal.syntheticPpmTable(Tables.load(s, dir, "documents"))
      val sig = Multimodal.imageDHashes(s, media).toDF()
      Dedup.hammingPairs(sig, "doc_id", "dhash", bits = 64, maxHamming = 1)
        .orderBy("ia", "ib")
    },
      Some("""WITH p AS (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM documents),
        |l AS (SELECT doc_id, w, h,
        |  [299*((doc_id*31 + 21*(((i//9)*h//8)*w + ((i%9)*w//9)))%256)
        |   + 587*((doc_id*31 + 21*(((i//9)*h//8)*w + ((i%9)*w//9)) + 7)%256)
        |   + 114*((doc_id*31 + 21*(((i//9)*h//8)*w + ((i%9)*w//9)) + 14)%256)
        |   for i in range(0, 72)] AS lm
        |  FROM p),
        |hsh AS (SELECT doc_id,
        |  list_reduce([CASE
        |      WHEN lm[(i//8)*9 + (i%8) + 1] <= lm[(i//8)*9 + (i%8) + 2]
        |        THEN CAST(0 AS BIGINT)
        |      WHEN i = 63 THEN CAST(-9223372036854775808 AS BIGINT)
        |      ELSE (CAST(1 AS BIGINT) << i) END
        |    for i in range(0, 64)], (a, b) -> a | b) AS dh
        |  FROM l)
        |SELECT a.doc_id AS ia, b.doc_id AS ib,
        |  CAST(bit_count(xor(a.dh, b.dh)) AS INT) AS hamming
        |FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.dh, b.dh)) <= 1
        |ORDER BY ia, ib""".stripMargin)),

    // ---- heuristic entity density (proper-noun load quality signal;
    // ASCII byte-range capitalization test, never a regex class) -----
    QDef("entity_density", (s, dir) =>
      TextAnalysis.entityDensity(Tables.load(s, dir, "documents"),
          "text", "doc_id")
        .orderBy("doc_id"),
      Some("""WITH tok AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |e AS (SELECT doc_id, CAST(len(ws) AS INT) AS n_tokens,
        |  CAST(len(list_filter(ws, (w, i) ->
        |    unicode(w[1]) BETWEEN 65 AND 90
        |    AND i > 1 AND NOT regexp_matches(ws[i - 1], '[.!?]$')))
        |    AS INT) AS n_entity_like
        |  FROM tok)
        |SELECT doc_id, n_tokens, n_entity_like,
        |  CASE WHEN n_tokens = 0 THEN 0.0
        |    ELSE CAST(n_entity_like AS DOUBLE) / n_tokens END AS entity_density
        |FROM e ORDER BY doc_id""".stripMargin)),

    // ---- content-defined chunking (FastCDC at word granularity):
    // boundaries move with content, position-tagged order-exact
    // signatures, corpus-wide chunk dup counts ------------------------
    QDef("cdc_chunks", (s, dir) =>
      TextAnalysis.cdcChunks(Tables.load(s, dir, "documents"),
          "text", "doc_id", mask = 8)
        .orderBy("doc_id", "chunk_idx"),
      Some(s"""WITH tok AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |p0 AS (SELECT doc_id,
        |    [{'pos': i - 1, 'w': ws[i]} for i in range(1, len(ws) + 1)] AS l
        |  FROM tok),
        |p AS (SELECT doc_id, u.pos AS pos, u.w AS w
        |  FROM (SELECT doc_id, unnest(l) AS u FROM p0)),
        |m AS (SELECT doc_id, pos, w,
        |    CASE WHEN ${duckPoly("w")} % 8 = 0 THEN 1 ELSE 0 END AS b FROM p),
        |c AS (SELECT doc_id, pos, w,
        |    CAST(sum(b) OVER (PARTITION BY doc_id ORDER BY pos) - b AS INT)
        |      AS chunk_idx FROM m),
        |st AS (SELECT doc_id, pos, w, chunk_idx,
        |    min(pos) OVER (PARTITION BY doc_id, chunk_idx) AS start_pos FROM c),
        |g AS (SELECT doc_id, chunk_idx,
        |    CAST(min(start_pos) AS BIGINT) AS start_pos,
        |    CAST(count(*) AS BIGINT) AS n_words,
        |    CAST(sum(${duckPoly("w || ':' || CAST(pos - start_pos AS VARCHAR)")}) AS BIGINT) AS chunk_sig
        |  FROM st GROUP BY doc_id, chunk_idx),
        |d AS (SELECT chunk_sig, n_words, CAST(count(*) AS BIGINT) AS n_dup_chunks
        |  FROM g GROUP BY 1, 2)
        |SELECT g.doc_id, g.chunk_idx, g.start_pos, g.n_words, g.chunk_sig,
        |  d.n_dup_chunks
        |FROM g JOIN d USING (chunk_sig, n_words)
        |ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ---- int8 scalar quantization of embeddings (the cheap end of
    // the compression ladder beside PQ; exact affine-formula replay,
    // dim=64 pinned by SchemaPinSpec) --------------------------------
    QDef("embed_sq8", (s, dir) =>
      Similarity.scalarQuantize8(Tables.load(s, dir, "embeddings"))
        .select(col("vec_id"), posexplode(col("codes")))
        .toDF("vec_id", "dim", "code")
        .orderBy("vec_id", "dim"),
      Some("""WITH p AS (SELECT vec_id, i - 1 AS dim,
        |    CAST(embedding[i] AS DOUBLE) AS x
        |  FROM embeddings, range(1, 65) t(i)),
        |d AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM p GROUP BY dim)
        |SELECT vec_id, CAST(dim AS INT) AS dim,
        |  CAST(CASE WHEN mx = mn THEN 0
        |    ELSE least(floor((x - mn) / (mx - mn) * 256.0), 255.0) END
        |    AS INT) AS code
        |FROM p JOIN d USING (dim)
        |ORDER BY vec_id, dim""".stripMargin)),

    // ---- cross-source shingle overlap matrix (corpus-level dedup
    // planning; posting lists bounded by |sources|, output
    // metadata-scale) -------------------------------------------------
    QDef("source_overlap", (s, dir) =>
      Dedup.sourceOverlapMatrix(Tables.load(s, dir, "documents"),
          "text", "source", shingleN = 3)
        .orderBy("src_a", "src_b"),
      Some("""WITH tok AS (SELECT source,
        |    list_filter(string_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |sh0 AS (SELECT source AS src, unnest(list_distinct(
        |    CASE WHEN len(ws) >= 3
        |      THEN [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |            for i in range(1, len(ws) - 1)]
        |      ELSE [] END)) AS g FROM tok),
        |sh AS (SELECT DISTINCT src, g FROM sh0),
        |sz AS (SELECT src, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY src),
        |pr AS (SELECT a.src AS src_a, b.src AS src_b,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.src < b.src GROUP BY 1, 2),
        |grid AS (SELECT sa.src AS src_a, sb.src AS src_b,
        |    sa.n_sh AS na, sb.n_sh AS nb
        |  FROM sz sa JOIN sz sb ON sa.src < sb.src)
        |SELECT src_a, src_b,
        |  coalesce(n_shared, CAST(0 AS BIGINT)) AS n_shared, na, nb,
        |  CAST(coalesce(n_shared, 0) AS DOUBLE)
        |    / (na + nb - coalesce(n_shared, 0)) AS jaccard
        |FROM grid LEFT JOIN pr USING (src_a, src_b)
        |ORDER BY src_a, src_b""".stripMargin)),

    // ---- per-holdout-doc contamination fraction (eval-integrity
    // report — the GPT-3 appendix-C overlap metric; linear
    // first-posting join, nothing pairwise) ---------------------------
    QDef("contamination_fraction", (s, dir) =>
      graft.llm.Sampling.contaminationFraction(
          Tables.load(s, dir, "documents"), "text", "doc_id",
          Seq("train" -> 80, "val" -> 90, "test" -> 100), holdout = "test",
          trainSplit = "train", shingleN = 2)
        .orderBy("doc_id"),
      Some(s"""WITH h AS (SELECT doc_id, ${duckPoly("text")} % 100 AS split_hash,
        |    text FROM documents),
        |sp AS (SELECT doc_id,
        |    CASE WHEN split_hash < 80 THEN 'train'
        |         WHEN split_hash < 90 THEN 'val' ELSE 'test' END AS split,
        |    text FROM h),
        |tok AS (SELECT doc_id, split,
        |    list_filter(string_split(text, ' '), w -> w <> '') AS ws FROM sp),
        |sh0 AS (SELECT doc_id, split, unnest(list_distinct(
        |    CASE WHEN len(ws) >= 2
        |      THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
        |      ELSE [] END)) AS g FROM tok),
        |tr AS (SELECT DISTINCT g FROM sh0 WHERE split = 'train'),
        |ho AS (SELECT doc_id, g FROM sh0 WHERE split = 'test'),
        |agg AS (SELECT ho.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(sum(CASE WHEN tr.g IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_in_train,
        |  CAST(sum(CASE WHEN tr.g IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
        |    / count(*) AS contamination
        |FROM ho LEFT JOIN tr ON ho.g = tr.g GROUP BY ho.doc_id)
        |SELECT sp.doc_id,
        |  coalesce(n_shingles, CAST(0 AS BIGINT)) AS n_shingles,
        |  coalesce(n_in_train, CAST(0 AS BIGINT)) AS n_in_train,
        |  coalesce(contamination, CAST(0 AS DOUBLE)) AS contamination
        |FROM sp LEFT JOIN agg USING (doc_id) WHERE sp.split = 'test'
        |ORDER BY doc_id""".stripMargin)),

    // ---- T5/UL2 span-corruption prep (Raffel et al. JMLR'20):
    // deterministic span masks (poly(doc:pos) start/length draws),
    // <extra_id_K> sentinels, (input, target) denoising pair — all
    // row-local array expressions, oracle replays every index --------
    QDef("span_corruption", (s, dir) =>
      TextAnalysis.spanCorruption(Tables.load(s, dir, "documents"),
          "text", "doc_id",
          startMod = ScStartMod, lenSpread = ScLenSpread)
        .orderBy("doc_id"),
      Some(s"""WITH tok AS (SELECT doc_id, $DuckToks AS ws FROM documents),
        |t AS (SELECT doc_id, ws, len(ws) AS n FROM tok WHERE len(ws) > 0),
        |a AS (SELECT doc_id, ws, n,
        |  [CASE WHEN ${duckPoly("CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)")} % $ScStartMod = 0
        |    THEN 1 ELSE 0 END for i in range(1, n + 1)] AS starts,
        |  [CAST(1 + ${duckPoly("'L' || CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)")} % $ScLenSpread AS INT)
        |   for i in range(1, n + 1)] AS lens
        |  FROM t),
        |m AS (SELECT doc_id, ws, n, starts, lens,
        |  [CASE WHEN len(list_filter(range(greatest(i - ${ScLenSpread - 1}, 1), i + 1),
        |      j -> starts[j] = 1 AND i - 1 < (j - 1) + lens[j])) > 0
        |    THEN 1 ELSE 0 END for i in range(1, n + 1)] AS masked FROM a),
        |r AS (SELECT doc_id, ws, n, masked,
        |  [CASE WHEN masked[i] = 1 AND (i = 1 OR masked[i - 1] = 0)
        |    THEN 1 ELSE 0 END for i in range(1, n + 1)] AS rst FROM m),
        |s2 AS (SELECT doc_id, ws, n, masked, rst,
        |  [CAST(len(list_filter(range(1, i + 1), q -> rst[q] = 1)) - 1 AS INT)
        |   for i in range(1, n + 1)] AS sent FROM r),
        |f AS (SELECT doc_id,
        |  CAST(list_sum(masked) AS INT) AS n_masked,
        |  CAST(list_sum(rst) AS INT) AS n_spans,
        |  array_to_string(list_filter(
        |    [CASE WHEN masked[i] = 0 THEN ws[i]
        |          WHEN rst[i] = 1 THEN '<extra_id_' || CAST(sent[i] AS VARCHAR) || '>'
        |          ELSE NULL END for i in range(1, n + 1)],
        |    x -> x IS NOT NULL), ' ') AS input_text,
        |  array_to_string(list_filter(
        |    [CASE WHEN masked[i] = 0 THEN NULL
        |          WHEN rst[i] = 1 THEN '<extra_id_' || CAST(sent[i] AS VARCHAR) || '> ' || ws[i]
        |          ELSE ws[i] END for i in range(1, n + 1)],
        |    x -> x IS NOT NULL), ' ') AS target_text
        |  FROM s2)
        |SELECT d.doc_id, CAST(len($DuckToks) AS INT) AS n_tokens,
        |  coalesce(f.n_masked, 0) AS n_masked,
        |  coalesce(f.n_spans, 0) AS n_spans,
        |  coalesce(f.input_text, '') AS input_text,
        |  coalesce(f.target_text, '') AS target_text
        |FROM documents d LEFT JOIN f USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // ---- hard-negative mining for contrastive training: per anchor,
    // top-3 most-similar DIFFERENT-label vectors (the near-boundary
    // negatives that actually carry training signal); exact
    // brute-force with the ann family's fold-replay oracle ------------
    QDef("hard_negatives", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") % 50 === 0)
      Similarity.hardNegatives(qs, emb, k = 3)
        .orderBy("q_vec_id", "rank")
    },
      Some("""WITH n AS (SELECT vec_id, label, embedding,
        |  sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS nrm
        |  FROM embeddings),
        |p AS (SELECT q.vec_id AS q_vec_id, q.label AS q_label,
        |  c.vec_id AS n_vec_id, c.label AS n_label,
        |  list_reduce(list_transform(list_zip(q.embedding, c.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (x, y) -> x + y)
        |    / (q.nrm * c.nrm) AS cos
        |  FROM n q JOIN n c ON q.vec_id % 50 = 0 AND q.label <> c.label),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_vec_id
        |    ORDER BY cos DESC, n_vec_id) AS INT) AS rank FROM p)
        |SELECT q_vec_id, q_label, rank, n_vec_id, n_label, cos
        |FROM r WHERE rank <= 3
        |ORDER BY q_vec_id, rank""".stripMargin)),

    // ---- ViT-style patchify: 2×2 pixel tiles with integer channel
    // sums over the real PPM parse; the oracle replays every pixel
    // from the synthetic formula WITHOUT parsing (the multimodal
    // writer-vs-parser cross-check discipline) ------------------------
    QDef("image_patches", (s, dir) => {
      import s.implicits._
      val media = Multimodal.syntheticPpmTable(Tables.load(s, dir, "documents"))
      Multimodal.imagePatches(s, media, patch = 2).toDF()
        .orderBy("doc_id", "patch_row", "patch_col")
    }, Some {
      def ch(c: Int): String =
        (for (dy <- 0 to 1; dx <- 0 to 1) yield
          s"(doc_id*31 + 7*(3*((2*pr+$dy)*w + 2*pc+$dx) + $c)) % 256")
          .mkString(" + ")
      s"""WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
         |  FROM documents),
         |g AS (SELECT doc_id, w, h, unnest(range(0, h // 2)) AS pr FROM d),
         |gc AS (SELECT doc_id, w, pr, unnest(range(0, w // 2)) AS pc FROM g)
         |SELECT doc_id, CAST(pr AS INT) AS patch_row, CAST(pc AS INT) AS patch_col,
         |  CAST(${ch(0)} AS BIGINT) AS sum_r,
         |  CAST(${ch(1)} AS BIGINT) AS sum_g,
         |  CAST(${ch(2)} AS BIGINT) AS sum_b
         |FROM gc ORDER BY doc_id, patch_row, patch_col""".stripMargin
    }),

    // ---- DSIR importance weights (Xie et al. NeurIPS'23: target-vs-
    // raw unigram log-ratio, add-1 smoothed, micro-quantized per term
    // BEFORE the doc sum — the unigram_logprob discipline) ------------
    QDef("dsir_weights", (s, dir) =>
      graft.llm.Sampling.dsirWeights(Tables.load(s, dir, "documents"),
          "text", "doc_id", targetPred = col("lang") === "en")
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, lang = 'en' AS is_t,
        |    unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, is_t, CAST(count(*) AS BIGINT) AS tf
        |  FROM t GROUP BY 1, 2, 3),
        |raw AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cr FROM tf GROUP BY term),
        |tgt AS (SELECT term, CAST(sum(tf) AS BIGINT) AS ct
        |  FROM tf WHERE is_t GROUP BY term),
        |tot AS (SELECT (SELECT CAST(sum(cr) AS BIGINT) FROM raw) AS t_raw,
        |  (SELECT CAST(count(*) AS BIGINT) FROM raw) AS v,
        |  (SELECT CAST(sum(tf) AS BIGINT) FROM tf WHERE is_t) AS t_tgt),
        |pt AS (SELECT term, CAST(floor(ln(
        |    (CAST(coalesce(ct, 0) + 1 AS DOUBLE) * CAST(t_raw + v AS DOUBLE))
        |    / (CAST(cr + 1 AS DOUBLE) * CAST(t_tgt + v AS DOUBLE)))
        |    * 1000000.0) AS BIGINT) AS lw_micro
        |  FROM raw LEFT JOIN tgt USING (term), tot),
        |pd AS (SELECT f.doc_id, CAST(sum(f.tf) AS BIGINT) AS n_tokens,
        |    CAST(sum(f.tf * pt.lw_micro) AS BIGINT) AS dsir_micro_sum
        |  FROM tf f JOIN pt USING (term) GROUP BY 1)
        |SELECT d.doc_id, coalesce(n_tokens, 0) AS n_tokens,
        |  coalesce(dsir_micro_sum, 0) AS dsir_micro_sum,
        |  CASE WHEN coalesce(n_tokens, 0) = 0 THEN 0.0
        |    ELSE CAST(dsir_micro_sum AS DOUBLE) / n_tokens END
        |    AS dsir_micro_per_tok
        |FROM documents d LEFT JOIN pd USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // ---- DPO/RLHF preference-pair construction: per-prompt argmax/
    // argmin by packed BIGINT score keys — one prompt-key agg, one
    // row per prompt out, tie-breaks total-ordered (Rafailov et al.
    // 2023 data prep; see Sampling.dpoPairs) -------------------------
    QDef("dpo_pairs", (s, dir) =>
      graft.llm.Sampling.dpoPairs(Tables.load(s, dir, "documents"),
          "text", "doc_id", nPrompts = DpoNPrompts)
        .orderBy("prompt_id"),
      Some(s"""WITH tok AS (SELECT doc_id, doc_id % $DpoNPrompts AS prompt_id,
        |    $DuckToks AS ws FROM documents),
        |sc AS (SELECT prompt_id, doc_id,
        |    (1000000 * len(list_distinct(ws))) // len(ws) AS score_micro
        |  FROM tok WHERE len(ws) > 0),
        |a AS (SELECT prompt_id, CAST(count(*) AS BIGINT) AS n_candidates,
        |    CAST(max(score_micro * 10000000000 + (9999999999 - doc_id))
        |      AS BIGINT) AS ck,
        |    CAST(min(score_micro * 10000000000 + doc_id) AS BIGINT) AS rk
        |  FROM sc GROUP BY 1)
        |SELECT prompt_id, n_candidates,
        |  CAST(9999999999 - ck % 10000000000 AS BIGINT) AS chosen_doc,
        |  CAST(rk % 10000000000 AS BIGINT) AS rejected_doc,
        |  CAST(ck // 10000000000 AS BIGINT) AS chosen_score_micro,
        |  CAST(rk // 10000000000 AS BIGINT) AS rejected_score_micro,
        |  CAST(ck // 10000000000 - rk // 10000000000 AS BIGINT) AS margin_micro
        |FROM a
        |WHERE n_candidates >= 2 AND ck // 10000000000 - rk // 10000000000 >= 1
        |ORDER BY prompt_id""".stripMargin)),

    // ---- tokenizer-vocab coverage: top-V corpus units (word
    // bigrams) become the vocabulary, per-doc OOV mass reported; the
    // V-row vocab is TakeOrdered + broadcast, the corpus never
    // shuffles on content (TextAnalysis.vocabCoverage) ---------------
    QDef("vocab_coverage", (s, dir) =>
      graft.llm.TextAnalysis.vocabCoverage(Tables.load(s, dir, "documents"),
          "text", "doc_id", vocabSize = VocabCovSize)
        .orderBy("doc_id"),
      Some(s"""WITH tok AS (SELECT doc_id, $DuckToks AS ws FROM documents),
        |g AS (SELECT doc_id, unnest([array_to_string(ws[i+1 : i+2], ' ')
        |    for i in range(0, len(ws) - 1)]) AS u
        |  FROM tok WHERE len(ws) >= 2),
        |tf AS (SELECT doc_id, u, CAST(count(*) AS BIGINT) AS tf
        |  FROM g GROUP BY 1, 2),
        |c AS (SELECT u, CAST(sum(tf) AS BIGINT) AS c_t FROM tf GROUP BY 1),
        |v AS (SELECT u FROM (SELECT u, row_number()
        |    OVER (ORDER BY c_t DESC, u) AS rn FROM c) WHERE rn <= $VocabCovSize),
        |agg AS (SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_units,
        |    CAST(sum(CASE WHEN v.u IS NULL THEN tf.tf ELSE 0 END)
        |      AS BIGINT) AS n_oov,
        |    CAST(count(*) AS BIGINT) AS n_distinct_units,
        |    CAST(sum(CASE WHEN v.u IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_oov_distinct
        |  FROM tf LEFT JOIN v ON tf.u = v.u GROUP BY 1)
        |SELECT d.doc_id, coalesce(n_units, 0) AS n_units,
        |  coalesce(n_oov, 0) AS n_oov,
        |  coalesce(n_distinct_units, 0) AS n_distinct_units,
        |  coalesce(n_oov_distinct, 0) AS n_oov_distinct,
        |  CAST(CASE WHEN coalesce(n_units, 0) = 0 THEN 0
        |    ELSE (1000000 * n_oov) // n_units END AS BIGINT) AS oov_micro
        |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
        |ORDER BY d.doc_id""".stripMargin)),

    // ---- classifier-calibration bins (reliability diagram / ECE,
    // Guo et al. ICML 2017): fixed linear probe over the embedding,
    // ×10⁶ floor quantize, 10 equal-width probability bins — one
    // bins-key agg, 10 rows out (Similarity.calibrationBins; weights
    // and the oracle literal list come from the same
    // calibrationWeights formula — the mmrSql shared-constant rule) --
    QDef("calibration_ece", (s, dir) =>
      graft.llm.Similarity.calibrationBins(Tables.load(s, dir, "embeddings"),
          "embedding", "label",
          weights = graft.llm.Similarity.calibrationWeights(64),
          posMin = CalPosMin)
        .orderBy("bin"),
      Some(s"""WITH s AS (SELECT label,
        |    least(greatest((list_reduce(list_transform(
        |        list_zip(embedding, $calWeightsSql),
        |        p -> CAST(p[1] AS DOUBLE) * p[2]), (a, b) -> a + b)
        |      + CAST(2.0 AS DOUBLE)) / CAST(4.0 AS DOUBLE),
        |      CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE)) AS pred
        |  FROM embeddings),
        |q AS (SELECT CAST(floor(pred * CAST(1000000.0 AS DOUBLE)) AS BIGINT)
        |      AS pred_micro,
        |    CASE WHEN label >= $CalPosMin THEN 1 ELSE 0 END AS pos FROM s),
        |b AS (SELECT least(pred_micro // 100000, 9) AS bin, pred_micro, pos
        |  FROM q),
        |a AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(pred_micro) AS BIGINT) AS sp,
        |    CAST(sum(pos) AS BIGINT) AS np
        |  FROM b GROUP BY 1)
        |SELECT bin, n, CAST(sp // n AS BIGINT) AS mean_pred_micro,
        |  CAST((1000000 * np) // n AS BIGINT) AS frac_pos_micro,
        |  CAST(abs(sp // n - (1000000 * np) // n) AS BIGINT) AS gap_micro,
        |  CAST(abs(sp // n - (1000000 * np) // n) * n AS BIGINT)
        |    AS ece_contrib_micro
        |FROM a ORDER BY bin""".stripMargin)),

    // ---- fill-in-the-middle transform (Bavarian et al. 2022): two
    // content-hash cut points split each doc into prefix/middle/
    // suffix, re-serialized PSM (even ids) / SPM (odd) with sentinel
    // tokens, 60% fim rate — entirely row-local array expressions,
    // scan speed (TextAnalysis.fimTransform) -------------------------
    QDef("fim_transform", (s, dir) =>
      graft.llm.TextAnalysis.fimTransform(Tables.load(s, dir, "documents"),
          "text", "doc_id", fimRate10 = FimRate10)
        .orderBy("doc_id"),
      Some(s"""WITH tok AS (SELECT doc_id, text, $DuckToks AS ws FROM documents),
        |b AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n,
        |    ${duckPoly("text")} AS h FROM tok),
        |s AS (SELECT doc_id, ws, n,
        |    (n >= 2 AND doc_id % 10 < $FimRate10) AS app,
        |    h % (n + 1) AS a, (h // (n + 1)) % (n + 1) AS bb FROM b),
        |c AS (SELECT doc_id, ws, n, app,
        |    least(a, bb) AS lo, greatest(a, bb) AS hi FROM s)
        |SELECT doc_id, n AS n_tokens,
        |  CASE WHEN NOT app THEN 'none'
        |       WHEN doc_id % 2 = 0 THEN 'psm' ELSE 'spm' END AS fim_mode,
        |  CAST(CASE WHEN app THEN lo ELSE 0 END AS BIGINT) AS n_prefix,
        |  CAST(CASE WHEN app THEN hi - lo ELSE 0 END AS BIGINT) AS n_middle,
        |  CAST(CASE WHEN app THEN n - hi ELSE 0 END AS BIGINT) AS n_suffix,
        |  array_to_string(
        |    CASE WHEN NOT app THEN ws
        |         WHEN doc_id % 2 = 0 THEN ['<PRE>'] || ws[1 : lo]
        |           || ['<SUF>'] || ws[hi + 1 : n]
        |           || ['<MID>'] || ws[lo + 1 : hi]
        |         ELSE ['<SUF>'] || ws[hi + 1 : n]
        |           || ['<PRE>'] || ws[1 : lo]
        |           || ['<MID>'] || ws[lo + 1 : hi] END, ' ') AS fim_text
        |FROM c ORDER BY doc_id""".stripMargin)),

    // ---- embedding-space anisotropy / participation ratio
    // (Ethayarajh '19): per-label covariance via ONE quantized
    // second-moment pass (d² metadata rows), trace²/Frobenius at the
    // end — the health check before trusting cosine thresholds
    // (Similarity.embedAnisotropy) -----------------------------------
    QDef("embed_anisotropy", (s, dir) =>
      graft.llm.Similarity.embedAnisotropy(Tables.load(s, dir, "embeddings"),
          "embedding", "label")
        .orderBy("label"),
      Some(AnisotropyOracle)),

    // ---- the same audit through the TWO-LEVEL subspace reduce — the
    // d ≫ 64 swap (the measured threshold is in PLANS.md):
    // d/w diagonal OuterMoments triangles + cross CrossMoments
    // rectangles, one bounded-state aggregation per block, remapped
    // and unioned into a bit-identical moments frame. Same oracle —
    // the gate pins the tiling to the single-level numbers ------------
    QDef("embed_anisotropy_2l", (s, dir) =>
      graft.llm.Similarity.embedAnisotropy(Tables.load(s, dir, "embeddings"),
          "embedding", "label", subspaceWidth = Some(32))
        .orderBy("label"),
      Some(AnisotropyOracle)),

    // ---- corpus drift as a population-stability index (PSI): two
    // snapshot halves (doc_id parity), token-band bucket
    // distributions per source, add-1 smoothing over observed
    // buckets; one quantized ln per (source, bucket), integers after
    // (TextAnalysis.corpusDriftPsi) ----------------------------------
    QDef("corpus_drift_psi", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.llm.TextAnalysis.corpusDriftPsi(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "text", "source",
          bucketWidth = PsiBucketWidth, maxBucket = PsiMaxBucket)
        .orderBy("source")
    },
      Some(s"""WITH tok AS (SELECT source AS grp, doc_id,
        |    least(CAST(len($DuckToks) AS BIGINT) // $PsiBucketWidth,
        |      $PsiMaxBucket) AS bucket
        |  FROM documents),
        |a AS (SELECT grp, bucket, CAST(count(*) AS BIGINT) AS a
        |  FROM tok WHERE doc_id % 2 = 0 GROUP BY 1, 2),
        |b AS (SELECT grp, bucket, CAST(count(*) AS BIGINT) AS b
        |  FROM tok WHERE doc_id % 2 = 1 GROUP BY 1, 2),
        |j AS (SELECT coalesce(a.grp, b.grp) AS grp,
        |    coalesce(a.bucket, b.bucket) AS bucket,
        |    coalesce(a.a, 0) AS a, coalesce(b.b, 0) AS b
        |  FROM a FULL OUTER JOIN b
        |    ON a.grp = b.grp AND a.bucket = b.bucket),
        |t AS (SELECT grp, CAST(sum(a) AS BIGINT) AS ta,
        |    CAST(sum(b) AS BIGINT) AS tb,
        |    CAST(count(*) AS BIGINT) AS k FROM j GROUP BY 1),
        |c AS (SELECT j.grp, ta, tb, k,
        |    CAST(floor((CAST(a + 1 AS DOUBLE) / CAST(ta + k AS DOUBLE)
        |        - CAST(b + 1 AS DOUBLE) / CAST(tb + k AS DOUBLE))
        |      * CAST(CAST(floor(ln(
        |          (CAST(a + 1 AS DOUBLE) * CAST(tb + k AS DOUBLE))
        |          / (CAST(b + 1 AS DOUBLE) * CAST(ta + k AS DOUBLE)))
        |        * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS DOUBLE))
        |      AS BIGINT) AS contrib
        |  FROM j JOIN t ON j.grp = t.grp)
        |SELECT grp AS source, max(ta) AS n_ref, max(tb) AS n_cur,
        |  max(k) AS n_buckets,
        |  CAST(sum(contrib) AS BIGINT) AS psi_micro
        |FROM c GROUP BY grp ORDER BY source""".stripMargin)),

    // ---- ranked-retrieval eval metrics (nDCG@k / MRR / recall@k,
    // label-agreement relevance): fold-exact cosine ranking, then
    // ALL-BIGINT metric arithmetic over literal discount tables
    // rendered from one Scala formula into both engines
    // (Similarity.retrievalMetrics) ----------------------------------
    QDef("retrieval_metrics", (s, dir) =>
      graft.llm.Similarity.retrievalMetrics(Tables.load(s, dir, "embeddings"),
          qMod = RetrQMod, k = RetrK)
        .orderBy("q_vec_id"),
      Some(s"""WITH n AS (SELECT vec_id, label, embedding,
        |    sqrt(list_reduce(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
        |      AS nrm
        |  FROM embeddings),
        |p AS (SELECT q.vec_id AS q_vec_id, q.label AS q_label,
        |    c.vec_id AS n_vec_id, c.label AS n_label,
        |    list_reduce(list_transform(list_zip(q.embedding, c.embedding),
        |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
        |      (x, y) -> x + y) / (q.nrm * c.nrm) AS cos
        |  FROM n q JOIN n c
        |    ON q.vec_id % $RetrQMod = 0 AND q.vec_id <> c.vec_id),
        |r AS (SELECT q_vec_id, q_label, n_vec_id, n_label,
        |    CAST(row_number() OVER (PARTITION BY q_vec_id
        |      ORDER BY cos DESC, n_vec_id) AS INT) AS rank
        |  FROM p),
        |t AS (SELECT * FROM r WHERE rank <= $RetrK),
        |d AS (SELECT q_vec_id, q_label,
        |    CAST(sum(CASE WHEN n_label = q_label
        |      THEN list_extract($retrDiscSql, rank) ELSE 0 END) AS BIGINT)
        |      AS dcg_micro,
        |    min(CASE WHEN n_label = q_label THEN rank END) AS frr,
        |    CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END)
        |      AS BIGINT) AS hits
        |  FROM t GROUP BY 1, 2),
        |lc AS (SELECT label, CAST(count(*) AS BIGINT) AS nl
        |  FROM embeddings GROUP BY 1),
        |e AS (SELECT q_vec_id, nl - 1 AS n_rel, hits, dcg_micro, frr,
        |    CASE WHEN nl - 1 <= 0 THEN 0
        |      ELSE list_extract($retrPrefSql,
        |        CAST(least(nl - 1, $RetrK) AS INT)) END AS idcg
        |  FROM d JOIN lc ON d.q_label = lc.label)
        |SELECT q_vec_id, n_rel, hits, dcg_micro,
        |  CAST(idcg AS BIGINT) AS idcg_micro,
        |  CAST(CASE WHEN idcg = 0 THEN 0
        |    ELSE (1000000 * dcg_micro) // idcg END AS BIGINT) AS ndcg_micro,
        |  CAST(CASE WHEN frr IS NULL THEN 0
        |    ELSE 1000000 // frr END AS BIGINT) AS mrr_micro,
        |  CAST(CASE WHEN n_rel <= 0 THEN 0
        |    ELSE (1000000 * hits) // n_rel END AS BIGINT) AS recall_micro
        |FROM e ORDER BY q_vec_id""".stripMargin))
  )

  val queries: Map[String, Q] = defs.map(d => d.name -> d.fn).toMap
  val oracleSql: Map[String, String] =
    defs.flatMap(d => d.sql.map(d.name -> _)).toMap
}
