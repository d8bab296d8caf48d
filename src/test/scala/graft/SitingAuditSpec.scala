package graft

import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression, HigherOrderFunction}
import org.apache.spark.sql.execution.{ExternalRDDScanExec, FilterExec, GenerateExec, ProjectExec, RDDScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BaseJoinExec, HashJoin, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Expression-siting CI (VERDICT r10 task 2): the two re-siting
  * diseases round 10 found by hand-bisecting scale curves, turned into
  * an automated audit over every gate's physical plan.
  *
  * (a) EXPENSIVE-ABOVE-GENERATE — an expensive per-row expression in a
  *     Project sitting above a Generate, with NO data dependency on
  *     the generator's output: the optimizer re-sited it from below
  *     the explode (or the author wrote it in the same select), so it
  *     re-evaluates once per POSITION row instead of once per input
  *     row — dim× amplification (the kMeansFit/Multi instance,
  *     PLANS.md "Second instance": 17.5 s of a 19 s fit at 10×).
  *
  * (b) EXPENSIVE-FUSED-BELOW-JOIN — an expensive projection on a join
  *     input with no materialization barrier (exchange / checkpoint
  *     scan / sort / aggregate / window) between it and the join:
  *     whole-stage codegen defers column evaluation to first use,
  *     which for a fused streamed side lands INSIDE the probe-match
  *     loop — re-evaluation per JOIN-OUTPUT row (the ivfpq codes
  *     instance: 99 s of a 123 s total at 10×). A broadcast build side
  *     is behind a BroadcastExchange and never flags.
  *
  * "Expensive" = the tree contains a graft.functions native expression
  * (VectorDot / PolyHash / OuterMoments / WinnowKeys / BpeApply / …)
  * or any interpreted higher-order function — the per-row costs the
  * scale curves showed get amplified.
  *
  * The allowlist is exact both ways (the PlanAuditSpec discipline): a
  * finding must be listed with a reason, and a listed entry whose plan
  * cleans up fails the test so stale justifications can't rot.
  * Streaming gates are excluded for PlanAuditSpec's reason (their
  * query fn returns the drained memory table, not the streaming plan).
  */
class SitingAuditSpec extends SparkSpec {

  private def isExpensive(e: Expression): Boolean = e.exists {
    case _: HigherOrderFunction => true
    case x => x.getClass.getName.startsWith("graft.functions.")
  }

  /** Nodes that materialize their input rows: everything BELOW one
    * evaluates exactly once per input row no matter what the consumer
    * above does — descent stops here.
    */
  private def isBarrier(p: SparkPlan): Boolean = p match {
    case _: Exchange | _: RDDScanExec | _: ExternalRDDScanExec[_] |
        _: InMemoryTableScanExec | _: SortExec | _: WindowExec => true
    case _: BaseAggregateExec => true
    // a Generate evaluates its INPUT expressions once per input row
    // before iterating the generator's output — expressions below it
    // do not defer into a downstream join loop. (Blind spot accepted:
    // an expensive column computed below the Generate, passed THROUGH
    // it untouched, and first used above a downstream join could still
    // defer; no gate carries that shape — pre-explode expensive
    // columns are the generator input itself.)
    case _: GenerateExec => true
    // streaming executed plans (VERDICT r11 #4): stateful operators
    // (StateStoreSave/Restore, streaming dedup/joins/sessionization)
    // materialize rows into the state store — everything below them
    // evaluates once per input row. Matched by package to stay off
    // private[sql] types. Blind spot accepted: EventTimeWatermarkExec
    // is a pass-through also caught here; stopping at it can only
    // HIDE a finding below the watermark node, which sits directly on
    // the source projection in every gate.
    case p if p.getClass.getName.startsWith(
      "org.apache.spark.sql.execution.streaming.") => true
    case _ => false
  }

  private def describe(e: Expression): String = {
    val names = e.collect {
      case x if x.getClass.getName.startsWith("graft.functions.") =>
        x.getClass.getSimpleName
      case h: HigherOrderFunction => h.prettyName
    }.distinct
    names.mkString("+")
  }

  /** (a): Project → (Filters) → Generate, expensive exprs in the
    * project list with no reference to anything the generator emits.
    */
  private def aboveGenerate(plan: SparkPlan): Seq[String] = plan.collect {
    case p: ProjectExec =>
      @annotation.tailrec
      def gen(q: SparkPlan): Option[GenerateExec] = q match {
        case g: GenerateExec => Some(g)
        case f: FilterExec => gen(f.child)
        case _ => None
      }
      gen(p.child).toSeq.flatMap { g =>
        val genOut = AttributeSet(g.generatorOutput)
        p.projectList
          .filter(e => isExpensive(e) && e.references.intersect(genOut).isEmpty)
          .map(e => s"above-generate[${describe(e)}]")
      }
  }.flatten

  /** (c): Expand replicates every input row once per projection set
    * (cube/rollup/grouping-sets/count-distinct rewrites) and its
    * projections re-evaluate per REPLICA — an expensive expression in
    * them (or fused directly below with no barrier) pays the
    * replication factor, same disease as above-Generate.
    */
  private def underExpand(plan: SparkPlan): Seq[String] = plan.collect {
    case ex: org.apache.spark.sql.execution.ExpandExec =>
      val inProj = ex.projections.flatten.filter(isExpensive)
        .map(e => s"in-expand[${describe(e)}]")
      def walk(q: SparkPlan): Seq[String] =
        if (isBarrier(q)) Nil
        else {
          val here = q match {
            case p: ProjectExec => p.projectList.filter(isExpensive)
              .map(e => s"below-expand[${describe(e)}]")
            case _ => Nil
          }
          here ++ q.children.flatMap(walk)
        }
      inProj ++ ex.children.flatMap(walk)
  }.flatten

  /** (b): expensive projection on a join input, no barrier between.
    * Join KEYS are exempt — codegen evaluates key variables eagerly
    * before the probe, so a key expression runs once per input row no
    * matter the fan-out. Condition references are exempt too: a theta
    * condition needs them per candidate pair by definition — there is
    * no cheaper siting.
    */
  private def belowJoin(plan: SparkPlan): Seq[String] = plan.collect {
    case j: BaseJoinExec =>
      val perPair = AttributeSet(
        (j.condition.toSeq ++ (j match {
          case h: HashJoin => h.leftKeys ++ h.rightKeys
          case smj: SortMergeJoinExec => smj.leftKeys ++ smj.rightKeys
          case _ => Nil
        })).flatMap(_.references))
      def walk(q: SparkPlan): Seq[String] =
        if (isBarrier(q)) Nil
        else {
          val here = q match {
            case p: ProjectExec =>
              p.projectList
                .filter(e => isExpensive(e) && !perPair.contains(e.toAttribute))
                .map(e => s"below-join[${describe(e)}]")
            case _ => Nil
          }
          here ++ q.children.flatMap(walk)
        }
      j.children.flatMap(walk)
  }.flatten

  /** query -> why its flagged siting is correct/bounded at 100 TB.
    *
    * Two recurring shapes, both bounded:
    *
    * UNIQUE-KEY JOIN (fan-out ≤ 1): the join's build side is unique on
    * the key (a per-doc/per-group aggregate), so a streamed row
    * matches at most once — deferred evaluation cannot amplify; the
    * flagged expression runs once per input row exactly as if it were
    * materialized. (Spark offers no way to declare key uniqueness, so
    * the audit cannot see this.)
    *
    * PAIR-COST BOUND: the join IS a pair enumerator (the ANN verdict
    * harness's brute-force leg) and every emitted pair pays an O(dim)
    * dot in its score/condition by definition; a per-pair re-evaluated
    * O(dim) norm adds a ≤2-3× constant on top of that unavoidable pair
    * cost, never a new asymptotic term. At scale the documented fix is
    * the candidate-generator swap (fewer pairs), not norm siting.
    */
  private val allowed: Map[String, String] = Map(
    "ann_topk_exact" -> "PAIR-COST BOUND: corpus-side l2 norm below the broadcast-query pair join",
    "ann_ivf" -> "PAIR-COST BOUND: same norm below the brute-force baseline leg of the verdict harness",
    "ann_lsh" -> "PAIR-COST BOUND: same verdict-harness baseline leg",
    "ann_ivfpq" -> ("PAIR-COST BOUND: verdict-harness baseline norm + query-side unit " +
      "normalization (|Q| rows) below the ADC/rerank joins — O(dim) vs the O(dim) " +
      "per-candidate rerank dot"),
    "hard_negatives" -> "PAIR-COST BOUND: anchor/corpus norms below the label-inequality pair join",
    "hybrid_rrf" -> "PAIR-COST BOUND: dense leg is ann_topk_exact's shape (adjudicated there)",
    "retrieval_metrics" -> "PAIR-COST BOUND: retrieval under test is ann_topk_exact's shape",
    "semdedup" -> ("PAIR-COST BOUND: per-vector norm below the within-cluster pair join — " +
      "each pair pays the O(dim) cosine dot in its filter anyway"),
    "dedup_embedding_lsh" -> ("PAIR-COST BOUND: the exact leg's cosine dot runs " +
      "once per block-pair candidate inside its equi-join (every emitted pair " +
      "pays the O(dim) dot by definition); the verdict left-join above it is " +
      "unique-keyed on (ia, ib)"),
    "dedup_embedding_lsh_hi" -> ("PAIR-COST BOUND: dedup_embedding_lsh's shape " +
      "on the planted high-cos corpus (r16) — exact-leg cosine dot per " +
      "block-pair candidate, verdict left-join unique-keyed on (ia, ib); the " +
      "corpus-derivation transform lambdas (cast + shift) are O(dim) once per " +
      "VECTOR replica, the same bound as the norms they feed"),
    "dedup_containment_prefix" -> ("UNIQUE-KEY JOIN: shingling + hashing run ONCE " +
      "per doc below the doc_id-keyed verify joins — siting them above would " +
      "recompute per candidate pair; the probe join itself moves only 8-byte " +
      "hashes, never text"),
    "corpus_diff" -> "UNIQUE-KEY JOIN: full-outer on doc_id, fingerprints unique per version side",
    "contamination_ngram" -> ("UNIQUE-KEY JOIN: n_grams branch left-joins the per-doc " +
      "overlap aggregate on doc_id; shingling runs once per doc per branch"),
    "chunk_dedup" -> "UNIQUE-KEY JOIN: n_chunks branch left-joins the per-doc kept aggregate",
    "boilerplate_removal" -> "UNIQUE-KEY JOIN: n_chunks branch left-joins the per-doc kept aggregate",
    "split_decontaminate" -> ("UNIQUE-KEY JOIN: split/hash projection below the final " +
      "left join on doc_id against the per-doc leak aggregate"),
    "embedding_outliers" -> ("UNIQUE-KEY JOIN: micro-unit transforms below the broadcast " +
      "≤|groups|-row centroid join, keyed uniquely per group"),
    "multimodal_pipeline_e2e" -> ("UNIQUE-KEY JOIN: textQuality (TokenStats) branch joins " +
      "per-doc frames on doc_id — every join in the DAG is unique-keyed"))

  test("no unlisted expensive expression mis-siting in any gate plan") {
    val broken = Map.newBuilder[String, String]
    val findings = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        if (name.startsWith("stream_")) None
        else scala.util.Try(fn(spark, sfDir).queryExecution.sparkPlan) match {
          case scala.util.Failure(e) =>
            broken += name -> e.getMessage.linesIterator.take(1).mkString
            None
          case scala.util.Success(plan) =>
            val hits = (aboveGenerate(plan) ++ belowJoin(plan) ++
              underExpand(plan)).distinct
            if (hits.isEmpty) None else Some(name -> hits)
        }
    }.toMap
    val unlisted = findings.keySet -- allowed.keySet
    assert(unlisted.isEmpty,
      s"mis-sited expensive expressions in unlisted queries: ${unlisted.toSeq.sorted
        .map(n => s"$n=${findings(n).mkString("+")}").mkString(", ")}")
    val stale = allowed.keySet -- findings.keySet
    assert(stale.isEmpty,
      s"allowlist entries whose plans are now clean (remove them): ${stale.toSeq.sorted.mkString(", ")}")
    val failed = broken.result()
    assert(failed.isEmpty,
      s"queries failing analysis (audited all others first): ${failed.toSeq.sorted
        .map { case (n, m) => s"$n: $m" }.mkString("; ")}")
  }

  /** Streaming extension (VERDICT r11 #4): the batch test skips
    * stream_* gates because their query fn drains the stream and
    * returns the memory/snapshot table — the streaming plan never
    * surfaces. The drain helpers now capture each query's final
    * micro-batch executedPlan (StreamStages.capturedPlans) and the
    * same three detectors run over it, with state-store operators as
    * barriers. With the batch test this covers every registered gate
    * plan (198 as of r12 — the registry is the source of truth).
    * Executed (not spark) plans here, so the walk crosses
    * WholeStageCodegen/InputAdapter wrappers — they are transparent
    * (children carry the real nodes) and codegen fusion is exactly
    * what disease (b) is about.
    */
  test("streaming micro-batch plans carry no mis-sited expensive expressions") {
    // a fresh session keeps the gates' memory-sink views and conf
    // away from the shared suites
    val ss = spark.newSession()
    val streamGates = SparkEntry.queries.keys.filter(_.startsWith("stream_"))
      .toSeq.sorted
    assert(streamGates.size == 8, s"stream gate inventory moved: $streamGates")
    val findings = streamGates.flatMap { name =>
      graft.streaming.StreamStages.capturedPlans.clear()
      SparkEntry.queries(name)(ss, sfDir) // fn drains synchronously
      val plans = graft.streaming.StreamStages.capturedPlans.toMap
      assert(plans.nonEmpty,
        s"$name: no micro-batch plan captured — the drain-helper reflection rotted")
      val hits = plans.values.toSeq.flatMap(p =>
        aboveGenerate(p) ++ belowJoin(p) ++ underExpand(p)).distinct
      if (hits.isEmpty) None else Some(name -> hits)
    }
    assert(findings.isEmpty,
      s"mis-sited expensive expressions in streaming plans: ${findings
        .map { case (n, h) => s"$n=${h.mkString("+")}" }.mkString(", ")}")
  }
}
