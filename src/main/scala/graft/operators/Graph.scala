package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.bridge

/** Graph analytics as iterative joins — the idiomatic Spark shape for
  * Pregel-style computation (each superstep = join ranks to edges on
  * src, aggregate messages by dst, recompute). Used by pipelines for
  * link-graph quality signals (Common-Crawl-style PageRank weighting
  * feeding corpus sampling) and entity-importance scoring.
  *
  * Determinism: ranks live in integer NANO-units (BIGINT) and every
  * step is integer floor division / exact BIGINT sums, so partial-agg
  * order cannot drift a bit and any engine (the DuckDB oracle
  * included) replays the exact ranks. Sums stay far below 2^63: total
  * rank mass ≤ 10^9 nano, damping multiplies by ≤ 100.
  */
object Graph {

  /** PageRank over a directed edge list (columns `src`, `dst`;
    * duplicate edges are collapsed). Per iteration:
    *   contrib(u→v) = floor(rank_u / outdeg_u)
    *   rank'_v = floor((100−d)·S / (100·N)) + floor(d·Σcontrib / 100)
    * with S = 10^9 nano total mass, d = dampingPct. Dangling-node mass
    * decays (the standard simple-PR simplification — documented, same
    * on both engines).
    *
    * Scale shape: the node set and degrees are computed once (two
    * bounded shuffles); each iteration is one shuffle-join of the rank
    * table to the edge list on src plus one dst-key aggregation with
    * map-side partial sums — the classic distributed PR layout that
    * holds at web-graph scale. Ranks/degrees are node-table-sized,
    * never collected to the driver.
    *
    * Not lazy: building the DataFrame runs two jobs, the eager
    * `localCheckpoint(true)` of the degree-annotated edge list and
    * `nodes.count()` for N, plus one eager rank checkpoint per five
    * supersteps when `iters` exceeds five. Only the final superstep
    * chain runs when the result is consumed.
    */
  def pageRank(edges: DataFrame, iters: Int, dampingPct: Int = 85): DataFrame = {
    val S = 1000000000L // total rank mass in nano-units
    // Iteration hygiene: the reuse mechanism here is the periodic
    // localCheckpoint below, NOT .persist() of e/deg/nodes. Explicit
    // caching was A/B-measured on this rig and REVERTED: every cached
    // read is a deserialized-row InMemoryTableScan that breaks the
    // columnar-parquet + whole-stage-codegen pipeline (one cached
    // e⋈deg join: 5.7 s vs the whole 3-iteration lazy run: 6.3 s;
    // persist variants 24-59 s vs 6-18 s lazy/checkpointed at 3-10
    // iters). Within one executed job, identical e/deg subplans dedup
    // via ReusedExchange anyway, so each checkpoint window re-derives
    // them at most once.
    val e = edges.select(col("src"), col("dst")).distinct()
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // Degree-annotated edge list, built ONCE outside the loop (r16,
    // guide §2.4): the old loop joined ranks⋈deg⋈e every superstep —
    // deg and e are loop-invariant, so folding outdeg onto each edge
    // up front drops one join per iteration (contrib arithmetic is
    // unchanged: outdeg per (src, dst) is identical either way).
    // MATERIALIZED once (r17, guide §5): the `n = nodes.count()`
    // action and the final job get no cross-job stage reuse, so the
    // whole edges→distinct→deg-join pipeline ran TWICE per execution
    // (graft.Profile: the pair-build and distinct stages appear once
    // per job). One eager localCheckpoint of the edge-scale annotated
    // list runs it once; within the final job the per-superstep
    // exchanges over the checkpointed RDD still dedup via
    // ReusedExchange. (cache() was A/B-measured here and REVERTED —
    // deserialized InMemoryTableScan breaks the codegen pipeline; the
    // checkpointed UnsafeRow scan does not. Durability: executor-local
    // blocks — on a fault-tolerant cluster swap to setCheckpointDir +
    // checkpoint(true), see Dedup.nearDupClusters.)
    val ed = e.join(deg, "src").localCheckpoint(true)
    // node set derived from the materialized edge list (every e-src
    // is in deg, so ed carries exactly e's endpoints)
    val nodes = ed.select(col("src").as("node"))
      .union(ed.select(col("dst").as("node"))).distinct()
    // N is one scalar — metadata, like AQE stats
    val n = nodes.count()
    val base = (100L - dampingPct) * S / (100L * n)
    var ranks = nodes.withColumn("rank_nano", lit(S / n))
    for (i <- 1 to iters) {
      val contribs = ranks
        .join(ed, ranks("node") === ed("src"))
        // `div` = integer floor division on BIGINT — same operator
        // family as DuckDB's `//`, so no double-rounding ambiguity
        .select(col("dst").as("node"),
          expr("rank_nano div outdeg").as("contrib"))
        .groupBy("node").agg(sum("contrib").as("msum"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          expr(s"CAST($base + $dampingPct * coalesce(msum, CAST(0 AS BIGINT))" +
            " div 100 AS BIGINT)").as("rank_nano"))
      // Cut lineage every 5 supersteps: ranks' logical plan otherwise
      // deepens linearly with iters (re-shuffle × iters on recompute,
      // analyzer blow-up past ~20) — localCheckpoint materializes the
      // node-scale rank table to executor-local storage (no HDFS
      // round-trip) and bounds every job to ≤5 supersteps of work.
      if (i % 5 == 0 && i < iters) ranks = ranks.localCheckpoint()
    }
    ranks
  }

  /** Per-node triangle counts over an undirected edge list (columns
    * `u`, `v` with u < v, no duplicates) — the clustering/community
    * primitive (co-purchase cliques, link-farm detection).
    *
    * Degree-oriented node-iterator (the MapReduce-era standard, e.g.
    * Suri & Vassilvitskii WWW'11): orient every edge from its
    * (degree, id)-smaller endpoint, enumerate wedges as pairs of
    * out-neighbors at their common source, and close each wedge with
    * one oriented-edge equi-join. Orientation bounds every node's
    * out-degree by O(√m), so wedge volume is O(m^1.5) worst case —
    * the plan that survives power-law hubs, where the naive
    * id-oriented join blows up on the highest-id hub. Each triangle
    * materializes exactly once (at its minimum-(degree,id) corner).
    *
    * Closing join: broadcast when it fits, shuffled hash otherwise. The
    * m-row oriented edge list is the build side; the planner broadcasts
    * it when its runtime size is under the broadcast threshold (then
    * wedge enumeration, probe and partial count fuse into one stage and
    * the wedge stream is never shuffled), else hashes it per partition
    * against the shuffled wedge stream. It never sort-merges by default:
    * sorting the O(m^1.5) wedge stream is the most expensive step of
    * the plan (`graft.triangle.sortMerge=true` opts into it, below).
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val e = edges.select(col("u"), col("v"))
    val deg = e.select(col("u").as("n")).union(e.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val withDeg = e
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    // No explicit repartition: the wedge self-join on `src` takes the
    // strategy and exchange widths AQE picks from runtime sizes
    // (broadcast at sf0.01, SortMergeJoin at sf0.1; plans/).
    val oriented = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("src"),
      when(uFirst, col("v")).otherwise(col("u")).as("dst"),
      when(uFirst, col("dv")).otherwise(col("du")).as("ddst"))
    // wedge endpoints ordered by (degree, id) so the closing edge is
    // oriented x -> y by construction
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") &&
          (col("e1.ddst") < col("e2.ddst") ||
            (col("e1.ddst") === col("e2.ddst") && col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("c"), col("e1.dst").as("x"), col("e2.dst").as("y"))
    // closing join: PREFER_SHUFFLE_HASH rather than no hint, which would
    // fall back to SortMergeJoin once the edge list outgrows the
    // broadcast threshold. The shuffled hash build is the inventory's
    // one non-spillable buffer: if edges-per-partition outgrow executor
    // memory it fails LOUDLY (mitigation: more shuffle partitions + a
    // smaller AQE advisory size — measured to hash-match, BASELINE.md).
    // Conf `graft.triangle.sortMerge=true` converts that sizing rule
    // into a choice: a fully spill-safe sort-merge closing join,
    // identical results, at the cost of sorting the wedge stream.
    val closing = oriented.select(col("src").as("x"), col("dst").as("y"))
    val sortMerge = edges.sparkSession.conf
      .get("graft.triangle.sortMerge", "false").trim.toLowerCase match {
        case "true" => true
        case "false" => false
        case other => throw new IllegalArgumentException(
          s"graft.triangle.sortMerge must be true|false, got '$other'")
      }
    wedges.join(
        if (sortMerge) closing.hint("merge") else bridge.preferShuffleHash(closing),
        Seq("x", "y"))
      .select(explode(array(col("c"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
  }
}
