package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, TextAnalysis}

/** Documented-complexity drivers for the heavy-tail scale-curve
  * measurement (VERDICT r9 #2): for each operator in the family this
  * computes, on a given table directory, the COUNT the operator's
  * documented cost model says its runtime is proportional to — using
  * the SAME library code paths the operator runs (same shingles, same
  * minhash signatures, same winnow fingerprints), so the predicted
  * growth ratio between two scales is the model's own prediction, not
  * a hand-waved one.
  *
  * | operator              | documented driver                          |
  * |-----------------------|--------------------------------------------|
  * | dedup_ngram_jaccard   | Σ C(df,2) over 2-gram postings (index pairs)|
  * | dedup_containment     | same postings (same inverted index)         |
  * | dedup_minhash_lsh     | LSH candidate pairs after banding           |
  * | winnow_neardup        | Σ C(df,2) over winnowed fingerprint postings|
  * | triangle_count        | Σ_edges min(deg u, deg v) (wedge bound)     |
  * | graph_pagerank        | edge rows per iteration (linear)            |
  * | attribution_linear    | (user, 30-min bucket) join candidate rows   |
  * | interval_overlap_join | output rows (band-bounded, linear)          |
  *
  * Usage: ScaleDrivers <dir> — prints one JSON line.
  */
object ScaleDrivers {

  private def pairSum(postings: DataFrame, keyCol: String): Long =
    // coalesce: sum over an EMPTY postings frame (a slice whose docs
    // all fall under the shingle width) is NULL, not 0 (ADVICE r10)
    postings.groupBy(keyCol).agg(count(lit(1)).as("df"))
      .agg(coalesce(sum(expr("df * (df - 1) div 2")), lit(0L)))
      .head().getLong(0)

  /** Σ C(df,2) over the 2-gram inverted index — the classic
    * containment/ngram-jaccard join's documented cost driver
    * (distinct-per-doc shingles, the gates' shape). Callable per
    * docs frame so [[ScaleContain]] measures it on BOTH vocabulary
    * regimes (VERDICT r15 #2).
    */
  def ngramIndexPairs(docs: DataFrame): Long =
    pairSum(Dedup.shingleSets(docs, "text", "doc_id", 2)
      .select(col("doc_id"), explode(col("sh")).as("g")), "g")

  /** Containment prefix-filter candidate-stream size (the
    * dedup_containment_prefix cost driver at the gate's t = 0.8):
    * rare-prefix postings of the strictly-smaller side joined to the
    * full index — the probe join's PRE-distinct row count, built by
    * the same `Dedup.postings` / `Dedup.prefixProbe` code
    * containmentPairsPrefix runs.
    */
  def prefixCandidates(docs: DataFrame, t: Double = 0.8): Long =
    Dedup.prefixProbe(
      Dedup.postings(Dedup.shingleSets(docs, "text", "doc_id", 2)), t).count()

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = GraftSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.load(spark, dir, "documents")

    // 2-gram inverted-index pair count (ngram_jaccard + containment
    // share this index; distinct-per-doc shingles, the gates' shape)
    val ngramPairs = ngramIndexPairs(docs)

    // MinHash-LSH candidate pairs, the minhashNearDups front half:
    // exact-dup collapse → 3-gram sets → 64-hash signatures → 32×2
    // bands → candidate count
    val hashed = docs.select(col("doc_id"), col("text").as("txt"),
      md5(col("text")).as("ch"))
    val repDocs = hashed.groupBy("ch")
      .agg(min("doc_id").as("doc_id"), first("txt").as("txt"))
    val sets3 = Dedup.shingleSets(repDocs, "txt", "doc_id", 3)
    val sigs = Dedup.minhashSignatures(sets3, 64)
    val lshCands = Dedup.lshCandidates(sigs, bands = 32, rowsPerBand = 2).count()

    // winnowed fingerprint postings (k=4, w=4 — the gate's params)
    val fpsets = TextAnalysis.winnow(docs, "text", "doc_id", 4, 4)
      .select(col("doc_id"), col("fp")).distinct()
    val winnowPairs = pairSum(fpsets, "fp")

    // part co-occurrence graph (triangle_count's edge derivation)
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
    val e = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
      .localCheckpoint() // read 3x below
    val edges = e.count()
    val deg = e.select(col("u").as("n")).union(e.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val wedges = e
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .agg(sum(least(col("du"), col("dv")))).head().getLong(0)

    // pagerank edge rows (customer↔supplier bipartite, both directions)
    val liFull = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
    val prEdges = 2L * liFull.join(o,
      liFull("l_orderkey") === o("o_orderkey")).count()

    // attribution candidate rows: purchases exploded over their ≤2
    // covering 30-min buckets, equi-joined to views on (user, bucket)
    val bandUs = 1800000000L // RelationalQueries.AttrBandUs
    val ev = Tables.load(spark, dir, "events")
      .withColumn("ts_us", expr("ts div 1000"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), expr(s"ts_us div $bandUs").as("bkt"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), explode(array(
        expr(s"ts_us div $bandUs - 1"), expr(s"ts_us div $bandUs"))).as("bkt"))
    val attrCands = purch.join(views, Seq("user_id", "bkt")).count()

    // interval_overlap_join is band-bounded by construction; its
    // driver is its own output cardinality
    val intervalRows = graft.operators.RelationalQueries
      .queries("interval_overlap_join")(spark, dir).count()

    // containment prefix-filter candidate stream (r15, the
    // dedup_containment_prefix cost driver — see prefixCandidates
    // above). vs ngram_index_pairs ≈ Σ C(df,2) for the classic
    // full-index form — their growth gap IS the measured wall-exponent
    // gap (SCALE_CONTAIN_PREFIX.json dense; SCALE_CONTAIN_ZIPF.json
    // Zipfian, r16).
    val prefixCands = prefixCandidates(docs)

    println(s"""{"dir":${Jsons.jq(dir)},"ngram_index_pairs":$ngramPairs,""" +
      s""""lsh_candidates":$lshCands,"winnow_index_pairs":$winnowPairs,""" +
      s""""triangle_edges":$edges,"triangle_wedges":$wedges,""" +
      s""""pagerank_edge_rows":$prEdges,"attr_candidates":$attrCands,""" +
      s""""interval_rows":$intervalRows,""" +
      s""""containment_prefix_candidates":$prefixCands}""")
    spark.stop()
  }
}
