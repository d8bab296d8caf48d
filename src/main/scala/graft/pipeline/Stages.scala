package graft.pipeline

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.dynamic.{DynamicCompiler, GraftContext}
import graft.schema.SchemaJson

/** Execution context shared by all stages of one run. */
final case class PipelineContext(spark: SparkSession,
    runtimeArgs: Map[String, String] = Map.empty) {
  def graftContext: GraftContext = GraftContext(spark, runtimeArgs)
}

/** Stage behaviors. A stage is constructed from its StageSpec's
  * properties; the expression vocabulary inside properties is Spark SQL
  * (`expr(...)`), per SURVEY.md §2.3 — the engine adds no second
  * expression language.
  */
sealed trait Stage {
  def spec: StageSpec
  def name: String = spec.name
  /** Deploy-time validation hook (deployCompile analogue). */
  def validate(): Seq[String] = Nil
}

trait SourceStage extends Stage { def read(ctx: PipelineContext): DataFrame }

trait ComputeStage extends Stage {
  def transform(ctx: PipelineContext, inputs: Seq[DataFrame]): DataFrame
}

trait SinkStage extends Stage { def write(ctx: PipelineContext, input: DataFrame): Unit }

/** Builds stages from specs. Property conventions:
  * single-input computes read `inputs.head`; multi-input computes
  * (join/union/setop) follow connection order. `inputNames` are the
  * upstream stage names in that order (the `sql` stage's view names).
  */
object StageRegistry {

  def build(spec: StageSpec, inputNames: Seq[String] = Nil): Stage = spec.stageType match {
    // ---- sources --------------------------------------------------
    case "parquet" | "csv" | "json" | "text" | "orc" => new FormatSource(spec)
    case "jdbc"   => new JdbcSource(spec)
    case "table"  => new TableSource(spec)
    case "range"  => new RangeSource(spec)
    case "memory" => new MemorySource(spec)
    // ---- computes -------------------------------------------------
    case "filter"      => new ExprCompute(spec, (df, p) => df.filter(expr(p("condition"))))
    case "select"      => new ExprCompute(spec, (df, p) => df.selectExpr(splitExprs(p("columns")): _*))
    case "withColumn"  => new ExprCompute(spec, (df, p) => df.withColumn(p("name"), expr(p("expression"))))
    case "drop"        => new ExprCompute(spec, (df, p) => df.drop(split(p("columns")): _*))
    case "rename"      => new ExprCompute(spec, (df, p) =>
      p("mapping").split(",").map(_.split("=>")).foldLeft(df) {
        case (d, Array(from, to)) => d.withColumnRenamed(from.trim, to.trim)
        case (_, bad) => throw new IllegalArgumentException(s"bad rename '${bad.mkString}'")
      })
    case "sort"        => new ExprCompute(spec, (df, p) =>
      df.orderBy(splitExprs(p("columns")).map(sortExpr).toSeq: _*))
    case "sortWithinPartitions" => new ExprCompute(spec, (df, p) =>
      df.sortWithinPartitions(splitExprs(p("columns")).map(sortExpr).toSeq: _*))
    case "limit"       => new ExprCompute(spec, (df, p) => df.limit(p("n").toInt))
    case "distinct"    => new ExprCompute(spec, (df, _) => df.distinct())
    case "dedup"       => new ExprCompute(spec, (df, p) => df.dropDuplicates(split(p("columns"))))
    case "sample"      => new ExprCompute(spec, (df, p) =>
      df.sample(p("fraction").toDouble, p.getOrElse("seed", "42").toLong))
    case "randomSplit" => new ExprCompute(spec, (df, p) => {
      val weights = p("weights").split(",").map(_.trim.toDouble)
      df.randomSplit(weights, p.getOrElse("seed", "42").toLong)(p("index").toInt)
    })
    case "pivot"       => new ExprCompute(spec, (df, p) => {
      val g = df.groupBy(splitExprs(p("groupBy")).map(expr): _*)
      val piv = p.get("values") match {
        case Some(vs) => g.pivot(p("pivot"), vs.split(",").map(_.trim).toSeq)
        case None     => g.pivot(p("pivot"))
      }
      val aggs = splitExprs(p("aggregates")).map(expr)
      piv.agg(aggs.head, aggs.tail: _*)
    })
    case "repartition" => new ExprCompute(spec, (df, p) => {
      val cols = p.get("columns").map(split(_).map(col).toSeq).getOrElse(Nil)
      (p.get("n").map(_.toInt), cols) match {
        case (Some(n), Nil) => df.repartition(n)
        case (Some(n), cs)  => df.repartition(n, cs: _*)
        case (None, cs) if cs.nonEmpty => df.repartition(cs: _*)
        case _ => throw new IllegalArgumentException("repartition needs n and/or columns")
      }
    })
    case "coalesce"  => new ExprCompute(spec, (df, p) => df.coalesce(p("n").toInt))
    case "explode"   => new ExprCompute(spec, (df, p) =>
      df.withColumn(p("as"), explode(expr(p("expression")))))
    case "aggregate" => new AggregateCompute(spec)
    case "join"      => new JoinCompute(spec)
    case "union"     => new UnionCompute(spec)
    case "intersect" => new SetOpCompute(spec, _ intersect _)
    case "except"    => new SetOpCompute(spec, _ except _)
    case "sql"       => new SqlCompute(spec, inputNames)
    case "cache"     => new ExprCompute(spec, (df, _) => df.cache())
    // eager lineage cut: materializes ONCE and replaces the subtree —
    // the repo-wide alternative to cache() when a DAG fans out over an
    // expensive compute stage (cached InMemoryTableScan reads are
    // deserialized-row scans that break codegen; a checkpointed RDD
    // scan is not — A/B precedent in PLANS.md: graph_pagerank,
    // mmr_rerank, quality_buckets)
    case "localCheckpoint" => new ExprCompute(spec, (df, _) => df.localCheckpoint())
    case "scalaCompute" => new DynamicCompute(spec)
    case "scalaProgram" => new DynamicProgram(spec)
    case "pysparkProgram" => new PySparkProgram(spec)
    // ---- training-data (LLM) operators as declarative stages -------
    // (SURVEY §2.11 surfaced through the pipeline DSL; same code paths
    // as the SparkEntry queries)
    case "textStats"   => new ExprCompute(spec, (df, p) =>
      graft.llm.TextAnalysis.stats(df, p.getOrElse("textCol", "text")))
    case "textQuality" => new ExprCompute(spec, (df, p) =>
      graft.llm.TextAnalysis.quality(df, p.getOrElse("textCol", "text")))
    case "langId"      => new ExprCompute(spec, (df, p) =>
      df.withColumn(p.getOrElse("as", "pred_lang"),
        graft.llm.TextAnalysis.langId(col(p.getOrElse("textCol", "text")))))
    case "tokenCount"  => new ExprCompute(spec, (df, p) =>
      df.withColumn(p.getOrElse("as", "n_tokens"),
        graft.llm.TextAnalysis.bpeTokenCount(col(p.getOrElse("textCol", "text")))))
    case "fingerprint" => new ExprCompute(spec, (df, p) =>
      df.withColumn(p.getOrElse("as", "fingerprint"),
        graft.llm.TextAnalysis.fingerprint(col(p.getOrElse("textCol", "text")))))
    case "textRepetition" => new ExprCompute(spec, (df, p) =>
      graft.llm.TextAnalysis.repetition(df, p.getOrElse("textCol", "text")))
    case "stratifiedSample" => new ExprCompute(spec, (df, p) => {
      // rates: "src0=80,src1=40"
      val rates = p.getOrElse("rates", "").split(",").filter(_.nonEmpty)
        .map(_.split("=")).map(a => a(0).trim -> a(1).trim.toInt).toMap
      graft.llm.Sampling.stratifiedSample(df, p("idCol"), p("strataCol"),
        rates, p.getOrElse("defaultRate", "100").toInt,
        p.getOrElse("modulus", "100").toInt)
    })
    case "packSequences" => new ExprCompute(spec, (df, p) =>
      graft.llm.Sampling.packSequences(df, p("idCol"), p("strataCol"),
        p("nTokensCol"), p.getOrElse("budget", "8192").toInt))
    case "textScrub" => new ExprCompute(spec, (df, p) =>
      graft.llm.TextAnalysis.scrub(df, p.getOrElse("textCol", "text"),
        p("pattern"), p.getOrElse("replacement", "")))
    case "textNormalize" => new ExprCompute(spec, (df, p) =>
      df.withColumn(p.getOrElse("outputCol", "norm_text"),
        graft.llm.TextAnalysis.normalize(col(p.getOrElse("textCol", "text")))))
    case "hashSplit" => new ExprCompute(spec, (df, p) => {
      // bounds: "train:80,val:90,test:100" — cumulative upper bounds
      val bounds = p.getOrElse("bounds", "train:80,val:90,test:100")
        .split(",").map(_.split(":")).map(a => a(0).trim -> a(1).trim.toInt).toSeq
      graft.llm.Sampling.splitByHash(df, p.getOrElse("contentCol", "text"),
        bounds, p.getOrElse("modulus", "100").toInt)
    })
    case "exactDedup"  => new ExprCompute(spec, (df, p) => {
      val (t, id) = (p.getOrElse("textCol", "text"), p.getOrElse("idCol", "doc_id"))
      df.join(graft.llm.Dedup.exact(df, t, id).select(col("keep_id").as(id)),
        Seq(id), "left_semi")
    })
    case "minhashDedup" => new ExprCompute(spec, (df, p) =>
      graft.llm.Dedup.dropNearDups(df,
        p.getOrElse("textCol", "text"), p.getOrElse("idCol", "doc_id"),
        p.getOrElse("shingleN", "3").toInt,
        p.getOrElse("threshold", "0.5").toDouble))
    case "embeddingDedupPairs" => new ExprCompute(spec, (df, p) =>
      graft.llm.Dedup.embeddingNearDups(df,
        p.getOrElse("vecCol", "embedding"), p.getOrElse("idCol", "vec_id"),
        p.getOrElse("threshold", "0.9").toDouble,
        p.getOrElse("blocks", "16").toInt))
    case "annTopK" => new AnnTopKCompute(spec)
    // ---- multimodal (SURVEY §2.11 media family) as declarative
    // stages — same code paths as the SparkEntry gates, so the
    // pipeline DSL can compose media operators with the text/dedup
    // stages above (the multimodal_pipeline_e2e flagship)
    case "syntheticPpm" => new ExprCompute(spec, (df, _) =>
      graft.llm.Multimodal.syntheticPpmTable(df))
    case "imageDHash" => new ExprCompute(spec, (df, _) =>
      graft.llm.Multimodal.imageDHashes(df.sparkSession, df).toDF())
    case "imagePatches" => new ExprCompute(spec, (df, p) =>
      graft.llm.Multimodal.imagePatches(df.sparkSession, df,
        p.getOrElse("patch", "2").toInt).toDF())
    case "hammingPairs" => new ExprCompute(spec, (df, p) =>
      graft.llm.Dedup.hammingPairs(df, p.getOrElse("idCol", "doc_id"),
        p.getOrElse("hashCol", "dhash"), p.getOrElse("bits", "64").toInt,
        p.getOrElse("maxHamming", "1").toInt))
    // ---- streaming (SURVEY §2.9): streams are DataFrames, so every
    // compute above applies; these add the stream-only wiring.
    case "streamSource" => new StreamSource(spec)
    case "windowAgg"    => new WindowAggCompute(spec)
    case "streamDedup"  => new ExprCompute(spec, (df, p) =>
      graft.streaming.StreamStages.dedupWithinWatermark(df, p("timeCol"),
        p("watermark"), p("keys").split(",").map(_.trim).toSeq))
    case "streamSessionize" => new ExprCompute(spec, (df, p) =>
      graft.streaming.StreamStages.statefulSessions(df, p("userCol"),
        p("timeCol"), p("watermark"), p.getOrElse("gapUs", "1800000000").toLong))
    case "streamSink"   => new StreamSink(spec)
    // ---- sinks ----------------------------------------------------
    case "parquetSink" | "csvSink" | "jsonSink" | "textSink" | "orcSink" => new FormatSink(spec)
    case "jdbcSink"   => new JdbcSink(spec)
    case "console"    => new ConsoleSink(spec)
    case "memorySink" => new MemorySink(spec)
    case "count"      => new CountSink(spec)
    case "scalaSink"  => new DynamicSink(spec)
    case other => throw new IllegalArgumentException(s"unknown stage type '$other'")
  }

  private def split(s: String): Array[String] =
    s.split(",").map(_.trim).filter(_.nonEmpty)

  /** Split an expression list on TOP-LEVEL commas only, so multi-arg
    * functions (`percentile(x, 0.5) as p50`) survive. String literals
    * are opaque: parens/commas inside '...' (with SQL '' escaping)
    * never affect depth or splitting — `concat(a, ',', b)` and
    * `regexp_replace(x, '\\(', '')` parse correctly.
    */
  def splitExprs(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var start = 0
    var quote: Char = 0 // 0 = outside; else the delimiter we're inside
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        // Spark SQL literal syntax: backslash escapes any next char in
        // '…' and "…" (not in `…` identifiers); doubling the delimiter
        // escapes it in all three.
        if (c == '\\' && quote != '`') i += 1
        else if (c == quote) {
          if (i + 1 < s.length && s.charAt(i + 1) == quote) i += 1
          else quote = 0
        }
      } else c match {
        case '\'' | '"' | '`' => quote = c
        case '('  => depth += 1
        case ')'  => depth -= 1
        case ',' if depth == 0 => out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Parse a sort item: `expr()` treats a trailing DESC as a column
    * ALIAS (non-reserved keyword) and silently sorts ascending — so
    * handle the ASC/DESC[ NULLS FIRST|LAST] suffix here.
    */
  def sortExpr(s: String): org.apache.spark.sql.Column = {
    val m = raw"(?i)^(.*?)\s+(ASC|DESC)(\s+NULLS\s+(FIRST|LAST))?\s*$$".r
    s match {
      case m(e, dir, _, nulls) =>
        val c = expr(e)
        (dir.toUpperCase, Option(nulls).map(_.toUpperCase)) match {
          case ("ASC", Some("LAST"))   => c.asc_nulls_last
          case ("ASC", _)              => c.asc
          case ("DESC", Some("FIRST")) => c.desc_nulls_first
          case ("DESC", _)             => c.desc
        }
      case _ => expr(s)
    }
  }
}

// -------------------------------------------------------------------
// Sources

final class FormatSource(val spec: StageSpec) extends SourceStage {
  def read(ctx: PipelineContext): DataFrame = {
    val p = spec.properties
    var r = ctx.spark.read
    p.get("schema").foreach(s => r = r.schema(SchemaJson.parse(s)))
    p.filter(_._1.startsWith("option.")).foreach { case (k, v) =>
      r = r.option(k.stripPrefix("option."), v)
    }
    r.format(spec.stageType).load(p("path"))
  }
}

/** JDBC source (SURVEY.md §2.2 DataSource surface): url + dbtable (or
  * a pushdown `query`), partitioned reads via partitionColumn /
  * lowerBound / upperBound / numPartitions — the knobs that matter
  * when the relational side is large.
  */
final class JdbcSource(val spec: StageSpec) extends SourceStage {
  def read(ctx: PipelineContext): DataFrame = {
    var r = ctx.spark.read.format("jdbc")
    spec.properties.filterNot(_._1 == "schema")
      .foreach { case (k, v) => r = r.option(k.stripPrefix("option."), v) }
    r.load()
  }
}

final class JdbcSink(val spec: StageSpec) extends SinkStage {
  def write(ctx: PipelineContext, input: DataFrame): Unit = {
    var w = input.write.format("jdbc")
      .mode(spec.properties.getOrElse("mode", "append"))
    spec.properties.filterNot(_._1 == "mode")
      .foreach { case (k, v) => w = w.option(k.stripPrefix("option."), v) }
    w.save()
  }
}

final class TableSource(val spec: StageSpec) extends SourceStage {
  def read(ctx: PipelineContext): DataFrame = ctx.spark.table(spec.properties("name"))
}

final class RangeSource(val spec: StageSpec) extends SourceStage {
  def read(ctx: PipelineContext): DataFrame = {
    val p = spec.properties
    ctx.spark.range(p.getOrElse("start", "0").toLong, p("end").toLong,
      p.getOrElse("step", "1").toLong).toDF()
  }
}

/** Literal rows from the spec (test/mocking source): `rowsJson` is a
  * JSON array of arrays matching the declared `schema`.
  */
final class MemorySource(val spec: StageSpec) extends SourceStage {
  def read(ctx: PipelineContext): DataFrame = {
    val schema = SchemaJson.parse(spec.properties("schema"))
    val json = spec.properties("rowsJson")
    import org.json4s._
    val rows = org.json4s.jackson.JsonMethods.parse(json) match {
      case JArray(rs) => rs.map {
        case JArray(cells) => Row.fromSeq(cells.zip(schema.fields).map {
          case (JString(s), _) => s
          case (JInt(i), f) if f.dataType.typeName == "long" => i.toLong
          case (JInt(i), f) if f.dataType.typeName == "integer" => i.toInt
          case (JInt(i), _) => i.toLong
          case (JDouble(d), _) => d
          case (JBool(b), _) => b
          case (JNull, _) => null
          case (other, _) => other.values
        })
        case other => throw new IllegalArgumentException(s"row must be an array: $other")
      }
      case other => throw new IllegalArgumentException(s"rowsJson must be an array: $other")
    }
    ctx.spark.createDataFrame(
      ctx.spark.sparkContext.parallelize(rows.toSeq), schema)
  }
}

// -------------------------------------------------------------------
// Computes

/** Single-input compute defined by a (df, props) => df function. */
final class ExprCompute(val spec: StageSpec,
    f: (DataFrame, Map[String, String]) => DataFrame) extends ComputeStage {
  def transform(ctx: PipelineContext, inputs: Seq[DataFrame]): DataFrame =
    f(inputs.head, spec.properties)
}

/** groupBy + aggregations; both sides are SQL expression strings:
  * groupBy: "a, b"; aggregates: "sum(x) as sx, count(*) as n".
  */
final class AggregateCompute(val spec: StageSpec) extends ComputeStage {
  def transform(ctx: PipelineContext, inputs: Seq[DataFrame]): DataFrame = {
    val keys = StageRegistry.splitExprs(spec.properties.getOrElse("groupBy", "")).map(expr)
    val aggs = StageRegistry.splitExprs(spec.properties("aggregates")).map(expr)
    if (keys.isEmpty) inputs.head.agg(aggs.head, aggs.tail: _*)
    else inputs.head.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
  }
}

/** Two-input join. `condition` is a SQL expression over the aliased
  * inputs `l` and `r`; `joinType` defaults to inner; `broadcast` hints
  * the right side (the 100 TB dim-table path).
  */
final class JoinCompute(val spec: StageSpec) extends ComputeStage {
  def transform(ctx: PipelineContext, inputs: Seq[DataFrame]): DataFrame = {
    require(inputs.length == 2, s"join '$name' needs exactly 2 inputs")
    val p = spec.properties
    val l = inputs(0).alias("l")
    val r0 = inputs(1).alias("r")
    val r = if (p.get("broadcast").contains("true")) broadcast(r0) else r0
    p.get("using") match {
      case Some(cols) => l.join(r, cols.split(",").map(_.trim).toSeq,
        p.getOrElse("joinType", "inner"))
      case None => l.join(r, expr(p("condition")), p.getOrElse("joinType", "inner"))
    }
  }
}

/** Two-input ANN stage: inputs(0) = queries, inputs(1) = corpus (both
  * with `vec_id` + `embedding` columns, per the Similarity contract).
  * `method`: `exact` (brute-force oracle), `ivf` (centroid probe,
  * needs a `label` column), or `lsh` (random hyperplanes,
  * structure-free) — the 100 TB paths are ivf/lsh.
  */
final class AnnTopKCompute(val spec: StageSpec) extends ComputeStage {
  def transform(ctx: PipelineContext, inputs: Seq[DataFrame]): DataFrame = {
    require(inputs.length == 2, s"annTopK '$name' needs exactly 2 inputs (queries, corpus)")
    val p = spec.properties
    val k = p.getOrElse("k", "10").toInt
    p.getOrElse("method", "lsh") match {
      case "exact" => graft.llm.Similarity.bruteForceTopK(inputs(0), inputs(1), k)
      case "ivf"   => graft.llm.Similarity.ivfTopK(inputs(0), inputs(1), k,
        p.getOrElse("nprobe", "3").toInt)
      case "lsh"   => graft.llm.Similarity.lshTopK(inputs(0), inputs(1), k,
        p.getOrElse("bits", "8").toInt)
      case other => throw new IllegalArgumentException(
        s"annTopK method '$other' (want exact|ivf|lsh)")
    }
  }
}

final class UnionCompute(val spec: StageSpec) extends ComputeStage {
  def transform(ctx: PipelineContext, inputs: Seq[DataFrame]): DataFrame = {
    val byName = spec.properties.get("byName").contains("true")
    inputs.reduce((a, b) => if (byName) a.unionByName(b) else a.union(b))
  }
}

final class SetOpCompute(val spec: StageSpec,
    op: (DataFrame, DataFrame) => DataFrame) extends ComputeStage {
  def transform(ctx: PipelineContext, inputs: Seq[DataFrame]): DataFrame = {
    require(inputs.length == 2, s"${spec.stageType} '$name' needs exactly 2 inputs")
    op(inputs(0), inputs(1))
  }
}

/** SQL over inputs registered as views named by their upstream stage
  * (reference registerTempTable flow, ScalaSparkTest.java:279-280).
  */
final class SqlCompute(val spec: StageSpec, inputNames: Seq[String]) extends ComputeStage {
  def transform(ctx: PipelineContext, inputs: Seq[DataFrame]): DataFrame = {
    inputNames.zip(inputs).foreach { case (n, df) => df.createOrReplaceTempView(n) }
    ctx.spark.sql(spec.properties("sql"))
  }
}

// -------------------------------------------------------------------
// Dynamic (runtime-compiled) stages — the reference's core.

/** The one compile → ship → load path of `scalaCompute`, `scalaSink`
  * and `scalaProgram`. Per stage instance, `dependencies` is expanded
  * once and `scalaCode` compiled once (through the process-wide
  * compile cache) with those jars on the classpath; `entry` is the
  * loaded object after the stage's shape check. Compute and sink
  * bodies are wrapped into a generated object; a program names its
  * own in `mainClass`.
  */
sealed trait DynamicStage[E] extends Stage {
  protected def resolve(obj: AnyRef): E
  protected def code: String = PipelineSpec.literal(spec.properties("scalaCode"))
  protected def objectName: String = DynamicCompiler.classNameFor(name, code)
  protected def source: String = DynamicCompiler.wrap(objectName, code)

  private lazy val deps = DynamicCompiler.expandDependencies(
    spec.properties.getOrElse("dependencies", ""))
  private lazy val compiled = DynamicCompiler.compileCached(source, deps)
  private lazy val entry: E = DynamicCompiler.withContextLoader(compiled.loader)(
    resolve(compiled.loadObject(objectName)))

  /** deployCompile analogue (ScalaSparkCompute.java:74-78): compile,
    * load and shape-check early unless disabled. (`Pipeline.validate`
    * defers a stage that still carries macros to run.)
    */
  override def validate(): Seq[String] =
    if (spec.properties.get("deployCompile").contains("false")) Nil
    else try { entry; Nil }
    catch {
      case e: DynamicCompiler.CompileException => e.errors
      case e: IllegalArgumentException => Seq(e.getMessage)
      case _: ClassNotFoundException => Seq(s"object '$objectName' not found in scalaCode")
      case e: NoSuchElementException => Seq(s"missing required property: ${e.getMessage}")
    }

  /** Ships the compiled jar and the dependency jars to executors, then
    * applies `f` to the entry under the compiled classloader.
    */
  protected def invoke[T](ctx: PipelineContext)(f: E => T): T = {
    deps.filter(_.toString.endsWith(".jar"))
      .foreach(j => ctx.spark.sparkContext.addJar(j.toUri.toString))
    compiled.shipTo(ctx.spark)
    DynamicCompiler.withContextLoader(compiled.loader)(f(entry))
  }
}

final class DynamicCompute(val spec: StageSpec)
    extends ComputeStage with DynamicStage[DynamicCompiler.UserFunction] {
  protected def resolve(obj: AnyRef): DynamicCompiler.UserFunction =
    DynamicCompiler.resolveFunction(obj,
      spec.properties.getOrElse("methodName", "transform"), isVoid = false)

  def transform(ctx: PipelineContext, inputs: Seq[DataFrame]): DataFrame = {
    val declared = spec.properties.get("outputSchema").map(SchemaJson.parse)
    invoke(ctx)(_.invoke(inputs.head, ctx.graftContext, declared).asInstanceOf[DataFrame])
  }
}

final class DynamicSink(val spec: StageSpec)
    extends SinkStage with DynamicStage[DynamicCompiler.UserFunction] {
  protected def resolve(obj: AnyRef): DynamicCompiler.UserFunction =
    DynamicCompiler.resolveFunction(obj,
      spec.properties.getOrElse("methodName", "sink"), isVoid = true)

  def write(ctx: PipelineContext, input: DataFrame): Unit =
    invoke(ctx)(_.invoke(input, ctx.graftContext))
}

/** PySpark program stage — the reference's fourth plugin entry point
  * (reference: PySparkProgram.java:54-70 "launches user Python through
  * spark-submit"; docs/PySparkProgram-sparkprogram.md:21-48 for the
  * self-contained-program contract). Properties:
  *
  *   - `pythonCode`: the self-contained PySpark source (macro-resolved
  *     by the pipeline before it reaches here, mirroring the
  *     reference's `@Macro` on pythonCode)
  *   - `pyFiles` (optional): ','-separated URIs of extra
  *     .py/.zip/.egg libraries (reference Config.pyFiles)
  *   - `master`, `timeoutSec`, `conf.*` (optional): subprocess knobs.
  *     `master` defaults to the host session's `spark.master` when it
  *     names a real cluster manager (PySparkRunner.defaultMaster) so
  *     the stage is cluster-correct without per-caller wiring;
  *     local/local-cluster hosts fall back to `local[8]`
  *
  * Like DynamicProgram, this is an ACTION node: the program drives
  * its own IO (the reference doc's `${input.path}`/`${output.path}`
  * pattern) and the stage passes its (optional) input through.
  * Deploy-time validation = pyFiles URI check (reference
  * configure() parity) + a stdlib py_compile syntax check, skipped
  * while unresolved macros remain (reference containsMacro gate).
  */
final class PySparkProgram(val spec: StageSpec) extends ComputeStage {
  private def pyFiles: Seq[String] =
    spec.properties.getOrElse("pyFiles", "").split(",")
      .map(_.trim).filter(_.nonEmpty).toSeq

  override def validate(): Seq[String] = {
    if (!graft.dynamic.PySparkRunner.available)
      Seq(graft.dynamic.PySparkRunner.unavailableReason)
    else spec.properties.get("pythonCode") match {
      // a missing property is a VALIDATION finding, not an exception —
      // throwing here would abort validation of the whole pipeline
      case None => Seq(s"stage '$name': missing required property 'pythonCode'")
      case Some(code) =>
        // `Pipeline.validate` defers a stage holding an unresolved
        // ${macro} in EITHER property (reference containsMacro gates
        // both pythonCode and pyFiles) to run
        graft.dynamic.PySparkRunner.validatePyFiles(pyFiles.map(PipelineSpec.literal)) ++
          graft.dynamic.PySparkRunner.syntaxCheck(PipelineSpec.literal(code))
    }
  }

  def transform(ctx: PipelineContext, inputs: Seq[DataFrame]): DataFrame = {
    val p = spec.properties
    graft.dynamic.PySparkRunner.run(
      pythonCode = p("pythonCode"),
      pyFiles = pyFiles,
      conf = p.collect { case (k, v) if k.startsWith("conf.") =>
        k.stripPrefix("conf.") -> v },
      master = p.getOrElse("master",
        graft.dynamic.PySparkRunner.defaultMaster(ctx.spark)),
      appName = s"graft-pyspark-$name",
      timeoutSec = p.getOrElse("timeoutSec", "600").toLong)
    inputs.headOption.getOrElse(ctx.spark.emptyDataFrame)
  }
}

/** Whole-program action stage (reference ScalaSparkProgram as a DAG
  * node): `scalaCode` is a complete source, `mainClass` the object
  * dispatched by the three shapes. Ignores its (optional) input —
  * programs drive their own IO.
  */
final class DynamicProgram(val spec: StageSpec)
    extends ComputeStage with DynamicStage[AnyRef] {
  override protected def objectName: String = spec.properties("mainClass")
  override protected def source: String = code
  protected def resolve(obj: AnyRef): AnyRef = obj

  def transform(ctx: PipelineContext, inputs: Seq[DataFrame]): DataFrame = {
    invoke(ctx)(DynamicCompiler.runProgram(_, ctx.spark, ctx.runtimeArgs))
    inputs.headOption.getOrElse(ctx.spark.emptyDataFrame)
  }
}

// -------------------------------------------------------------------
// Streaming stages (thin wrappers over graft.streaming.StreamStages)

final class StreamSource(val spec: StageSpec) extends SourceStage {
  def read(ctx: PipelineContext): DataFrame = {
    val p = spec.properties
    p.getOrElse("format", "parquet") match {
      case "rate" =>
        graft.streaming.StreamStages.rateSource(ctx.spark,
          p.getOrElse("rowsPerSecond", "1").toLong)
      case "socket" =>
        graft.streaming.StreamStages.socketSource(ctx.spark,
          p("host"), p("port").toInt)
      case fileFormat =>
        graft.streaming.StreamStages.fileSource(ctx.spark,
          fileFormat, p("path"), p("schema"),
          p.get("maxFilesPerTrigger").map(_.toInt))
    }
  }
}

final class WindowAggCompute(val spec: StageSpec) extends ComputeStage {
  def transform(ctx: PipelineContext, inputs: Seq[DataFrame]): DataFrame = {
    val p = spec.properties
    // watermark omitted (or "") = inherit the upstream stage's
    // watermark — chained stateful operators forbid redefining it
    graft.streaming.StreamStages.windowedAgg(inputs.head,
      p("timeCol"), p.get("watermark").filter(_.nonEmpty),
      p("window"), p.get("slide"),
      p.getOrElse("groupBy", "").split(",").map(_.trim).filter(_.nonEmpty).toSeq,
      p("aggregates").split(",").map(_.trim).toSeq)
  }
}

/** Streaming sink: runs the query to completion of currently-available
  * data (AvailableNow) — memory table or checkpointed files.
  */
final class StreamSink(val spec: StageSpec) extends SinkStage {
  def write(ctx: PipelineContext, input: DataFrame): Unit = {
    val p = spec.properties
    val mode = p.getOrElse("outputMode", "append")
    p.getOrElse("format", "memory") match {
      case "memory" =>
        graft.streaming.StreamStages.runToMemory(input, p("queryName"), mode)
      case f =>
        graft.streaming.StreamStages.drain(input.writeStream.format(f)
          .option("path", p("path"))
          .option("checkpointLocation", p("checkpoint"))
          .outputMode(mode))
    }
  }
}

// -------------------------------------------------------------------
// Sinks

final class FormatSink(val spec: StageSpec) extends SinkStage {
  def write(ctx: PipelineContext, input: DataFrame): Unit = {
    val p = spec.properties
    var w = input.write.mode(p.getOrElse("mode", "overwrite"))
    p.filter(_._1.startsWith("option.")).foreach { case (k, v) =>
      w = w.option(k.stripPrefix("option."), v)
    }
    p.get("partitionBy").foreach(cols =>
      w = w.partitionBy(cols.split(",").map(_.trim).toSeq: _*))
    w = w.format(spec.stageType.stripSuffix("Sink"))
    // Bucketed catalog table (100 TB path: co-located, shuffle-free
    // joins/aggs on the bucket key): "bucketBy" = "n:col1,col2",
    // optional "sortBy", requires "table" instead of "path".
    p.get("bucketBy") match {
      case Some(b) =>
        val Array(n, cols) = b.split(":", 2)
        val cs = cols.split(",").map(_.trim)
        w = w.bucketBy(n.trim.toInt, cs.head, cs.tail.toSeq: _*)
        p.get("sortBy").foreach { s =>
          val ss = s.split(",").map(_.trim)
          w = w.sortBy(ss.head, ss.tail.toSeq: _*)
        }
        w.saveAsTable(p("table"))
      case None =>
        p.get("table") match {
          case Some(t) => w.saveAsTable(t)
          case None    => w.save(p("path"))
        }
    }
  }
}

final class ConsoleSink(val spec: StageSpec) extends SinkStage {
  def write(ctx: PipelineContext, input: DataFrame): Unit =
    input.show(spec.properties.getOrElse("numRows", "20").toInt, truncate = false)
}

/** Collects results into a process-local buffer for tests (the
  * reference's mock sink analogue).
  */
final class MemorySink(val spec: StageSpec) extends SinkStage {
  def write(ctx: PipelineContext, input: DataFrame): Unit =
    MemorySink.results.put(spec.properties.getOrElse("key", name), input.collect().toSeq)
}

object MemorySink {
  val results: TrieMap[String, Seq[Row]] = TrieMap.empty
}

/** Triggers the DAG without writing (benchmark/validation sink). */
final class CountSink(val spec: StageSpec) extends SinkStage {
  def write(ctx: PipelineContext, input: DataFrame): Unit = {
    val n = input.count()
    MemorySink.results.put(name + ".count", Seq(Row(n)))
  }
}
