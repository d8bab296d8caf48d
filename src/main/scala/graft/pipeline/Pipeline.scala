package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.schema.{SchemaCompat, SchemaJson}

/** Pipeline executor: folds every stage into ONE composed DataFrame
  * lineage and triggers an action only at each sink — so Catalyst
  * optimizes across stage boundaries (predicate pushdown from a late
  * filter stage reaches the parquet scan of the source stage).
  *
  * This is the deliberate inversion of the reference's architecture,
  * which round-trips RDD[StructuredRecord] between stages
  * (ScalaSparkCompute.java:123,200-203) and severs optimization at
  * every boundary — see SURVEY.md §3.1. At 100 TB that round trip is
  * the difference between scanning 2 columns and scanning 40.
  */
final class Pipeline(spec: PipelineSpec) {

  /** Deploy-time validation (reference configurePipeline semantics):
    * structural checks + per-stage validate (deployCompile), failures
    * collected, not thrown one by one. Known args are substituted;
    * unknown macros stay in place and a stage still holding one skips
    * its own check (reference containsMacro gate) — run() resolves
    * strictly, leaving no macro, and checks every stage.
    */
  def validate(runtimeArgs: Map[String, String] = Map.empty): Seq[String] =
    check(spec.resolveMacros(runtimeArgs, strict = false),
      _.properties.values.exists(PipelineSpec.hasMacro))._2

  /** Builds every stage of `sp` once, in topological order, and checks
    * the graph and each stage but the `deferred` ones. Returns the
    * built stages (none when the graph cannot be ordered or a stage
    * type is unknown) and the collected errors.
    */
  private def check(sp: PipelineSpec,
      deferred: StageSpec => Boolean): (Seq[Stage], Seq[String]) = {
    val errs = Seq.newBuilder[String]
    val names = sp.stages.map(_.name)
    names.diff(names.distinct).distinct.foreach(n =>
      errs += s"duplicate stage name '$n'")
    sp.connections.foreach { c =>
      if (!names.contains(c.from)) errs += s"connection from unknown stage '${c.from}'"
      if (!names.contains(c.to)) errs += s"connection to unknown stage '${c.to}'"
    }
    val stages = try {
      val built = sp.topoOrder.map(s => StageRegistry.build(s, sp.inputsOf(s.name)))
      val byName = built.map(st => st.name -> st).toMap
      built.foreach { st =>
        if (!deferred(st.spec)) errs ++= st.validate().map(e => s"stage '${st.name}': $e")
        val ins = sp.inputsOf(st.name)
        val badUpstream = ins.filter(i => byName.get(i).exists(_.isInstanceOf[SinkStage]))
        badUpstream.foreach(i => errs += s"stage '${st.name}' reads from sink '$i'")
        st match {
          case _: SourceStage if ins.nonEmpty =>
            errs += s"source '${st.name}' cannot have inputs"
          case _: DynamicProgram => // action node: inputs optional
          case _: PySparkProgram => // action node: inputs optional (drives own IO)
          case _: ComputeStage if ins.isEmpty =>
            errs += s"compute '${st.name}' has no input"
          case _: SinkStage if ins.size != 1 =>
            errs += s"sink '${st.name}' needs exactly one input, has ${ins.size}"
          case _ =>
        }
      }
      built
    } catch { case e: IllegalArgumentException => errs += e.getMessage; Nil }
    (stages, errs.result())
  }

  /** Run the pipeline. Returns the DataFrame produced for each stage
    * (lazy plans; sinks have already triggered their actions).
    */
  def run(spark: SparkSession, runtimeArgs: Map[String, String] = Map.empty): Map[String, DataFrame] =
    runWithLineage(spark, runtimeArgs)._1

  /** Field-level lineage record for one stage, with the reference's
    * many-to-many semantics (every output field derives from every
    * input field of every upstream stage —
    * ScalaSparkCompute.java:89-96).
    */
  final case class LineageEntry(stage: String, stageType: String,
      inputFields: Map[String, Seq[String]], outputFields: Seq[String])

  def runWithLineage(spark: SparkSession,
      runtimeArgs: Map[String, String] = Map.empty): (Map[String, DataFrame], Seq[LineageEntry]) = {
    val resolved = spec.resolveMacros(runtimeArgs)
    val (stages, errors) = check(resolved, deferred = _ => false)
    if (errors.nonEmpty)
      throw new IllegalStateException(
        "pipeline validation failed:\n" + errors.mkString("\n"))
    val ctx = PipelineContext(spark, runtimeArgs)
    var results = Map.empty[String, DataFrame]
    val lineage = Seq.newBuilder[LineageEntry]

    stages.foreach { stage =>
      val s = stage.spec
      val inputNames = resolved.inputsOf(s.name)
      val inputs = inputNames.map(results)
      val out: Option[DataFrame] = stage match {
        case src: SourceStage => Some(src.read(ctx))
        case c: ComputeStage => Some(c.transform(ctx, inputs))
        case k: SinkStage => k.write(ctx, inputs.head); None
      }
      lineage += LineageEntry(s.name, s.stageType,
        inputNames.zip(inputs.map(_.schema.fieldNames.toSeq)).toMap,
        out.map(_.schema.fieldNames.toSeq).getOrElse(Nil))
      out.foreach { df =>
        // declared output schema → validate (reference
        // ScalaSparkCompute.java:110-121); absent → inferred = df.schema
        s.properties.get("outputSchema").foreach { js =>
          val declared = SchemaJson.parse(js)
          val errs = SchemaCompat.check(declared, df.schema)
          if (errs.nonEmpty) throw new IllegalStateException(
            s"stage '${s.name}' output schema mismatch:\n" + errs.mkString("\n"))
        }
        results += s.name -> df
      }
    }
    (results, lineage.result())
  }
}

object Pipeline {
  def fromJson(json: String): Pipeline = new Pipeline(PipelineSpec.fromJson(json))
}
