package graft.pipeline

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Pipeline specification: named stages + connections — the engine's
  * analogue of the reference's ETLBatchConfig DAG
  * (ScalaSparkTest.java:321-330), with `${macro}` late-binding from
  * runtime arguments (reference @Macro semantics,
  * ScalaSparkCompute.java:143-159).
  */
final case class StageSpec(name: String, stageType: String,
    properties: Map[String, String] = Map.empty)

final case class Connection(from: String, to: String)

final case class PipelineSpec(stages: Seq[StageSpec], connections: Seq[Connection]) {

  def stage(name: String): StageSpec = stages.find(_.name == name)
    .getOrElse(throw new IllegalArgumentException(s"no stage named '$name'"))

  /** Upstream stage names of `name`, in connection-declaration order
    * (join/union input order follows connection order).
    */
  def inputsOf(name: String): Seq[String] =
    connections.filter(_.to == name).map(_.from)

  def downstreamOf(name: String): Seq[String] =
    connections.filter(_.from == name).map(_.to)

  /** Topological order; cycles are an error. */
  def topoOrder: Seq[StageSpec] = {
    val remaining = scala.collection.mutable.LinkedHashSet(stages.map(_.name): _*)
    val order = Seq.newBuilder[StageSpec]
    while (remaining.nonEmpty) {
      val ready = remaining.filter(n => inputsOf(n).forall(i => !remaining.contains(i)))
      if (ready.isEmpty)
        throw new IllegalArgumentException(
          s"pipeline has a cycle among: ${remaining.mkString(", ")}")
      ready.foreach { n => order += stage(n); remaining -= n }
    }
    order.result()
  }

  /** Substitute `${key}` macros in every property value. Strict (run
    * time) fails on an unresolved macro, like the reference does, and
    * turns each `\${` escape into a literal `${`; lenient (deploy time)
    * leaves unresolved macros and escapes in place, since the
    * reference's containsMacro gate defers the checks that depend on a
    * macro ([[PipelineSpec.hasMacro]] tells the two apart).
    */
  def resolveMacros(args: Map[String, String], strict: Boolean = true): PipelineSpec = {
    def subst(v: String): String = PipelineSpec.Macro.replaceAllIn(v, m =>
      scala.util.matching.Regex.quoteReplacement(
        if (m.group(1) == null) { if (strict) "${" else m.matched }
        else args.getOrElse(m.group(1),
          if (strict) throw new IllegalArgumentException(s"unresolved macro $${${m.group(1)}}")
          else m.matched)))
    copy(stages = stages.map(s => s.copy(properties = s.properties.map {
      case (k, v) => k -> subst(v)
    })))
  }
}

object PipelineSpec {

  /** A `\${` escape (group 1 null) or a `${key}` macro. */
  private val Macro = raw"\\\$$\{|\$$\{([^}]+)\}".r

  /** Whether `value` holds a `${key}` macro; a `\${` escape is not one. */
  def hasMacro(value: String): Boolean =
    Macro.findAllMatchIn(value).exists(_.group(1) != null)

  /** A leniently resolved value as strict resolution will give it:
    * each `\${` escape becomes a literal `${`.
    */
  def literal(value: String): String = value.replace("\\${", "${")

  /** Parse the JSON wire form:
    * {"stages":[{"name":..,"type":..,"properties":{..}}],
    *  "connections":[{"from":..,"to":..}]}
    */
  def fromJson(json: String): PipelineSpec = {
    val ast = JsonMethods.parse(json)
    val stages = (ast \ "stages") match {
      case JArray(ss) => ss.map { s =>
        val name = str(s \ "name", "stage.name")
        val tpe = str(s \ "type", "stage.type")
        val props = (s \ "properties") match {
          case JObject(fields) => fields.collect {
            case (k, JString(v)) => k -> v
            case (k, JInt(v))    => k -> v.toString
            case (k, JBool(v))   => k -> v.toString
            case (k, JDouble(v)) => k -> v.toString
          }.toMap
          case _ => Map.empty[String, String]
        }
        StageSpec(name, tpe, props)
      }
      case _ => throw new IllegalArgumentException("spec needs a stages array")
    }
    val conns = (ast \ "connections") match {
      case JArray(cs) => cs.map(c => Connection(str(c \ "from", "from"), str(c \ "to", "to")))
      case JNothing   => Nil
      case _ => throw new IllegalArgumentException("connections must be an array")
    }
    PipelineSpec(stages, conns)
  }

  private def str(v: JValue, what: String): String = v match {
    case JString(s) => s
    case other => throw new IllegalArgumentException(s"$what must be a string, got $other")
  }
}
