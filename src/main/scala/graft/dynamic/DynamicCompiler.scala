package graft.dynamic

import java.io.{File, FileOutputStream}
import java.lang.reflect.{Method, Modifier}
import java.net.URLClassLoader
import java.nio.file.{Files, Path}
import java.util.jar.{JarEntry, JarOutputStream}

import scala.tools.nsc.{Global, Settings}
import scala.tools.nsc.reporters.StoreReporter
import scala.reflect.internal.util.BatchSourceFile

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession

/** Runtime Scala compilation for dynamic pipeline stages — the
  * reference's core capability (ScalaSparkCodeExecutor.java:210-231,
  * SparkCompilers.java:78-147) rebuilt on scala.tools.nsc for
  * Scala 2.13 / JDK 17.
  *
  * Differences from the reference, by design:
  *  - compiles to a real class directory and packs a jar, so the same
  *    code path works on a multi-node cluster via
  *    `sparkContext.addJar` (the reference relies on the interpreter's
  *    in-memory classloader plus an optional saveAsJar,
  *    ScalaSparkTest.java:179-180);
  *  - user functions are `DataFrame => DataFrame` against the live
  *    SparkSession — no RDD[Record] bridge — so Catalyst optimizes
  *    straight through the user stage (SURVEY.md §3.1).
  */
object DynamicCompiler {

  /** Compiled user code: classloader + jar (for executor shipping). */
  final class Compiled(
      val classDir: Path,
      val jar: Path,
      val loader: URLClassLoader) {

    def loadObject(name: String): AnyRef = {
      val cls = Class.forName(name + "$", true, loader)
      cls.getField("MODULE$").get(null)
    }

    /** Register the jar with the SparkContext so executors can load
      * the classes (needed for typed lambdas; Column-only code never
      * ships classes). `sparkContext.addJar` reaches SQL-derived and
      * bare-RDD tasks alike only while the session carries no artifact
      * state, which `GraftSession.builder()` ensures; an isolated
      * session would run SQL tasks under a classloader that cannot see
      * the jar, so it fails here instead.
      */
    def shipTo(spark: SparkSession): Unit = {
      require(spark.conf.get(GraftSession.ArtifactIsolationKey) == "false",
        "dynamic code ships through sparkContext.addJar, which SQL tasks of a " +
          "session with isolated artifacts do not see: build the session from " +
          s"GraftSession.builder() or set ${GraftSession.ArtifactIsolationKey}=false")
      spark.sparkContext.addJar(jar.toUri.toString)
    }
  }

  /** Auto-imports prepended to wrapped user code — mirrors the
    * reference's preamble (ScalaSparkCodeExecutor.java:216-224) with
    * the CDAP and Spark-1.x entries replaced by their Spark-4
    * equivalents.
    */
  val AutoImports: String =
    """import org.apache.spark._
      |import org.apache.spark.rdd._
      |import org.apache.spark.sql._
      |import org.apache.spark.sql.functions._
      |import org.apache.spark.sql.types._
      |import org.apache.spark.sql.expressions._
      |import graft.dynamic.GraftContext
      |""".stripMargin

  /** Stable, filesystem/JVM-safe class name per (stage, source) pair —
    * hex-encoded like the reference (ScalaSparkCodeExecutor.java:
    * 346-357), plus a source digest: re-running a same-named stage
    * with edited code in one session ships a SECOND jar to executors
    * (addJar is append-only), and without the digest both
    * jars would carry conflicting classes under one name — executor
    * classloading could then resolve the stale one.
    */
  def classNameFor(stageName: String, code: String = ""): String = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(code.getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString
    "GraftStage" + stageName.getBytes("UTF-8").map(b => f"$b%02x").mkString +
      "_" + digest
  }

  /** Wrap user method bodies (compute/sink style) in a named object
    * with auto-imports.
    */
  def wrap(objectName: String, userCode: String): String =
    s"""$AutoImports
       |object $objectName extends Serializable {
       |$userCode
       |}
       |""".stripMargin

  /** Expand a dependencies config: comma-separated paths; a path
    * ending in "/ *" (no space) lists every jar in that directory
    * (reference SparkCompilers.java:157-203). Entries with a
    * filesystem scheme (`file://`, `hdfs://`, anything Hadoop
    * resolves) are fetched to a session temp dir first, mirroring the
    * reference's remote-FS download (SparkCompilers.java:176-187) —
    * a cluster user's jars usually live on HDFS/object storage, not
    * on every executor's local disk. The wildcard works remotely too.
    */
  def expandDependencies(deps: String): Seq[Path] =
    deps.split(",").map(_.trim).filter(_.nonEmpty).toSeq.flatMap { d =>
      val scheme =
        try Option(new java.net.URI(d).getScheme)
        catch { case _: java.net.URISyntaxException => None }
      scheme match {
        case Some(_) => fetchRemote(d)
        case None if d.endsWith("/*") =>
          val dir = new File(d.stripSuffix("/*"))
          Option(dir.listFiles()).toSeq.flatten
            .filter(_.getName.endsWith(".jar")).map(_.toPath)
        case None => Seq(new File(d).toPath)
      }
    }

  private val fetchCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Path]()

  /** Copy a scheme-qualified dependency (single jar or "dir/ *"
    * wildcard, no space) to a local temp dir via the Hadoop FileSystem
    * API and return the local paths. Fetches are memoized per process
    * by source URI, length and modification time, like compiles: an
    * unchanged jar keeps one local path (so the compile cache hits and
    * nothing new is shipped), a rewritten one is fetched again. Temp
    * dirs ride the same shutdown-hook cleanup as compile outputs.
    */
  private def fetchRemote(spec: String): Seq[Path] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val wildcard = spec.endsWith("/*")
    val base = new HPath(if (wildcard) spec.stripSuffix("/*") else spec)
    val fs = base.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val sources =
      if (wildcard)
        fs.listStatus(base).toSeq
          .filter(s => s.isFile && s.getPath.getName.endsWith(".jar"))
      else Seq(fs.getFileStatus(base))
    sources.map { src =>
      fetchCache.computeIfAbsent(
        (src.getPath.toString, src.getLen, src.getModificationTime), _ => {
          val tmp = Files.createTempDirectory("graft-deps")
          Cleanup.register(tmp)
          val dst = tmp.resolve(src.getPath.getName)
          fs.copyToLocalFile(false, src.getPath, new HPath(dst.toUri), true)
          dst
        })
    }
  }

  /** Process-wide memo: identical (source, classpath) pairs reuse the
    * first compilation (~2s of scalac each), so a validated pipeline's
    * run and every repeat run compile nothing.
    */
  private val compileCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Seq[Path]), Compiled]()

  def compileCached(source: String, extraClasspath: Seq[Path] = Nil): Compiled =
    compileCache.computeIfAbsent((source, extraClasspath),
      _ => compile(source, extraClasspath = extraClasspath))

  /** Compile Scala source; returns the Compiled handle or throws
    * [[CompileException]] with collected errors (line-numbered
    * relative to the full generated source).
    */
  def compile(source: String, parentLoader: ClassLoader = getClass.getClassLoader,
      extraClasspath: Seq[Path] = Nil): Compiled = {
    val dir = Files.createTempDirectory("graft-dyn")
    Cleanup.register(dir)
    val errors = compilers.synchronized {
      val c = compilers.computeIfAbsent(extraClasspath, cp => new Warm(cp))
      var keep = false
      try {
        val errs = c.run(source, dir)
        keep = errs.isEmpty && c.runs < RunsPerCompiler
        errs
      } finally if (!keep) compilers.remove(extraClasspath)
    }
    if (errors.nonEmpty) throw new CompileException(errors)
    val jar = jarDirectory(dir)
    val loader = new URLClassLoader(
      (dir.toUri.toURL +: extraClasspath.map(_.toUri.toURL)).toArray, parentLoader)
    new Compiled(dir, jar, loader)
  }

  /** Runs before a warm compiler is rebuilt, bounding what a long-lived
    * symbol table can accumulate.
    */
  private val RunsPerCompiler = 100

  /** Warm compilers, one per extra-classpath set, least recently used
    * dropped beyond a few. `Global` is not thread-safe, so every
    * compile runs under this map's lock.
    */
  private val compilers = new java.util.LinkedHashMap[Seq[Path], Warm](4, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Seq[Path], Warm]): Boolean =
      size > 4
  }

  /** `Global`s built so far in this JVM. */
  private[graft] val compilersBuilt = new java.util.concurrent.atomic.AtomicInteger()

  /** One scalac `Global` reused across compiles: a new one loads the
    * whole classpath again, which costs more than most compiles (the
    * reference likewise keeps its interpreter until the application
    * ends, ScalaSparkCodeExecutor.java:131-154). Each compile gets a
    * fresh `Run`, output dir and reporter state; a failed compile
    * drops the `Global` (its symbols may be half-entered).
    */
  private final class Warm(extraClasspath: Seq[Path]) {
    private val settings = new Settings()
    settings.usejavacp.value = true
    // under sbt/forked JVMs the app classpath is in java.class.path;
    // pass it explicitly too (usejavacp covers plain launches)
    settings.classpath.value =
      (System.getProperty("java.class.path", "") +:
        extraClasspath.map(_.toString)).mkString(File.pathSeparator)
    private val reporter = new StoreReporter(settings)
    private val global = new Global(settings, reporter)
    compilersBuilt.incrementAndGet()
    var runs = 0

    /** Compiles `source` into `dir`; returns the errors, empty on success. */
    def run(source: String, dir: Path): Seq[String] = {
      runs += 1
      reporter.reset()
      settings.outputDirs.setSingleOutput(dir.toString)
      val run = new global.Run()
      run.compileSources(List(new BatchSourceFile("<graft-dynamic>", source)))
      // a fresh compiler would not see this run's top-level classes,
      // so the next run must not either: a later source naming them
      // must fail to compile, not fail to load. Names resolve in the
      // package scope as typer sees it (flatten gives later phases a
      // copy).
      run.symSource.keys.foreach(sym =>
        global.enteringPhase(run.typerPhase)(sym.owner.info.decls.unlink(sym)))
      reporter.infos.filter(_.severity == reporter.ERROR)
        .map(i => (if (i.pos.isDefined) s"line ${i.pos.line}: " else "") + i.msg)
        .toSeq
    }
  }

  /** Temp-artifact cleanup — the reference deletes its compiler dirs on
    * SparkListenerApplicationEnd (ScalaSparkCodeExecutor.java:131-154);
    * a JVM shutdown hook covers the same lifecycle here (and also runs
    * when no session was ever started).
    */
  private object Cleanup {
    private val dirs = scala.collection.mutable.ArrayBuffer.empty[Path]
    Runtime.getRuntime.addShutdownHook(new Thread(() => dirs.synchronized {
      dirs.foreach(d => try graft.Fs.deleteRecursively(d)
        catch { case _: Exception => () })
    }))
    def register(dir: Path): Unit = dirs.synchronized { dirs += dir }
  }

  final class CompileException(val errors: Seq[String])
    extends RuntimeException("dynamic Scala compilation failed:\n" + errors.mkString("\n"))

  private def jarDirectory(dir: Path): Path = {
    // unique file name: Spark's file server keys jars by name, so two
    // stages both shipping "graft-dynamic.jar" would collide
    val jar = dir.resolve(dir.getFileName.toString + ".jar")
    val out = new JarOutputStream(new FileOutputStream(jar.toFile))
    try {
      def walk(f: File, prefix: String): Unit =
        f.listFiles().foreach { c =>
          if (c.isDirectory) walk(c, s"$prefix${c.getName}/")
          else if (c.getName.endsWith(".class")) {
            out.putNextEntry(new JarEntry(prefix + c.getName))
            Files.copy(c.toPath, out)
            out.closeEntry()
          }
        }
      walk(dir.toFile, "")
    } finally out.close()
    jar
  }

  // -----------------------------------------------------------------
  // Method resolution + signature validation, mirroring the matrix at
  // ScalaSparkCodeExecutor.java:56-61 and the checks at :267-335.

  /** A resolved user method: invoke(df) handles the optional context
    * parameter and the RDD-mode round trip. `declaredSchema` rebuilds
    * shape-changing RDD results (reference RDD-mode rule: output
    * schema = declared schema, else input schema).
    */
  final case class UserFunction(target: AnyRef, method: Method,
      takesContext: Boolean, isRddMode: Boolean = false) {
    def invoke(df: DataFrame, ctx: GraftContext,
        declaredSchema: Option[org.apache.spark.sql.types.StructType] = None): AnyRef = {
      val arg: AnyRef = if (isRddMode) df.rdd else df
      val out = if (takesContext) method.invoke(target, arg, ctx)
        else method.invoke(target, arg)
      out match {
        case rdd: org.apache.spark.rdd.RDD[_] =>
          ctx.spark.createDataFrame(
            rdd.asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]],
            declaredSchema.getOrElse(df.schema))
        case other => other
      }
    }
  }

  /** Resolve `methodName` on the wrapped object, enforcing the
    * reference's 4-shape matrix (ScalaSparkCodeExecutor.java:56-61):
    * `(DataFrame)`, `(DataFrame, GraftContext)`, `(RDD[Row])`,
    * `(RDD[Row], GraftContext)` — returning DataFrame / RDD[Row]
    * respectively (compute), or Unit when `isVoid` (sink). RDD-shaped
    * computes are rebuilt into DataFrames by the caller using the
    * declared/input schema (rows don't carry one — the analogue of the
    * reference's RDD-mode schema rules, :104-106).
    */
  def resolveFunction(obj: AnyRef, methodName: String, isVoid: Boolean): UserFunction = {
    val candidates = obj.getClass.getMethods.filter(_.getName == methodName)
    if (candidates.isEmpty)
      fail(s"method '$methodName' not found in user code")
    val dfClass = classOf[DataFrame]
    val rddClass = classOf[org.apache.spark.rdd.RDD[_]]
    val ctxClass = classOf[GraftContext]
    val m = candidates.find { m =>
      val p = m.getParameterTypes
      val firstOk = p.nonEmpty && (p(0) == dfClass || rddClass.isAssignableFrom(p(0)))
      (p.length == 1 && firstOk) ||
        (p.length == 2 && firstOk && p(1) == ctxClass)
    }.getOrElse(fail(
      s"method '$methodName' must take (DataFrame), (DataFrame, GraftContext), " +
        s"(RDD[Row]) or (RDD[Row], GraftContext); found ${candidates.map(sig).mkString("; ")}"))
    val isRdd = rddClass.isAssignableFrom(m.getParameterTypes()(0))
    val ret = m.getReturnType
    if (isVoid) {
      if (ret != Void.TYPE && ret != classOf[Unit] && ret != classOf[scala.runtime.BoxedUnit])
        fail(s"method '$methodName' must return Unit, found ${ret.getName}")
    } else if (isRdd) {
      if (!rddClass.isAssignableFrom(ret))
        fail(s"method '$methodName' must return RDD[Row], found ${ret.getName}")
    } else if (!dfClass.isAssignableFrom(ret)) {
      fail(s"method '$methodName' must return DataFrame, found ${ret.getName}")
    }
    UserFunction(obj, m, m.getParameterTypes.length == 2, isRdd)
  }

  private def sig(m: Method): String =
    s"${m.getName}(${m.getParameterTypes.map(_.getSimpleName).mkString(", ")}): ${m.getReturnType.getSimpleName}"

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(msg)

  // -----------------------------------------------------------------
  // Whole-program dispatch, mirroring ScalaSparkProgram.java:100-162's
  // three shapes: GraftMain.run(ctx) / run(SparkSession) /
  // static main(Array[String]).

  def runProgram(obj: AnyRef, spark: SparkSession, args: Map[String, String]): Unit =
    withContextLoader(obj.getClass.getClassLoader) {
      obj match {
        case gm: GraftMain => gm.run(GraftContext(spark, args))
        case _ =>
          val methods = obj.getClass.getMethods
          methods.find(m => m.getName == "run"
              && m.getParameterTypes.sameElements(Array(classOf[SparkSession]))) match {
            case Some(m) => m.invoke(obj, spark)
            case None =>
              methods.find(m => m.getName == "main" && Modifier.isPublic(m.getModifiers)
                  && m.getParameterTypes.sameElements(Array(classOf[Array[String]]))) match {
                case Some(m) =>
                  // POSIX-style args like RuntimeArguments.toPosixArray
                  // (ScalaSparkProgram.java:140)
                  val posix = args.toSeq.sortBy(_._1)
                    .flatMap { case (k, v) => Seq(s"--$k=$v") }.toArray
                  val target = if (Modifier.isStatic(m.getModifiers)) null else obj
                  m.invoke(target, posix.asInstanceOf[AnyRef])
                case None => fail(
                  "user program must extend GraftMain, define run(SparkSession), " +
                    "or define main(Array[String])")
              }
          }
      }
    }

  /** Runs `body` with `cl` as the thread's context classloader, so
    * reflective lookups in user code (encoders, deserialization) see
    * the compiled classes.
    */
  private[graft] def withContextLoader[T](cl: ClassLoader)(body: => T): T = {
    val t = Thread.currentThread()
    val prev = t.getContextClassLoader
    t.setContextClassLoader(cl)
    try body finally t.setContextClassLoader(prev)
  }
}

/** Runtime context handed to user code — the engine's analogue of the
  * reference's SparkExecutionPluginContext, including the named-dataset
  * sugar reference user code addresses (`fromDataset`/`saveAsDataset`,
  * ScalaSparkTest.java:118-128): thin wrappers over the session
  * catalog's temp views, so a reference widget's transform body runs
  * unchanged.
  */
final case class GraftContext(spark: SparkSession, runtimeArgs: Map[String, String]) {
  /** Read a named dataset (temp view or catalog table). */
  def fromDataset(name: String): DataFrame = spark.table(name)

  /** Publish `df` under `name` for downstream stages (temp view —
    * lazy, no materialization; pair with a FormatSink/TableSource for
    * durable handoff).
    */
  def saveAsDataset(df: DataFrame, name: String): Unit =
    df.createOrReplaceTempView(name)
}

/** Marker trait for whole-program user code (analogue of SparkMain,
  * ScalaSparkProgram.java:117-125).
  */
trait GraftMain {
  def run(ctx: GraftContext): Unit
}
