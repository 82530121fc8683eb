package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.reflect.NameTransformer

import org.apache.xbean.asm9.{ClassReader, ClassVisitor, FieldVisitor, Handle, Label, MethodVisitor, Opcodes, Type}
import org.scalatest.funsuite.AnyFunSuite

/** Main scope holds only what an entry point reaches.
  *
  * Reads every class of the main output directory with the ASM that
  * Spark ships (`org.apache.xbean.asm9`) and computes which methods the
  * [[ReachabilitySpec.Roots]] reach. Edges are the calls, field accesses
  * and `new`s in method bodies (a class's static initialiser runs on its
  * first use), plus the method handles of invokedynamic bootstraps, which
  * is how lambdas are reached. Two kinds of call are followed without a
  * direct edge:
  *  - a call to `C.m` reaches every override of `m` in the subtypes of `C`;
  *  - a class whose constructor is reached reaches its overrides of the
  *    methods of its supertypes outside main scope (Spark's `Expression`,
  *    `Aggregator`, `Rule`, `Strategy`, `SparkPlan`, …, Scala's
  *    `Function1` and `Iterator`, the JDK's `Object`): code outside main
  *    scope calls those.
  *
  * A main-scope class or method that nothing reaches fails the spec,
  * unless it is compiler-generated or an [[ReachabilitySpec.Allowed]] row
  * covers it. No SparkSession is started.
  */
class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec._

  private lazy val graph = CallGraph.load(mainClassesDir)
  private lazy val unreached = graph.unreached(graph.reach(Roots.flatMap(r => graph.named(r.cls, r.method))))

  test("every root names a main-scope method") {
    val missing = Roots.filter(r => graph.named(r.cls, r.method).isEmpty)
    assert(missing.isEmpty, missing.map(r => s"${r.cls}.${r.method}").mkString("no such method: ", ", ", ""))
  }

  test("every main-scope method is reached from an entry point or allow-listed") {
    val left = unreached.filterNot(f => Allowed.exists(_.covers(f)))
    assert(left.isEmpty, left.map(_.line).mkString(
      s"${left.size} main-scope classes or methods are reached from no entry point. Give each " +
        "a caller, move it to test scope, or add an allow-list row with its reason:\n  ",
      "\n  ", ""))
  }

  test("every allow-list row covers something unreached") {
    val stale = Allowed.filterNot(a => unreached.exists(a.covers))
    assert(stale.isEmpty, stale.map(_.name).mkString("allow-list rows that cover nothing: ", ", ", ""))
  }
}

object ReachabilitySpec {

  /** A method the program is entered by, and why. */
  final case class Root(cls: String, method: String, why: String)

  /** The entry points. `cls` is the source name (an object's methods sit
    * on its `$` class); every overload of `method` is a root.
    */
  val Roots: Seq[Root] = Seq(
    Root("graft.Bench", "main", "the graded bench driver"),
    Root("graft.Verify", "main", "the oracle driver"),
    Root("graft.Orchestrator", "main", "the checkpointed pipeline's command line"),
    Root("graft.SparkEntry", "queries", "the 248-query driver contract"),
    Root("graft.SparkEntry", "oracleSql", "the contract's DuckDB side"),
    Root("graft.SparkEntry", "entry", "the contract's smoke query"),
    Root("graft.plans.GraftSparkExtensions", "<init>", "spark.sql.extensions instantiates it"),
    Root("graft.plans.GraftFunctions", "table", "the SQL function table"),
    // the engine calls of the benchmark harness (pipebench/driver)
    Root("graft.Pipeline", "ingest", "pipebench web_fused"),
    Root("graft.Pipeline", "run", "pipebench web_fused"),
    Root("graft.Pipeline", "cleanAndFilter", "pipebench web_fused traced prefixes"),
    Root("graft.Pipeline", "deepCleanAndPii", "pipebench web_fused traced prefixes"),
    Root("graft.Pipeline", "dedup", "pipebench web_fused traced prefixes"),
    Root("graft.Pipeline", "score", "pipebench web_fused traced prefixes"),
    Root("graft.Pipeline", "tokenise", "pipebench web_fused traced prefixes"),
    Root("graft.Pipeline", "shard", "pipebench web_fused"),
    Root("graft.Orchestrator", "run", "pipebench dupes_checkpointed"),
    Root("graft.Orchestrator", "versionPath", "pipebench dupes_checkpointed"),
    Root("graft.Orchestrator", "droppedPath", "pipebench dupes_checkpointed"),
    Root("graft.sources.Sinks", "readJsonl", "pipebench raw input"),
    Root("graft.sources.Sinks", "writeShardedTrainingJsonl", "pipebench export"),
    Root("graft.ops.Shard", "writeManifest", "pipebench export"),
    Root("graft.ops.Shard", "DocsPerShard", "pipebench dupes_checkpointed"),
    Root("graft.ops.Filters", "prefilterRules", "pipebench drop-reason check"),
    Root("graft.ops.Filters", "langRules", "pipebench drop-reason check"),
    Root("graft.ops.Filters", "qualityRules", "pipebench drop-reason check"),
    Root("graft.ops.Filters", "deepCleanRules", "pipebench drop-reason check"),
    Root("graft.ops.Filters", "tokenLengthRules", "pipebench drop-reason check"),
    Root("graft.Sizing", "shufflePartitions", "pipebench session sizing"),
  )

  /** Unreached code kept on purpose: public registration surface, or a
    * port of a reference output (SURVEY.md §2.1). `method = None` covers
    * the whole source-level class.
    */
  final case class Allow(cls: String, method: Option[String], why: String) {
    def name: String = cls + method.fold(" (whole class)")("." + _)
    def covers(f: Finding): Boolean = method match {
      case None => sourceName(topLevel(f.owner)) == cls
      case Some(n) => sourceName(f.owner) == cls && f.method.exists(m => decode(m.name) == n)
    }
  }

  val Allowed: Seq[Allow] = Seq(
    Allow("graft.plans.GraftFunctions", Some("register"),
      "public registration surface: SQL text in a caller's session sees the kernels"),
    Allow("graft.sources.Sinks", Some("writeProjectionJsonl"),
      "SURVEY S4: the reference's {doc_id,text,source} JSONL sink"),
    Allow("graft.sources.Sinks", Some("writeReportCsv"),
      "SURVEY S6: the reference's drop-reason and PII CSV reports"),
    Allow("graft.sources.Plots", None,
      "SURVEY S8: the reference's plots_charts.py histograms and bar charts"),
  )

  final case class Meth(owner: String, name: String, desc: String)

  /** An unreached method, or a class none of whose methods is reached. */
  final case class Finding(owner: String, method: Option[Meth]) {
    def line: String = method.fold(s"${sourceName(owner)} (whole class)")(m =>
      s"${sourceName(owner)}.${decode(m.name)}${m.desc}")
  }

  /** `graft/ops/Shard$` → `graft.ops.Shard`; nested classes keep `$`. */
  def sourceName(internal: String): String = internal.replace('/', '.').stripSuffix("$")

  /** The source-level class a class file belongs to: `a/B$C$1` → `a/B`. */
  def topLevel(internal: String): String = {
    val i = internal.lastIndexOf('/') + 1
    val j = internal.indexOf('$', i)
    if (j < 0) internal else internal.substring(0, j)
  }

  def decode(name: String): String = if (name.startsWith("<")) name else NameTransformer.decode(name)

  /** The main output directory: where the engine's own classes load from. */
  def mainClassesDir: Path = Paths.get(
    Class.forName("graft.Persisted$", false, getClass.getClassLoader)
      .getProtectionDomain.getCodeSource.getLocation.toURI)

  final class Cls(val name: String, val superName: Option[String], val interfaces: Seq[String]) {
    val methods = mutable.LinkedHashMap.empty[(String, String), Body]
    val fields = mutable.Set.empty[String]
  }

  final class Body(val access: Int) {
    val calls = mutable.ArrayBuffer.empty[Meth]
    val classRefs = mutable.LinkedHashSet.empty[String]
    /** Takes no argument and only pushes a literal and returns it. */
    var constant = false
    def is(flag: Int): Boolean = (access & flag) != 0
  }

  /** What the compiler gives a case class and its companion. */
  private val CaseSynthetics = Set("copy", "productArity", "productElement", "productPrefix",
    "productIterator", "productElementName", "productElementNames", "canEqual",
    "equals", "hashCode", "toString", "<init>")
  private val CompanionSynthetics = Set("unapply", "toString", "readResolve",
    "tupled", "curried", "<init>")

  final class CallGraph(val classes: Map[String, Cls]) {
    private val loader = getClass.getClassLoader

    private val subtypes: Map[String, Seq[String]] = classes.values.toSeq
      .flatMap(c => (c.superName.toSeq ++ c.interfaces).map(_ -> c.name))
      .groupMap(_._1)(_._2)

    def methodsOf(owner: String): Seq[Meth] =
      classes.get(owner).toSeq.flatMap(_.methods.keys.map { case (n, d) => Meth(owner, n, d) })

    /** The methods of source class `cls` (or of its object) called `method`. */
    def named(cls: String, method: String): Seq[Meth] = {
      val internal = cls.replace('.', '/')
      val encoded = if (method.startsWith("<")) method else NameTransformer.encode(method)
      Seq(internal + "$", internal).flatMap(methodsOf).filter(_.name == encoded)
    }

    private def body(m: Meth): Option[Body] = classes.get(m.owner).flatMap(_.methods.get((m.name, m.desc)))

    /** `name` and its supertypes, nearest first; a type outside main
      * scope ends its branch.
      */
    private def ancestors(name: String): Seq[String] = {
      val seen = mutable.LinkedHashSet.empty[String]
      def go(n: String): Unit = if (seen.add(n)) classes.get(n).foreach { c =>
        (c.superName.toSeq ++ c.interfaces).foreach(go)
      }
      go(name)
      seen.toSeq
    }

    private def allSubtypes(name: String): Seq[String] = {
      val seen = mutable.LinkedHashSet.empty[String]
      def go(n: String): Unit = subtypes.getOrElse(n, Nil).foreach(s => if (seen.add(s)) go(s))
      go(name)
      seen.toSeq
    }

    private def load(internal: String): Class[_] =
      Class.forName(internal.replace('/', '.'), false, loader)

    /** Whether `name` is a subtype of `tpe` outside main scope. */
    private def isA(name: String, tpe: Class[_]): Boolean =
      ancestors(name).exists(a => !classes.contains(a) && tpe.isAssignableFrom(load(a)))

    /** The instance methods of the types outside main scope that `name` extends. */
    private val externalCache = mutable.Map.empty[String, Set[(String, String)]]
    private def externalMethods(name: String): Set[(String, String)] =
      ancestors(name).filterNot(classes.contains).toSet.flatMap { (ext: String) =>
        externalCache.getOrElseUpdate(ext, {
          val seen = mutable.Set.empty[Class[_]]
          def go(k: Class[_]): Seq[(String, String)] = if (k == null || !seen.add(k)) Nil else
            k.getDeclaredMethods.toSeq
              .filterNot(m => java.lang.reflect.Modifier.isStatic(m.getModifiers))
              .map(m => (m.getName, Type.getMethodDescriptor(m))) ++
              go(k.getSuperclass) ++ k.getInterfaces.toSeq.flatMap(go)
          go(load(ext)).toSet
        })
      }

    /** Every method `roots` reach. */
    def reach(roots: Seq[Meth]): Set[Meth] = {
      val done = mutable.Set.empty[Meth]
      val queue = mutable.Queue.empty[Meth]
      def mark(m: Meth): Unit = if (body(m).nonEmpty && done.add(m)) queue.enqueue(m)
      def use(cls: String): Unit = ancestors(cls).foreach(a => mark(Meth(a, "<clinit>", "()V")))
      def call(m: Meth): Unit = if (classes.contains(m.owner)) {
        use(m.owner)
        // the declaration the call lands on: the owner's or an ancestor's
        ancestors(m.owner).map(a => m.copy(owner = a)).find(body(_).nonEmpty).foreach(mark)
        if (m.name != "<init>") allSubtypes(m.owner).foreach(s => mark(m.copy(owner = s)))
      }
      roots.foreach { m => use(m.owner); mark(m) }
      while (queue.nonEmpty) {
        val m = queue.dequeue()
        val b = body(m).get
        b.classRefs.foreach(use)
        b.calls.foreach(call)
        if (m.name == "<init>") {
          val ext = externalMethods(m.owner)
          ancestors(m.owner).flatMap(methodsOf).filter(a => ext((a.name, a.desc))).foreach(mark)
        }
      }
      done.toSet
    }

    /** Whether the compiler made `m`, or no edge can show its use:
      * bridges, lambda bodies, case-class and companion synthetics (a
      * case class's constructor and field accessors too, which encoders
      * call by reflection), default-argument getters, an object's static
      * forwarders and `writeReplace`, and the accessors of `final val`
      * literals, which scalac inlines at every use.
      */
    private def exempt(m: Meth): Boolean = {
      val c = classes(m.owner)
      val b = c.methods((m.name, m.desc))
      val n = m.name
      lazy val caseClass = Some(m.owner.stripSuffix("$"))
        .filter(cc => m.owner.endsWith("$") && classes.contains(cc) && isA(cc, classOf[Product]))
      b.is(Opcodes.ACC_SYNTHETIC | Opcodes.ACC_BRIDGE) || b.constant ||
        n == "<clinit>" || n == "$deserializeLambda$" || n.startsWith("$anonfun$") ||
        n.contains("$default$") ||
        (m.owner.endsWith("$") && n == "writeReplace") ||
        (b.is(Opcodes.ACC_STATIC) && classes.contains(m.owner + "$")) ||
        ((CaseSynthetics(n) || c.fields(n) && m.desc.startsWith("()")) && isA(m.owner, classOf[Product])) ||
        caseClass.exists(cc => CompanionSynthetics(n) ||
          n == "apply" && Type.getReturnType(m.desc).getInternalName == cc)
    }

    /** What `reached` leaves out: one finding per source-level class none
      * of whose classes is reached, else one per nested class none of
      * whose methods is reached, else one per unreached method that is not
      * exempt. An object's static mirror class counts as part of it.
      */
    def unreached(reached: Set[Meth]): Seq[Finding] = {
      def live(cls: String) = methodsOf(cls).exists(reached)
      val groups = classes.keys.toSeq.sorted.groupBy(topLevel)
      groups.keys.toSeq.sorted.flatMap { top =>
        val members = groups(top)
        if (!members.exists(live)) Seq(Finding(top, None))
        else members.filterNot(m => m == top && classes.contains(top + "$")).flatMap { cls =>
          if (!live(cls) && methodsOf(cls).exists(!exempt(_))) Seq(Finding(cls, None))
          else methodsOf(cls).filterNot(m => reached(m) || exempt(m)).map(m => Finding(cls, Some(m)))
        }
      }
    }
  }

  object CallGraph {
    def load(dir: Path): CallGraph = {
      val files = Files.walk(dir).iterator.asScala.filter(_.toString.endsWith(".class")).toSeq
      new CallGraph(files.map(f => read(Files.readAllBytes(f))).map(c => c.name -> c).toMap)
    }

    private def read(bytes: Array[Byte]): Cls = {
      var cls: Cls = null
      new ClassReader(bytes).accept(new ClassVisitor(Opcodes.ASM9) {
        override def visit(version: Int, access: Int, name: String, signature: String,
            superName: String, interfaces: Array[String]): Unit =
          cls = new Cls(name, Option(superName), Option(interfaces).toSeq.flatten)

        override def visitField(access: Int, name: String, desc: String, signature: String,
            value: AnyRef): FieldVisitor = {
          if ((access & Opcodes.ACC_STATIC) == 0) cls.fields += name
          null
        }

        override def visitMethod(access: Int, name: String, desc: String, signature: String,
            exceptions: Array[String]): MethodVisitor = {
          val b = new Body(access)
          cls.methods((name, desc)) = b
          new MethodVisitor(Opcodes.ASM9) {
            private def notConstant(): Unit = b.constant = false
            private def call(m: Meth): Unit = { b.calls += m; notConstant() }
            private def handle(h: Handle): Unit = call(Meth(h.getOwner, h.getName, h.getDesc))
            override def visitCode(): Unit =
              b.constant = Type.getArgumentTypes(desc).isEmpty && Type.getReturnType(desc) != Type.VOID_TYPE
            override def visitInsn(op: Int): Unit =
              if (op > Opcodes.DCONST_1 && (op < Opcodes.IRETURN || op > Opcodes.ARETURN)) notConstant()
            override def visitIntInsn(op: Int, operand: Int): Unit = if (op == Opcodes.NEWARRAY) notConstant()
            override def visitVarInsn(op: Int, v: Int): Unit = notConstant()
            override def visitJumpInsn(op: Int, l: Label): Unit = notConstant()
            override def visitMethodInsn(op: Int, owner: String, name: String, desc: String,
                itf: Boolean): Unit = call(Meth(owner, name, desc))
            override def visitFieldInsn(op: Int, owner: String, name: String, desc: String): Unit = {
              b.classRefs += owner; notConstant()
            }
            override def visitTypeInsn(op: Int, tpe: String): Unit = {
              if (op == Opcodes.NEW) b.classRefs += tpe
              notConstant()
            }
            override def visitLdcInsn(v: AnyRef): Unit = v match {
              case h: Handle => handle(h)
              case _: Type => notConstant()
              case _ =>
            }
            override def visitInvokeDynamicInsn(name: String, desc: String, bsm: Handle,
                args: AnyRef*): Unit = {
              handle(bsm)
              args.foreach { case h: Handle => handle(h); case _ => }
            }
          }
        }
      }, ClassReader.SKIP_DEBUG | ClassReader.SKIP_FRAMES)
      cls
    }
  }
}
