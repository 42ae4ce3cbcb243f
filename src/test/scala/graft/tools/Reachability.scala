package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.xbean.asm9.{ClassReader, Handle, Opcodes, Type}
import org.apache.xbean.asm9.tree._

/** Which public `src/main` members no entry point reaches, read from the
  * compiled bytecode (the shaded ASM in the Spark jars).
  *
  * Roots:
  *  - every `main` in `src/main`;
  *  - every member whose name appears as an identifier in
  *    `perfbench/src` or `tools/` (a separate build, so a textual match);
  *  - the names kept public for consumers ([[Keep]]).
  *
  * Edges: every `invoke*`, field access, `LDC` type or handle, and the
  * bootstrap handles of an `invokedynamic` (Scala lambdas); a reached
  * class reaches its `<clinit>`, its constructors and the methods it
  * overrides from a library supertype (Spark and the JDK call those). An
  * identifier inside a reached string constant reaches that name too:
  * generated Java code and encoders call `src/main` by name.
  *
  * A virtual call is not resolved: a reference to a name and descriptor
  * reaches that name and descriptor in every `src/main` class. This over-
  * approximates, so the listing can miss unreached code but never lists
  * reached code.
  *
  * Output: sorted `Class.member` lines, one per public, non-synthetic
  * member that nothing reaches (overloads fold into one line, listed only
  * when every overload is unreached). The committed copy is
  * `tools/unreached.txt`; `ReachabilitySpec` keeps it current.
  *
  * Run from the repo root:
  * {{{
  * sbt "Test/runMain graft.tools.Reachability tools/unreached.txt"
  * }}}
  * Without an argument the listing goes to stdout.
  */
object Reachability {

  /** Public names kept for consumers although no entry point calls them,
    * as (class, member, reason): the names the frozen harness calls, the
    * engine's read, history and retention API, and the writers of the
    * layouts the engine reads. `*` alone keeps every member of the class;
    * a trailing `*` matches a name prefix.
    */
  val Keep: Seq[(String, String, String)] = Seq(
    ("graft.engine.Pipeline", "violations", "validation entry the frozen harness calls (ROADMAP aim 2)"),
    ("graft.engine.Pipeline", "verdicts", "verdicts entry the frozen harness calls (ROADMAP aim 2)"),
    ("graft.checks.Checks", "all", "default check set the frozen harness calls (ROADMAP aim 2)"),
    ("graft.checks.CheckDatatypeImpl", "*", "datatype check the frozen harness calls (ROADMAP aim 2)"),
    ("graft.ops.TextAnalysis", "langId", "language id the frozen harness calls (ROADMAP aim 2)"),
    ("graft.stats.ThetaSketchAgg", "theta_sketch", "sketch facade the frozen harness calls (ROADMAP aim 2)"),
    ("graft.stats.KllSketchAgg", "kll_sketch", "sketch facade the frozen harness calls (ROADMAP aim 2)"),
    ("graft.stats.KllMergeAgg", "kll_merge", "sketch facade the frozen harness calls (ROADMAP aim 2)"),
    ("graft.engine.ValidatorApp", "readViolations*", "committed read of a run's violations, with time travel (README)"),
    ("graft.engine.ValidatorApp", "readVerdicts", "read of a run's verdicts table"),
    ("graft.engine.ValidatorApp", "readSnapshot", "committed read of a snapshot's violations"),
    ("graft.engine.ProfileStore", "readCommitted", "committed read of the stored profile (README)"),
    ("graft.engine.ProfileStore", "expireRuns", "retention: bounds the stored profile runs (README)"),
    ("graft.engine.Manifest", "committedRuns", "the time-travel history listing (README)"),
    ("graft.engine.Layout", "writeBucketed", "writes the data.bucketedTable layout the app reads"),
    ("graft.engine.ProfileStore", "writeBucketPartitioned", "writes the bucket-partitioned layout spanMetrics trusts"))

  /** Whether a [[Keep]] member pattern names the method `name`. */
  def keeps(member: String, name: String): Boolean =
    member == "*" || name == member ||
      member.endsWith("*") && name.startsWith(member.stripSuffix("*"))

  /** The committed listing, relative to the repo root. */
  val ListingFile = "tools/unreached.txt"

  /** @param unreached the listing
    * @param members every listable `Class.member` of the compiled classes
    */
  final case class Result(unreached: Seq[String], members: Set[String])

  def main(args: Array[String]): Unit = {
    val text = compute().unreached.map(_ + "\n").mkString
    args.headOption match {
      case Some(out) => Files.write(Paths.get(out), text.getBytes(StandardCharsets.UTF_8))
      case None => print(text)
    }
  }

  /** The listing for the `src/main` classes on this JVM's classpath, with
    * the textual roots read from the repo at `root`.
    */
  def compute(root: Path = Paths.get("").toAbsolutePath): Result = {
    require(Files.isDirectory(root.resolve("perfbench/src")),
      s"$root is not the repo root (no perfbench/src)")
    val loader = getClass.getClassLoader
    val loc = Class.forName("graft.engine.Pipeline$", false, loader)
      .getProtectionDomain.getCodeSource.getLocation
    analyse(readClasses(Paths.get(loc.toURI)), namedIn(root), loader)
  }

  private val Ident = "[A-Za-z_][A-Za-z0-9_]*".r
  private val Call = "([A-Za-z_][A-Za-z0-9_]*)\\s*\\(".r

  private def files(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else Using.resource(Files.walk(dir))(_.iterator.asScala.filter(Files.isRegularFile(_)).toList)

  /** Identifiers in `perfbench/src/**/*.scala` and `tools/` (the listing
    * itself excluded: it names exactly the members it must not root).
    */
  def namedIn(root: Path): Set[String] = {
    val listing = root.resolve(ListingFile)
    val texts = files(root.resolve("perfbench/src")).filter(_.toString.endsWith(".scala")) ++
      files(root.resolve("tools")).filter(p => p != listing && !p.toString.contains("__pycache__"))
    texts.flatMap(p => Ident.findAllIn(new String(Files.readAllBytes(p), StandardCharsets.ISO_8859_1))).toSet
  }

  /** The classes in a directory or a jar. */
  def readClasses(loc: Path): Seq[ClassNode] = {
    def read(bytes: Array[Byte]) = {
      val n = new ClassNode()
      new ClassReader(bytes).accept(n, ClassReader.SKIP_FRAMES)
      n
    }
    if (Files.isDirectory(loc))
      files(loc).filter(_.toString.endsWith(".class")).map(p => read(Files.readAllBytes(p)))
    else Using.resource(new java.util.zip.ZipFile(loc.toFile)) { z =>
      z.entries.asScala.filter(_.getName.endsWith(".class"))
        .map(e => Using.resource(z.getInputStream(e))(in => read(in.readAllBytes()))).toList
    }
  }

  /** `graft/ops/Dedup$Foo$` -> `graft.ops.Dedup.Foo`. */
  def displayName(internal: String): String =
    internal.stripSuffix("$").replace('/', '.').replace('$', '.')

  private def isPublic(access: Int) = (access & Opcodes.ACC_PUBLIC) != 0
  private def isSynthetic(access: Int) =
    (access & (Opcodes.ACC_SYNTHETIC | Opcodes.ACC_BRIDGE)) != 0

  /** A class the listing names: not anonymous, not a compiler helper. */
  private def listableClass(c: ClassNode) =
    isPublic(c.access) && !isSynthetic(c.access) && !c.name.contains("$$") &&
      !c.name.split('$').exists(s => s.nonEmpty && s.forall(_.isDigit))

  /** A member the listing names: public source members only, so no
    * constructors, lambda bodies, default-argument getters, expanded
    * private names or trait implementation statics.
    */
  private def listableMethod(m: MethodNode) =
    isPublic(m.access) && !isSynthetic(m.access) && !m.name.startsWith("<") &&
      !m.name.contains("$anonfun") && !m.name.contains("$default$") &&
      !m.name.contains("$$") && !m.name.endsWith("$")

  /** The compiler writes `copy` and `productArity` into every case class
    * (`Product` itself may come from a supertype, as for Catalyst nodes).
    */
  private def isCaseClass(c: ClassNode) = {
    val names = c.methods.asScala.map(_.name).toSet
    names("copy") && names("productArity")
  }

  def analyse(classes: Seq[ClassNode], named: Set[String], loader: ClassLoader): Result = {
    type Member = (ClassNode, MethodNode)
    val byName = classes.map(c => c.name -> c).toMap
    val all: Seq[Member] = classes.flatMap(c => c.methods.asScala.map(c -> _))
    val bySig = all.groupBy { case (_, m) => (m.name, m.desc) }
    val byMember = all.groupBy(_._2.name)
    val bySimpleName = classes.groupBy(c => displayName(c.name).split('.').last)

    // method signatures a library supertype declares; src/main classes in
    // the chain are walked through, library classes read via the loader
    val libSigs = mutable.Map[String, Set[(String, String)]]()
    def librarySigs(name: String): Set[(String, String)] = byName.get(name) match {
      case Some(c) => supers(c).flatMap(librarySigs).toSet
      case None => libSigs.getOrElseUpdate(name, {
        Option(loader.getResourceAsStream(name + ".class")).map { in =>
          val n = new ClassNode()
          try new ClassReader(in).accept(n, ClassReader.SKIP_CODE) finally in.close()
          val own = n.methods.asScala
            .filter(m => (m.access & (Opcodes.ACC_PRIVATE | Opcodes.ACC_STATIC)) == 0)
            .map(m => (m.name, m.desc)).toSet
          own ++ supers(n).flatMap(librarySigs)
        }.getOrElse(Set.empty)
      })
    }
    def supers(c: ClassNode): Seq[String] = Option(c.superName).toSeq ++ c.interfaces.asScala

    val reached = mutable.Set[(String, String, String)]()
    val reachedSigs = mutable.Set[(String, String)]()
    val reachedNames = mutable.Set[String]()
    val reachedClasses = mutable.Set[String]()
    val work = mutable.Queue[Member]()

    def method(c: ClassNode, m: MethodNode): Unit =
      if (reached.add((c.name, m.name, m.desc))) { work += ((c, m)); reachClass(c.name) }

    def reachClass(name: String): Unit = byName.get(name).foreach { c =>
      if (reachedClasses.add(name)) {
        val lib = supers(c).flatMap(librarySigs).toSet
        // a case class's accessors: Spark encoders call them reflectively
        val fields = if (isCaseClass(c)) c.fields.asScala.map(_.name).toSet else Set.empty[String]
        c.methods.asScala.foreach { m =>
          val isStatic = (m.access & Opcodes.ACC_STATIC) != 0
          if (m.name.startsWith("<") || (!isStatic && lib((m.name, m.desc))) ||
              (fields(m.name) && m.desc.startsWith("()"))) method(c, m)
        }
        supers(c).foreach(reachClass)
      }
    }

    def reachType(t: Type): Unit = {
      val e = if (t.getSort == Type.ARRAY) t.getElementType else t
      if (e.getSort == Type.OBJECT) reachClass(e.getInternalName)
    }

    def reachSig(name: String, desc: String): Unit =
      if (reachedSigs.add((name, desc))) bySig.getOrElse((name, desc), Nil).foreach { case (c, m) => method(c, m) }

    def reachName(name: String): Unit = {
      bySimpleName.getOrElse(name, Nil).foreach(c => reachClass(c.name))
      if (reachedNames.add(name)) byMember.getOrElse(name, Nil).foreach { case (c, m) => method(c, m) }
    }

    def ref(owner: String, name: String, desc: String): Unit = {
      reachType(if (owner.startsWith("[")) Type.getType(owner) else Type.getObjectType(owner))
      if (name == "<init>")
        byName.get(owner).toSeq.flatMap(_.methods.asScala)
          .filter(m => m.name == name && m.desc == desc).foreach(m => method(byName(owner), m))
      else reachSig(name, desc)
    }

    def constant(v: Any): Unit = v match {
      case h: Handle => ref(h.getOwner, h.getName, h.getDesc)
      case t: Type if t.getSort != Type.METHOD => reachType(t)
      case s: String =>
        Ident.findAllIn(s).foreach(w => bySimpleName.getOrElse(w, Nil).foreach(c => reachClass(c.name)))
        if (Ident.pattern.matcher(s).matches) reachName(s)
        else Call.findAllMatchIn(s).foreach(m => reachName(m.group(1)))
      case _ =>
    }

    def scan(m: MethodNode): Unit = m.instructions.iterator.asScala.foreach {
      case i: MethodInsnNode => ref(i.owner, i.name, i.desc)
      case i: FieldInsnNode => reachType(Type.getObjectType(i.owner))
      case i: TypeInsnNode => reachType(if (i.desc.startsWith("[")) Type.getType(i.desc) else Type.getObjectType(i.desc))
      case i: MultiANewArrayInsnNode => reachType(Type.getType(i.desc))
      case i: LdcInsnNode => constant(i.cst)
      case i: InvokeDynamicInsnNode => constant(i.bsm); i.bsmArgs.foreach(constant)
      case _ =>
    }

    // roots
    all.foreach { case (c, m) =>
      if (m.name == "main" && m.desc == "([Ljava/lang/String;)V" &&
          (m.access & Opcodes.ACC_STATIC) != 0) method(c, m)
    }
    named.foreach(reachName)
    Keep.foreach { case (cls, member, _) =>
      val hits = all.filter { case (c, m) =>
        displayName(c.name) == cls && listableMethod(m) && keeps(member, m.name)
      }
      require(hits.nonEmpty, s"kept name $cls.$member matches no compiled member")
      hits.foreach { case (c, m) => method(c, m) }
    }

    while (work.nonEmpty) scan(work.dequeue()._2)

    // compiler output no source line declares: a case class companion's
    // synthesized apply/unapply, and the static forwarders a mirror class
    // gets for what its companion object only inherits (tupled, andThen)
    def boilerplate(c: ClassNode, m: MethodNode): Boolean = {
      val base = c.name.stripSuffix("$")
      val inherited = !c.name.endsWith("$") && (m.access & Opcodes.ACC_STATIC) != 0 &&
        byName.get(base + "$").exists(!_.methods.asScala.exists(o => o.name == m.name && o.desc == m.desc))
      val caseClass = byName.get(base).exists(isCaseClass)
      inherited || caseClass &&
        (m.name == "apply" && Type.getReturnType(m.desc).getDescriptor == s"L$base;" ||
          m.name == "unapply" && m.desc.startsWith(s"(L$base;)"))
    }

    val listable = all.filter { case (c, m) => listableClass(c) && listableMethod(m) && !boilerplate(c, m) }
      .groupBy { case (c, m) => displayName(c.name) + "." + m.name }
    val unreached = listable.collect {
      case (key, ms) if ms.forall { case (c, m) => !reached((c.name, m.name, m.desc)) } => key
    }
    Result(unreached.toSeq.sorted, listable.keySet)
  }
}
