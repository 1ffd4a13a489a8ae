package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every member of `src/main` is reachable from a root: a `main` (the
  * CLIs, `Verify`, `Bench`, and through them every registered query),
  * a name perfbench's sources use, or an entry of [[ReachabilitySpec.Roots]].
  * Code that only specs call is checked by no oracle and timed by no
  * bench, so it is deleted or moved into the spec that uses it.
  *
  * The walk is textual. Comments are stripped (string literals are
  * kept: SQL and conf values name code too). A member is a `def`,
  * `val`, `var`, `object`, `class` or `trait` declared at the top level
  * or directly inside an `object`, `class` or `trait`; its text is its
  * declaration's lines, found by indentation, minus the lines of the
  * members nested in it. An `override`, `implicit`, `apply` or
  * `unapply` member is called by the framework or the compiler, not by
  * name, so its text counts as its owner's. Starting from the roots, a
  * reachable member makes reachable every member named by a word of its
  * text. Names are not resolved, so two members with one name are
  * reachable together: the walk can miss dead code, never flag live
  * code.
  */
class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec._

  private lazy val members = Members.of(Paths.get("src/main"))
  private lazy val perfbench = perfbenchWords(Paths.get("perfbench/jvm/src"))

  test("every member of src/main is reachable from a main, a registered query or perfbench") {
    val flagged = members.unreachable(perfbench, Roots)
    if (flagged.nonEmpty) fail(
      s"${flagged.size} member(s) of src/main that only specs (or nothing) reach — " +
        "delete them, or move them into the spec that uses them:\n" +
        flagged.map(_.where).mkString("\n"))
  }

  test("every root on the allowlist names a member that nothing else reaches") {
    val keys = members.all.map(_.key).toSet
    assert(Roots.filterNot(keys) === Set.empty[String], "allowlist names no member")
    val reached = Roots -- members.unreachable(perfbench, Set.empty).map(_.key)
    assert(reached === Set.empty[String], "allowlist entries reachable without it")
  }
}

object ReachabilitySpec {

  /** Entry points that no Scala code names: the CLI mains run by class
    * name (`runMain`), and the `Aggregator` methods Spark calls, which
    * implement abstract members without `override`. Keys are
    * `Owner.member`, or the bare name of a top-level definition.
    */
  val Roots: Set[String] = Set(
    "Smoke", "Verify", "Explain", "TimeQuery", "MakeSf", "ScaleProbe",
    "PcaPowerAgg.finish", "PcaPowerAgg.bufferEncoder", "PcaPowerAgg.outputEncoder")

  final case class Member(file: Path, line: Int, owner: Option[String], name: String) {
    def key: String = owner.fold(name)(o => s"$o.$name")
    def where: String = s"$file:$line $key"
  }

  private val DeclRe = ("""^(\s*)((?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|""" +
    """implicit\s+|lazy\s+|sealed\s+|abstract\s+|case\s+)*)(def|val|var|object|class|trait)\s+""" +
    """([A-Za-z_][A-Za-z0-9_]*)""").r
  private val Word = """[A-Za-z_][A-Za-z0-9_]*""".r
  private val Containers = Set("object", "class", "trait")

  private def sources(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(p => p.toString.endsWith(".scala")).toSeq.sorted
    finally s.close()
  }

  private def read(p: Path): String = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  /** `src` without its comments; strings and char literals are kept,
    * and a block comment leaves its newlines so line numbers hold.
    */
  def stripComments(src: String): String = {
    val out = new java.lang.StringBuilder(src.length)
    val n = src.length
    var i = 0
    def copyTo(j: Int): Unit = { out.append(src, i, j); i = j }
    while (i < n) {
      if (src.startsWith("\"\"\"", i)) {
        var j = src.indexOf("\"\"\"", i + 3)
        j = if (j < 0) n else j + 3
        while (j < n && src.charAt(j) == '"') j += 1
        copyTo(j)
      } else if (src.charAt(i) == '"') {
        var j = i + 1
        while (j < n && src.charAt(j) != '"' && src.charAt(j) != '\n')
          j += (if (src.charAt(j) == '\\') 2 else 1)
        copyTo(math.min(j + 1, n))
      } else if (src.charAt(i) == '\'' && i + 3 < n && src.charAt(i + 1) == '\\' &&
          src.indexOf('\'', i + 3) > 0) {
        copyTo(src.indexOf('\'', i + 3) + 1)
      } else if (src.charAt(i) == '\'' && i + 2 < n && src.charAt(i + 2) == '\'') {
        copyTo(i + 3)
      } else if (src.startsWith("//", i)) {
        val j = src.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (src.startsWith("/*", i)) {
        var j = src.indexOf("*/", i + 2)
        j = if (j < 0) n else j + 2
        src.substring(i, j).foreach(c => if (c == '\n') out.append('\n'))
        i = j
      } else copyTo(i + 1)
    }
    out.toString
  }

  /** The words of perfbench's sources, less the names it declares
    * itself (its private `seq1` map is not `Scalars.seq1`).
    */
  def perfbenchWords(root: Path): Set[String] = {
    val texts = sources(root).map(p => stripComments(read(p)))
    val declared = texts.flatMap(_.split("\n").flatMap(l => DeclRe.findPrefixMatchOf(l).map(_.group(4))))
    texts.flatMap(t => Word.findAllIn(t)).toSet -- declared
  }

  final class Members(val all: Seq[Member], text: Seq[mutable.ArrayBuffer[String]]) {

    /** Members that no root reaches: the `main`s, the members keyed by
      * `roots`, and the members named by `words` (which reach from
      * outside `src/main`).
      */
    def unreachable(words: Set[String], roots: Set[String]): Seq[Member] = {
      val byName = all.indices.groupBy(all(_).name)
      val seen = mutable.Set.empty[Int]
      val work = mutable.Stack.empty[Int]
      def reach(word: String): Unit =
        byName.getOrElse(word, Nil).foreach(k => if (seen.add(k)) work.push(k))
      reach("main")
      all.indices.filter(k => roots(all(k).key)).foreach(k => if (seen.add(k)) work.push(k))
      words.foreach(reach)
      while (work.nonEmpty)
        text(work.pop()).foreach(l => Word.findAllIn(l).foreach(reach))
      all.indices.filterNot(seen).map(all)
    }
  }

  object Members {

    private final case class Decl(line: Int, indent: Int, mods: String, kind: String, name: String)

    def of(root: Path): Members = {
      val all = mutable.ArrayBuffer.empty[Member]
      val text = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[String]]
      for (file <- sources(root)) {
        val lines = stripComments(read(file)).split("\n", -1)
        val decls = lines.indices.flatMap(i => DeclRe.findPrefixMatchOf(lines(i)).map(m =>
          Decl(i, m.group(1).length, m.group(2), m.group(3), m.group(4))))
        // a declaration ends before the next non-blank line indented no
        // deeper than it, closing braces and parens at its own indent
        // excepted
        val end = decls.map { d =>
          var j = d.line + 1
          def inside(l: String): Boolean = {
            val t = l.stripLeading
            val ind = l.length - t.length
            t.isEmpty || ind > d.indent || (ind == d.indent && "})".indexOf(t.head) >= 0)
          }
          while (j < lines.length && inside(lines(j))) j += 1
          j
        }
        val parent = decls.indices.map(k => (k - 1 to 0 by -1).find(p =>
          decls(p).line < decls(k).line && decls(k).line < end(p) &&
            decls(p).indent < decls(k).indent))
        // owner: the member whose text holds each declaration's lines
        val owner = new Array[Int](decls.size)
        for (k <- decls.indices) {
          val d = decls(k)
          parent(k) match {
            case Some(p) if !Containers(decls(p).kind) => owner(k) = owner(p)
            case Some(p) if d.mods.contains("override") || d.mods.contains("implicit") ||
                d.name == "apply" || d.name == "unapply" => owner(k) = owner(p)
            case _ =>
              owner(k) = all.size
              all += Member(file, d.line + 1, parent(k).map(p => decls(p).name), d.name)
              text += mutable.ArrayBuffer.empty[String]
          }
        }
        // innermost declaration wins: nested ones come later and overwrite
        val lineOwner = Array.fill(lines.length)(-1)
        for (k <- decls.indices; j <- decls(k).line until end(k)) lineOwner(j) = owner(k)
        // a declaration's own name is not a reference to it
        for (j <- lines.indices if lineOwner(j) >= 0)
          text(lineOwner(j)) +=
            DeclRe.findPrefixMatchOf(lines(j)).fold(lines(j))(m => lines(j).substring(m.end))
      }
      new Members(all.toSeq, text.toSeq)
    }
  }
}
