package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Name-reference reachability over main sources.
  *
  * A member is a member-level `def`, `val`, `var`, `object`, `class` or
  * `trait`: one declared at the top level of a file or directly in an
  * object, class or trait body (not a local, not a constructor
  * parameter). Its key is its owner chain and name (`Dedup.dropDupesAgainst`,
  * `NgramLm.KnLm`). Comments are stripped before anything is matched;
  * identifiers inside string literals count as references, so a class
  * named in a conf string is reached.
  *
  * Reachability is the closure of NAMES: a member is reached when its
  * simple name appears in a root or in the body of a reached member, and
  * reaching a member reaches the templates that enclose it. There is no
  * type or overload resolution, so two members that share a name are
  * reached together: the scan errs toward "reached" whenever names
  * collide. `override` and `implicit` members, and members that Scala
  * calls by convention (`apply`, `unapply`, `update`, `toString`,
  * `equals`, `hashCode`, `main`), belong to their owner: they are reached
  * with it and never reported on their own.
  *
  * A member's body runs from its declaration to the next line indented no
  * deeper than the declaration (a line opening with `}`, `)` or `]` at
  * the same depth still belongs to it), so the scan assumes the sources'
  * consistent indentation.
  */
object Reachability {

  /** A source file: a label for messages, and its text. */
  final case class Source(path: String, text: String)

  /** What [[check]] finds: unreached members with no allowlist entry, and
    * allowlist entries that are reached without the allowlist or name no
    * member.
    */
  final case class Report(unlisted: Seq[String], stale: Seq[String])

  private final case class Member(key: String, name: String, at: String,
                                  parent: Int, transparent: Boolean,
                                  refs: mutable.Set[String])

  private val Ident = "[A-Za-z_][A-Za-z0-9_]*".r
  private val Token = """[A-Za-z_][A-Za-z0-9_]*|[{}()\[\]]|[!#%&*+\-/:<=>?@\\^|~]+""".r
  private val Decl = Set("def", "val", "var", "object", "class", "trait")
  private val Templates = Set("object", "class", "trait")
  private val ByConvention =
    Set("apply", "unapply", "unapplySeq", "update", "toString", "equals", "hashCode", "main")

  /** `text` with every comment and every string and char literal blanked
    * (newlines kept, so offsets and lines survive), and the identifiers
    * that appeared inside string literals, with their offsets.
    */
  private[graft] def strip(text: String): (String, Seq[(Int, String)]) = {
    val n = text.length
    val code = text.toCharArray
    val inStrings = mutable.ArrayBuffer.empty[(Int, String)]
    def blank(from: Int, to: Int): Unit =
      for (k <- from until math.min(to, n) if code(k) != '\n') code(k) = ' '
    def isIdentChar(c: Char) = c.isLetterOrDigit || c == '_'
    // `${ ... }` inside an interpolated string: returns the index after its `}`
    def splice(from: Int): Int = {
      var depth = 1
      var j = from
      while (j < n && depth > 0) text(j) match {
        case '{' => depth += 1; j += 1
        case '}' => depth -= 1; j += 1
        case '"' => j = string(j)
        case _ => j += 1
      }
      j
    }
    // a string literal opening at `from`: returns the index after it
    def string(from: Int): Int = {
      val interpolated = from > 0 && isIdentChar(text(from - 1))
      if (text.startsWith("\"\"\"", from)) {
        var j = from + 3
        while (j < n && !text.startsWith("\"\"\"", j))
          j = if (interpolated && text.startsWith("${", j)) splice(j + 2) else j + 1
        j = math.min(n, j + 3)
        while (j < n && text(j) == '"') j += 1
        j
      } else {
        var j = from + 1
        while (j < n && text(j) != '"' && text(j) != '\n')
          j = if (text(j) == '\\') j + 2
              else if (interpolated && text.startsWith("${", j)) splice(j + 2)
              else j + 1
        math.min(n, j + 1)
      }
    }
    var i = 0
    while (i < n) {
      if (text.startsWith("//", i)) {
        val j = text.indexOf('\n', i)
        val end = if (j < 0) n else j
        blank(i, end); i = end
      } else if (text.startsWith("/*", i)) {
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0)
          if (text.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (text.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        blank(i, j); i = j
      } else if (text(i) == '"') {
        val j = string(i)
        Ident.findAllMatchIn(text.substring(i, j))
          .foreach(m => inStrings += ((i + m.start, m.matched)))
        blank(i, j); i = j
      } else if (text(i) == '\'' && i + 2 < n &&
                 (text(i + 2) == '\'' || text(i + 1) == '\\')) {
        val j = text.indexOf('\'', i + 2)
        val end = if (j < 0) n else j + 1
        blank(i, end); i = end
      } else i += 1
    }
    (new String(code), inStrings.toSeq)
  }

  /** Every member of `src`, appended to `members` (whose indices are
    * global), with each identifier of the file credited to the innermost
    * enclosing non-transparent member, or to `loose` when no member
    * encloses it.
    */
  private def scanFile(src: Source, members: mutable.ArrayBuffer[Member],
                       loose: mutable.Set[String]): Unit = {
    val (code, inStrings) = strip(src.text)
    val lineStarts = (0 +: code.indices.filter(code(_) == '\n').map(_ + 1)).toArray
    def lineOf(off: Int): Int = {
      val k = java.util.Arrays.binarySearch(lineStarts, off)
      if (k >= 0) k else -k - 2
    }
    def indentOf(line: Int): Option[(Int, Char)] = {
      val end = if (line + 1 < lineStarts.length) lineStarts(line + 1) else code.length
      (lineStarts(line) until end).find(k => !code(k).isWhitespace)
        .map(k => (k - lineStarts(line), code(k)))
    }
    // a member's body ends where a later line is indented no deeper
    def endOf(off: Int): Int = {
      val line = lineOf(off)
      val depth = indentOf(line).fold(0)(_._1)
      (line + 1 until lineStarts.length).find { l =>
        indentOf(l).exists { case (d, c) => d < depth || (d == depth && !"})]".contains(c)) }
      }.fold(code.length)(lineStarts(_))
    }

    val tokens = Token.findAllMatchIn(code).map(m => (m.start, m.matched)).toIndexedSeq
    // (start, end, member index) of this file's members, in source order
    val spans = mutable.ArrayBuffer.empty[(Int, Int, Int)]
    // open braces: the template member a brace opens (-1: a block), and
    // the paren depth outside it
    val braces = mutable.Stack.empty[(Int, Int)]
    var parens = 0
    var pending = -1 // a template declared, its `{` not yet seen
    def memberLevel = parens == braces.headOption.fold(0)(_._2) &&
      braces.headOption.forall(_._1 >= 0)
    for (((off, tok), k) <- tokens.zipWithIndex) tok match {
      case "(" | "[" => parens += 1
      case ")" | "]" => parens -= 1
      case "{" => braces.push((pending, parens)); pending = -1
      case "}" => if (braces.nonEmpty) braces.pop(); pending = -1
      case "=" if memberLevel => pending = -1
      case kw if Decl(kw) && memberLevel && k + 1 < tokens.length &&
                 Ident.matches(tokens(k + 1)._2) =>
        val name = tokens(k + 1)._2
        val parent = braces.headOption.fold(-1)(_._1)
        val line = lineOf(off)
        val prefix = code.substring(lineStarts(line), off)
        val transparent = ByConvention(name) ||
          Ident.findAllIn(prefix).exists(w => w == "override" || w == "implicit")
        val key = if (parent < 0) name else s"${members(parent).key}.$name"
        val end = spans.find(_._3 == parent).fold(endOf(off))(p => math.min(endOf(off), p._2))
        members += Member(key, name, s"${src.path}:${line + 1}", parent, transparent,
          mutable.Set.empty)
        spans += ((off, end, members.length - 1))
        pending = if (Templates(kw)) members.length - 1 else -1
      case _ =>
    }

    val idents = (tokens.filter(t => Ident.matches(t._2)) ++ inStrings).sortBy(_._1)
    val open = mutable.Stack.empty[(Int, Int, Int)]
    var next = 0
    for ((off, id) <- idents) {
      while (open.nonEmpty && open.top._2 <= off) open.pop()
      while (next < spans.length && spans(next)._1 <= off) {
        while (open.nonEmpty && open.top._2 <= spans(next)._1) open.pop()
        if (!members(spans(next)._3).transparent) open.push(spans(next))
        next += 1
      }
      open.headOption.fold(loose += id)(s => members(s._3).refs += id)
    }
  }

  /** Checks that every member of `main` is reached from the roots: the
    * files of `main` that `isRoot` accepts, and `external` (code outside
    * `main` that calls into it). A member on `allow` may stay unreached,
    * together with everything declared in it; what it references counts
    * as reached, so a kept reference form keeps its helpers. An `allow`
    * entry is stale when the roots reach it without the allowlist, or when
    * it names no member.
    */
  def check(main: Seq[Source], isRoot: Source => Boolean, external: Seq[Source],
            allow: Set[String]): Report = {
    val members = mutable.ArrayBuffer.empty[Member]
    val rootNames = mutable.Set.empty[String]
    val rootMembers = mutable.Set.empty[Int]
    for (src <- main) {
      val loose = mutable.Set.empty[String]
      val first = members.length
      scanFile(src, members, loose)
      if (isRoot(src)) {
        rootNames ++= loose
        (first until members.length).foreach { m =>
          rootMembers += m; rootNames ++= members(m).refs
        }
      }
    }
    for (src <- external) {
      val (code, inStrings) = strip(src.text)
      rootNames ++= Ident.findAllIn(code) ++ inStrings.map(_._2)
    }

    def reach(seeds: Iterable[Int]): Array[Boolean] = {
      val reached = Array.fill(members.length)(false)
      val names = mutable.Set.empty[String] ++ rootNames
      def mark(m: Int): Unit = if (m >= 0 && !reached(m)) {
        reached(m) = true
        names ++= members(m).refs
        mark(members(m).parent)
      }
      seeds.foreach(mark)
      var grew = true
      while (grew) {
        grew = false
        for (m <- members.indices if !reached(m) && !members(m).transparent &&
             names(members(m).name)) { mark(m); grew = true }
      }
      // a transparent member lives and dies with its owner
      for (m <- members.indices if members(m).transparent)
        reached(m) = members(m).parent < 0 || reached(members(m).parent)
      reached
    }
    // report an unreached member only where its owner is reached: an
    // unreached object stands for everything in it
    def unreached(reached: Array[Boolean]): Seq[Member] = members.indices
      .filter(m => !reached(m) && (members(m).parent < 0 || reached(members(m).parent)))
      .map(members)

    val byRoots = reach(rootMembers)
    val keys = members.map(_.key).toSet
    // an allowlisted object or class keeps everything declared in it
    def allowed(m: Int): Boolean =
      m >= 0 && (allow(members(m).key) || allowed(members(m).parent))
    val stale = allow.filter(k => !keys(k) ||
      members.indices.exists(m => members(m).key == k && byRoots(m)))
    val unlisted = unreached(reach(rootMembers ++ members.indices.filter(allowed)))
    Report(unlisted.map(m => s"${m.key} (${m.at})").distinct, stale.toSeq.sorted)
  }
}

/** Keeps main code reachable: every member of `src/main/scala` must be
  * reached by name from a registered query (`queries/`), a main, the
  * session extensions or the benchmark harness (`perfbench/src`), or
  * stand on the allowlist below with one of four reasons. Code that only
  * specs reach is deleted, not kept "for later"; see [[Reachability]] for
  * what the scan counts as reached.
  */
class ReachableSpec extends AnyFunSuite {
  import Reachability._

  private val Mains =
    Set("Bench", "Verify", "Plans", "Smoke", "ScaleData", "SparkEntry", "GraftExtensions")

  private def pinned(spec: String) = s"reference form pinned by $spec"
  private def paper(id: String) = s"paper operator $id"
  private val fake = "test fake"

  /** Members that no root reaches and that stay, each with its reason. */
  private val allowlist: Map[String, String] = Map(
    "TextFunctions.shinglesComposable" -> pinned("TextFunctionsSpec"),
    "Dsir.logwMicroColComposed" -> pinned("DsirSpec"),
    "FusionModels.Head.weightedScore" -> pinned("FusionModelsSpec"),
    "FusionModels.Head.seScore" -> pinned("FusionModelsSpec"),
    "NgramLm.scoreDocsBackoffJoined" -> pinned("NgramLmSpec"),
    "NgramLm.scoreDocsKnJoined" -> pinned("NgramLmSpec"),
    "NgramLm.scoreDocsKn3Joined" -> pinned("NgramLmSpec"),
    "TextClassifier.hashedFeaturesComposed" -> pinned("TextClassifierSpec"),
    "Dedup.minhashSignature" -> pinned("DedupSpec"),
    "Dedup.simhashMd5SignaturesViaAgg" -> pinned("DedupSpec"),
    "Dedup.duplicatedSpansComposed" -> pinned("DedupSpec"),
    "Dedup.removeDuplicatedSpansComposed" -> pinned("DedupSpec"),
    "Dedup.removeContaminatedSpansComposed" -> pinned("DedupSpec"),
    "Profile.vocabSketchComposed" -> pinned("ProfileSpec"),
    "Similarity.srpSignatureExpr" -> pinned("SimilaritySpec"),
    "Sources.readCsv" -> paper("A1 (CSV scan)"),
    "Sources.writeCsv" -> paper("A5 (CSV sink)"),
    "FusionModels.foldBatchNorm" -> paper("A6 (trained torch block reload)"),
    "ConfigIO" -> paper("A7 (YAML config scan)"),
    "Impute.nullAudit" -> paper("B2 (null predicate audit)"),
    "Sources.withSlideId" -> paper("C1 (stable slide_id key)"),
    "Encode.quantileBuckets" -> paper("D1 (continuous stratum discretization)"),
    "Metrics.recallByClass" -> paper("E5 (per-class recall)"),
    "StratifiedFolds.audit" -> paper("E6 (stratification audit)"),
    "Encode.oneHotArray" -> paper("F2 (list-valued one-hot)"),
    "FusionModels.metaFeatures" -> paper("H4 (fusion model metadata extractor)"),
    "FusionModels.weightedScore" -> paper("H4 (weighted fusion model)"),
    "MetaClassifier.gridSearch" -> paper("H5 (RF grid search)"),
    "MetaClassifier.perFoldEval" -> paper("H5 (per-fold RF train/eval)"),
    "TileScorer.ConstScorer" -> fake,
    "Multimodal.asMedia" -> fake,
  )

  private val Reason = "(reference form pinned by \\w+Spec|paper operator .+|test fake|reached implicitly or reflectively)".r

  private def sources(root: Path): Seq[Source] = {
    assert(Files.isDirectory(root), s"run from the project root: no $root")
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq.sortBy(_.toString)
      .map(p => Source(root.relativize(p).toString, Files.readString(p)))
  }

  test("every main member is reached from a query, a main or perfbench, or allowlisted with a reason") {
    val main = sources(Paths.get("src/main/scala"))
    def isRoot(s: Source) = s.path.startsWith("graft/queries/") ||
      Mains.exists(m => s.path == s"graft/$m.scala")
    val report = check(main, isRoot, sources(Paths.get("perfbench/src")), allowlist.keySet)
    val badReasons = allowlist.collect { case (k, r) if !Reason.matches(r) => s"$k: $r" }
    assert(badReasons.isEmpty, badReasons.mkString("allowlist reasons not of the four kinds:\n", "\n", ""))
    assert(report.unlisted.isEmpty,
      report.unlisted.mkString("unreached main members (delete them, or allowlist with a reason):\n", "\n", ""))
    assert(report.stale.isEmpty,
      report.stale.mkString("stale allowlist entries (now reached, or gone):\n", "\n", ""))
  }

  test("the scanner: a name only in comments is unreached, a root's names reach, stale entries fail") {
    val lib = Source("lib/Lib.scala",
      """package lib
        |
        |/** Nothing calls [[onlyInComment]]. */
        |object Lib {
        |  def used(x: Int): Int = helper(x) + 1
        |
        |  private def helper(x: Int): Int = x * 2
        |
        |  // onlyInComment is named here only
        |  def onlyInComment(): Unit = ()
        |
        |  /* a nested /* block */ comment: onlyInComment() */
        |  val text = "}{ // inside a string, not a comment"
        |
        |  override def toString: String = "Lib"
        |
        |  def kept(): Unit = ()
        |}
        |""".stripMargin)
    val app = Source("app/Main.scala",
      """package app
        |
        |object Main {
        |  // not lib.Lib.onlyInComment(): a commented-out call reaches nothing
        |  def main(args: Array[String]): Unit = println(lib.Lib.used(1) + lib.Lib.text)
        |}
        |""".stripMargin)
    val isRoot = (s: Source) => s.path.startsWith("app/")
    val report = check(Seq(lib, app), isRoot, Nil, Set("Lib.kept"))
    assert(report.unlisted.map(_.takeWhile(_ != ' ')) == Seq("Lib.onlyInComment"), report)
    assert(report.stale.isEmpty, report)
    // an entry the roots reach and an entry that names no member are stale
    assert(check(Seq(lib, app), isRoot, Nil, Set("Lib.kept", "Lib.used", "Lib.gone")).stale ==
      Seq("Lib.gone", "Lib.used"))
    // code outside the scanned tree is a root too
    val bench = Source("bench/B.scala", "object B { lib.Lib.onlyInComment() }")
    assert(check(Seq(lib, app), isRoot, Seq(bench), Set("Lib.kept")) == Report(Nil, Nil))
  }
}
