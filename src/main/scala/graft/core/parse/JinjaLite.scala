package graft.core.parse

import scala.util.matching.Regex

/** Jinja-lite: the template subset dbt model files actually use, handled
  * with the same regex approach as the reference's rewrite/extraction
  * passes (`utilities/references.py:58-148`, `storage/jinja_blocks.py`).
  * No general Jinja evaluation — the fixture set bounds the surface
  * (SURVEY §7 "Jinja subset").
  */
object JinjaLite {

  final case class RefCall(project: Option[String], name: String, version: Option[Int])
  final case class SourceCall(sourceName: String, table: String)
  final case class JinjaBlock(kind: String, name: String, start: Int, end: Int, content: String)

  // quote-and-whitespace tolerant, like the reference's patterns
  val refRe: Regex =
    """\{\{\s*ref\s*\(\s*['"]([A-Za-z0-9_.\-]+)['"]\s*(?:,\s*['"]([A-Za-z0-9_.\-]+)['"]\s*)?(?:,\s*(?:v|version)\s*=\s*(\d+)\s*)?\)\s*\}\}""".r
  val sourceRe: Regex =
    """\{\{\s*source\s*\(\s*['"]([A-Za-z0-9_.\-]+)['"]\s*,\s*['"]([A-Za-z0-9_.\-]+)['"]\s*\)\s*\}\}""".r
  val varRe: Regex =
    """\{\{\s*var\s*\(\s*['"]([A-Za-z0-9_.\-]+)['"]\s*(?:,\s*([^)]*?)\s*)?\)\s*\}\}""".r
  val configRe: Regex = """\{\{\s*config\s*\(([\s\S]*?)\)\s*\}\}""".r
  val commentRe: Regex = """\{#[\s\S]*?#\}""".r
  val currentTimestampRe: Regex = """\{\{\s*current_timestamp\s*\(\s*\)\s*\}\}""".r
  val thisRe: Regex = """\{\{\s*this\s*\}\}""".r
  // value alternatives: quoted string, [list literal] (commas inside the
  // brackets must not split the kwarg), or a bare token
  private val kwargRe = """([A-Za-z_][A-Za-z0-9_]*)\s*=\s*('[^']*'|"[^"]*"|\[[^\]]*\]|[^,)\s]+)""".r

  def findRefs(code: String): Vector[RefCall] =
    refRe.findAllMatchIn(code).map { m =>
      val (proj, name) = if (m.group(2) != null) (Some(m.group(1)), m.group(2)) else (None, m.group(1))
      RefCall(proj, name, Option(m.group(3)).map(_.toInt))
    }.toVector

  /** Bare `ref('x')` / `ref('p', 'x')` strings (no `{{ }}`) — the form
    * YAML fields use (exposure depends_on, semantic-model/metric model). */
  private val bareRefRe: Regex =
    """ref\s*\(\s*['"]([A-Za-z0-9_.\-]+)['"]\s*(?:,\s*['"]([A-Za-z0-9_.\-]+)['"]\s*)?(?:,\s*(?:v|version)\s*=\s*(\d+)\s*)?\)""".r
  def findBareRefs(text: String): Vector[RefCall] =
    bareRefRe.findAllMatchIn(text).map { m =>
      val (proj, name) =
        if (m.group(2) != null) (Some(m.group(1)), m.group(2)) else (None, m.group(1))
      RefCall(proj, name, Option(m.group(3)).map(_.toInt))
    }.toVector

  private val bareSourceRe: Regex =
    """source\s*\(\s*['"]([A-Za-z0-9_.\-]+)['"]\s*,\s*['"]([A-Za-z0-9_.\-]+)['"]\s*\)""".r

  /** Bare `source('s', 't')` strings (no `{{ }}`) — unit-test `given:`
    * inputs use this form, like exposure depends_on uses bare refs. */
  def findBareSources(text: String): Vector[SourceCall] =
    bareSourceRe.findAllMatchIn(text)
      .map(m => SourceCall(m.group(1), m.group(2))).toVector

  def findSources(code: String): Vector[SourceCall] =
    sourceRe.findAllMatchIn(code).map(m => SourceCall(m.group(1), m.group(2))).toVector

  // Python models call `dbt.ref("m")` / `dbt.source("s", "t")` instead of
  // jinja expressions (`references.py:102-148` rewrites these forms)
  private val pyRefRe: Regex =
    """dbt\s*\.\s*ref\s*\(\s*['"]([A-Za-z0-9_.\-]+)['"]\s*(?:,\s*['"]([A-Za-z0-9_.\-]+)['"]\s*)?\)""".r
  private val pySourceRe: Regex =
    """dbt\s*\.\s*source\s*\(\s*['"]([A-Za-z0-9_.\-]+)['"]\s*,\s*['"]([A-Za-z0-9_.\-]+)['"]\s*\)""".r

  def findPythonRefs(code: String): Vector[RefCall] =
    pyRefRe.findAllMatchIn(code).map { m =>
      val (proj, name) =
        if (m.group(2) != null) (Some(m.group(1)), m.group(2)) else (None, m.group(1))
      RefCall(proj, name, None)
    }.toVector

  def findPythonSources(code: String): Vector[SourceCall] =
    pySourceRe.findAllMatchIn(code).map(m => SourceCall(m.group(1), m.group(2))).toVector

  /** `{{ config(k=v, ...) }}` kwargs as raw strings (quotes stripped). */
  def findConfig(code: String): Map[String, String] =
    configRe.findFirstMatchIn(code).map { m =>
      kwargRe.findAllMatchIn(m.group(1)).map { k =>
        k.group(1) -> k.group(2).stripPrefix("'").stripSuffix("'")
          .stripPrefix("\"").stripSuffix("\"")
      }.toMap
    }.getOrElse(Map.empty)

  /** Python models configure via `dbt.config(k=v, ...)`. */
  private val pyConfigRe: Regex = """dbt\s*\.\s*config\s*\(([\s\S]*?)\)""".r
  def findPythonConfig(code: String): Map[String, String] =
    pyConfigRe.findFirstMatchIn(code).map { m =>
      kwargRe.findAllMatchIn(m.group(1)).map { k =>
        k.group(1) -> k.group(2).stripPrefix("'").stripSuffix("'")
          .stripPrefix("\"").stripSuffix("\"")
      }.toMap
    }.getOrElse(Map.empty)

  /** `{% docs name %}…{% enddocs %}` / macro / test block spans
    * (`storage/jinja_blocks.py:20-72`). */
  def findBlocks(text: String, kind: String): Vector[JinjaBlock] = {
    // header chars: anything except a '%' that closes the tag — a bare
    // '%' inside a default value ('%Y-%m-%d') must not end the header
    val re = (s"""\\{%\\s*$kind\\s+([A-Za-z0-9_\\-]+)(?:[^%]|%(?!\\}))*%\\}([\\s\\S]*?)\\{%\\s*end$kind\\s*%\\}""").r
    re.findAllMatchIn(text).map { m =>
      JinjaBlock(kind, m.group(1), m.start, m.end, m.matched)
    }.toVector
  }

  /** Macro definitions: name, params (with defaults), body. */
  final case class MacroDef(name: String, params: Vector[(String, Option[String])], body: String)

  def findMacroDefs(text: String): Vector[MacroDef] = findDefs(text, "macro")

  /** `{% test name(model[, column_name]) %}` blocks — dbt custom generic
    * tests share the macro shape with a different keyword. */
  def findTestDefs(text: String): Vector[MacroDef] = findDefs(text, "test")

  private def findDefs(text: String, kind: String): Vector[MacroDef] = {
    val headRe = (s"""\\{%\\s*$kind\\s+([A-Za-z0-9_]+)\\s*\\(([^)]*)\\)\\s*%\\}""").r
    findBlocks(text, kind).flatMap { b =>
      headRe.findFirstMatchIn(b.content).map { h =>
        val params = h.group(2).split(",").toVector.map(_.trim).filter(_.nonEmpty).map { p =>
          p.split("=", 2) match {
            case Array(n, d) => n.trim -> Some(d.trim.stripPrefix("'").stripSuffix("'"))
            case Array(n) => n.trim -> None
          }
        }
        // h matched WITHIN b.content, so h.end is already
        // content-relative — subtracting the block's absolute start
        // crashed on any macro block not at file offset 0
        val body = b.content.substring(h.end)
          .replaceAll(s"""\\{%\\s*end$kind\\s*%\\}\\s*$$""", "").trim
        MacroDef(h.group(1), params, body)
      }
    }
  }

  /** Names of macros called as `{{ name(...) }}` (excluding builtins). */
  private val builtins = Set("ref", "source", "var", "config", "doc", "this", "is_incremental")
  private val callRe = """\{\{\s*([A-Za-z_][A-Za-z0-9_]*)\s*\(""".r
  def findMacroCalls(code: String): Vector[String] =
    callRe.findAllMatchIn(code).map(_.group(1)).filterNot(builtins).toVector.distinct

  // ------------------------------------------------------- control flow
  //
  // The reference inherits FULL Jinja from dbt-core (its macro surface is
  // enumerated at dbt_projects.py:330-347); real projects lean on
  // {% for %} to generate unions/pivots, {% set %} for shared literals,
  // and general {% if %}/{% elif %} beyond the is_incremental() special
  // case. This block-tree evaluator covers that surface: a tag scanner
  // builds nested For/If/Set nodes (unknown tags pass through as text),
  // and a small recursive-descent expression language evaluates
  // literals, lists, env names (incl. dotted loop.index/first/last),
  // range(), var(), is_incremental(), comparison/boolean operators, `in`,
  // arithmetic and `~` concatenation. `{{ expr }}` spans that evaluate
  // fully from the environment are rendered in place; spans that still
  // reference later passes (ref(), source(), macros) only get their bound
  // identifiers substituted as literals, so `{{ ref(tbl) }}` inside a
  // loop becomes `{{ ref('orders') }}` for the existing ref pass.

  sealed trait JVal {
    def truthy: Boolean = this match {
      case JBool(b) => b
      case JInt(n) => n != 0
      case JStr(s) => s.nonEmpty
      case JList(xs) => xs.nonEmpty
    }
    /** Raw interpolation form (strings unquoted) — what `{{ x }}` emits. */
    def render: String = this match {
      case JBool(b) => if (b) "True" else "False"
      case JInt(n) => n.toString
      case JStr(s) => s
      case JList(xs) => xs.map(_.literal).mkString("[", ", ", "]")
    }
    /** Literal form (strings quoted) — substitution INSIDE an expression. */
    def literal: String = this match {
      case JStr(s) => "'" + s.replace("'", "\\'") + "'"
      case other => other.render
    }
  }
  final case class JStr(s: String) extends JVal
  final case class JInt(n: Long) extends JVal
  final case class JBool(b: Boolean) extends JVal
  final case class JList(xs: Vector[JVal]) extends JVal

  private sealed trait CNode
  private final case class CText(s: String) extends CNode
  private final case class CFor(v: String, iter: String, body: Vector[CNode]) extends CNode
  private final case class CIf(branches: Vector[(Option[String], Vector[CNode])]) extends CNode
  private final case class CSet(name: String, expr: String) extends CNode

  private val tagRe: Regex = """\{%(-?)\s*([\s\S]*?)\s*(-?)%\}""".r
  private val exprSpanRe: Regex = """\{\{\s*([\s\S]*?)\s*\}\}""".r
  private val identRe: Regex = """[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z0-9_]+)*""".r

  /** Evaluate {% for %}/{% if %}/{% set %} over `code`. `env` seeds the
    * variable scope (project vars, typed); unknown tags and unresolvable
    * `{{ }}` spans pass through untouched for the later render passes. */
  def renderControlFlow(code: String, env: Map[String, JVal],
      isIncremental: Boolean = false): String = {
    val nodes = parseNodes(code)
    val sb = new StringBuilder
    evalNodes(nodes, scala.collection.mutable.Map(env.toSeq: _*), isIncremental, sb)
    sb.toString
  }

  private def parseNodes(code: String): Vector[CNode] = {
    // scan tags; unknown tag kinds are folded back into the text stream
    final case class Tag(kind: String, rest: String, start: Int, end: Int,
        trimL: Boolean, trimR: Boolean)
    val known = Set("for", "endfor", "if", "elif", "else", "endif", "set")
    val tags = tagRe.findAllMatchIn(code).flatMap { m =>
      val body = m.group(2)
      val kind = body.takeWhile(c => c.isLetter)
      val boundaryOk = body.length == kind.length || {
        val c = body.charAt(kind.length)
        !c.isLetterOrDigit && c != '_' // {% set_helper %} is NOT a set tag
      }
      if (known(kind) && boundaryOk)
        Some(Tag(kind, body.drop(kind.length).trim, m.start, m.end,
          m.group(1) == "-", m.group(3) == "-"))
      else None
    }.toVector

    // right-trim: a `-%}` tag swallows the following whitespace run
    def skipTrim(after: Int, ti: Int): Int =
      if (ti >= tags.length || !tags(ti).trimR) after
      else {
        var k = after
        while (k < code.length && code.charAt(k).isWhitespace) k += 1
        k
      }

    // recursive assembly over the flat tag list
    def build(from: Int, ti: Int, stopAt: Set[String]): (Vector[CNode], Int, Int, Option[Tag]) = {
      val out = Vector.newBuilder[CNode]
      var pos = from
      var i = ti
      while (i < tags.length) {
        val t = tags(i)
        var text = code.substring(pos, t.start)
        if (t.trimL) text = text.replaceAll("""[ \t]*\n?\s*$""", "")
        t.kind match {
          case k if stopAt(k) =>
            if (text.nonEmpty) out += CText(text)
            return (out.result(), t.end, i, Some(t))
          case "for" =>
            if (text.nonEmpty) out += CText(text)
            val (v, iter) = t.rest.split("\\bin\\b", 2) match {
              case Array(vv, it) => (vv.trim, it.trim)
              case _ => throw new IllegalArgumentException(s"bad for tag: ${t.rest}")
            }
            val (body, after, nextTi, stop) =
              build(skipTrim(t.end, i), i + 1, Set("endfor"))
            if (stop.isEmpty)
              throw new IllegalArgumentException("unterminated {% for %}")
            out += CFor(v, iter, body)
            pos = skipTrim(after, nextTi); i = nextTi + 1
          case "if" =>
            if (text.nonEmpty) out += CText(text)
            val branches = Vector.newBuilder[(Option[String], Vector[CNode])]
            var cond: Option[String] = Some(t.rest)
            var cur = (skipTrim(t.end, i), i + 1)
            var done = false
            while (!done) {
              val (body, after, nextTi, stop) =
                build(cur._1, cur._2, Set("elif", "else", "endif"))
              branches += ((cond, body))
              stop match {
                case Some(s) if s.kind == "elif" =>
                  cond = Some(s.rest); cur = (skipTrim(after, nextTi), nextTi + 1)
                case Some(s) if s.kind == "else" =>
                  cond = None; cur = (skipTrim(after, nextTi), nextTi + 1)
                case Some(s) if s.kind == "endif" =>
                  pos = skipTrim(after, nextTi); i = nextTi; done = true
                case _ =>
                  throw new IllegalArgumentException("unterminated {% if %}")
              }
            }
            out += CIf(branches.result()); i += 1
          case "set" =>
            if (text.nonEmpty) out += CText(text)
            t.rest.split("=", 2) match {
              case Array(n, e) => out += CSet(n.trim, e.trim)
              case _ => throw new IllegalArgumentException(s"bad set tag: ${t.rest}")
            }
            pos = skipTrim(t.end, i); i += 1
          case other =>
            throw new IllegalArgumentException(s"unbalanced {% $other %}")
        }
      }
      if (pos < code.length) out += CText(code.substring(pos))
      (out.result(), code.length, tags.length, None)
    }
    val (nodes, _, _, _) = build(0, 0, Set.empty)
    nodes
  }

  private def evalNodes(nodes: Vector[CNode],
      env: scala.collection.mutable.Map[String, JVal],
      isIncremental: Boolean, sb: StringBuilder): Unit =
    nodes.foreach {
      case CText(s) => sb.append(substituteSpans(s, env, isIncremental))
      case CSet(n, e) =>
        env(n) = evalExpr(e, env, isIncremental).getOrElse(
          throw new IllegalArgumentException(s"cannot evaluate {% set $n = $e %}"))
      case CIf(branches) =>
        branches.find { case (cond, _) =>
          cond.forall(c => evalExpr(c, env, isIncremental).getOrElse(
            throw new IllegalArgumentException(s"cannot evaluate {% if $c %}")).truthy)
        }.foreach { case (_, body) => evalNodes(body, env, isIncremental, sb) }
      case CFor(v, iterE, body) =>
        val iter = evalExpr(iterE, env, isIncremental) match {
          case Some(JList(xs)) => xs
          case Some(JStr(s)) => s.map(c => JStr(c.toString)).toVector
          case other => throw new IllegalArgumentException(
            s"{% for %} over non-list: $iterE ($other)")
        }
        val loopKeys = List("loop.index", "loop.index0", "loop.first",
          "loop.last", "loop.length", v)
        val saved = loopKeys.flatMap(k => env.get(k).map(k -> _))
        iter.zipWithIndex.foreach { case (item, idx) =>
          env(v) = item
          env("loop.index") = JInt(idx + 1L)
          env("loop.index0") = JInt(idx.toLong)
          env("loop.first") = JBool(idx == 0)
          env("loop.last") = JBool(idx == iter.size - 1)
          env("loop.length") = JInt(iter.size.toLong)
          evalNodes(body, env, isIncremental, sb)
        }
        loopKeys.foreach(env.remove)
        saved.foreach { case (k, vv) => env(k) = vv }
    }

  /** `{{ expr }}` spans: fully-evaluable → rendered value; otherwise bound
    * identifiers inside the span are replaced with their literals and the
    * span survives for the ref/source/macro passes. */
  private def substituteSpans(text: String,
      env: scala.collection.mutable.Map[String, JVal],
      isIncremental: Boolean): String =
    exprSpanRe.replaceAllIn(text, m => {
      val body = m.group(1)
      evalExpr(body, env, isIncremental) match {
        case Some(v) => Regex.quoteReplacement(v.render)
        case None =>
          Regex.quoteReplacement(s"{{ ${substituteIdents(body, env)} }}")
      }
    })

  /** Replace bound identifiers in an expression with their literal form,
    * quote-aware: names inside string literals, function-call names
    * (`name(`), kwarg names (`name=`) and attribute tails stay untouched.
    * Turns `ref(tbl)` with tbl='orders' into `ref('orders')`. */
  private def substituteIdents(body: String,
      env: scala.collection.Map[String, JVal]): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      if (c == '\'' || c == '"') {
        val q = c; sb.append(c); i += 1
        while (i < body.length && body.charAt(i) != q) { sb.append(body.charAt(i)); i += 1 }
        if (i < body.length) { sb.append(q); i += 1 }
      } else if (c.isLetter || c == '_') {
        val m = identRe.findPrefixMatchOf(body.substring(i)).get
        val name = m.matched
        val after = i + name.length
        val next = body.drop(after).dropWhile(_.isWhitespace).headOption
        val isCall = next.contains('(')
        val isKwarg = next.contains('=') &&
          !body.drop(after).dropWhile(_.isWhitespace).startsWith("==")
        env.get(name) match {
          case Some(v) if !isCall && !isKwarg => sb.append(v.literal)
          case _ => sb.append(name)
        }
        i = after
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  // -- expression language ------------------------------------------------

  /** None ⇔ the expression references something outside the environment
    * (a later render pass's name like `ref`); callers fall back to
    * identifier substitution. Genuine syntax errors also yield None —
    * the span then passes through unchanged, matching the pass-through
    * philosophy of the rest of JinjaLite. */
  private[parse] def evalExpr(src: String,
      env: scala.collection.Map[String, JVal],
      isIncremental: Boolean): Option[JVal] =
    try Some(new ExprParser(src, env, isIncremental).parse())
    catch { case _: Exception => None }

  private final class ExprParser(src: String,
      env: scala.collection.Map[String, JVal], isIncremental: Boolean) {
    private var p = 0
    private def ws(): Unit = while (p < src.length && src.charAt(p).isWhitespace) p += 1
    private def peek(s: String): Boolean = { ws(); src.startsWith(s, p) }
    private def eat(s: String): Boolean = { ws(); if (src.startsWith(s, p)) { p += s.length; true } else false }
    private def peekWord(w: String): Boolean = {
      ws()
      src.startsWith(w, p) && (p + w.length == src.length ||
        !src.charAt(p + w.length).isLetterOrDigit)
    }
    private def eatWord(w: String): Boolean =
      if (peekWord(w)) { p += w.length; true } else false

    def parse(): JVal = {
      val v = ternary()
      ws()
      if (p != src.length) sys.error(s"trailing input at $p in: $src")
      v
    }

    /** Jinja inline conditional: `A if COND [else B]` (no else → empty
      * string, Jinja's silent-undefined rendering of the common
      * `{{ "," if not loop.last }}` separator idiom). */
    private def ternary(): JVal = {
      val v = pipeExpr()
      if (eatWord("if")) {
        val cond = pipeExpr()
        val alt = if (eatWord("else")) ternary() else JStr("")
        if (cond.truthy) v else alt
      } else v
    }

    /** Filter chain: `expr | name[(args)]`, lowest precedence. */
    private def pipeExpr(): JVal = {
      var v = orExpr()
      ws()
      while (p < src.length && src.charAt(p) == '|' &&
          !src.startsWith("||", p)) {
        p += 1
        ws()
        val m = identRe.findPrefixMatchOf(src.substring(p))
          .getOrElse(sys.error("filter name expected after |"))
        val name = m.matched
        p += name.length
        ws()
        val args =
          if (p < src.length && src.charAt(p) == '(') {
            eat("(")
            val b = Vector.newBuilder[JVal]
            ws()
            if (!eat(")")) {
              b += orExpr()
              while (eat(",")) b += orExpr()
              if (!eat(")")) sys.error("expected ) after filter args")
            }
            b.result()
          } else Vector.empty
        v = applyFilter(name, v, args)
        ws()
      }
      v
    }

    private def applyFilter(name: String, v: JVal, args: Vector[JVal]): JVal =
      (name, v, args) match {
        case ("upper", JStr(x), Vector()) => JStr(x.toUpperCase)
        case ("lower", JStr(x), Vector()) => JStr(x.toLowerCase)
        case ("trim", JStr(x), Vector()) => JStr(x.trim)
        case ("length", JStr(x), Vector()) => JInt(x.length.toLong)
        case ("length", JList(xs), Vector()) => JInt(xs.size.toLong)
        case ("join", JList(xs), Vector(JStr(sep))) =>
          JStr(xs.map(_.render).mkString(sep))
        case ("join", JList(xs), Vector()) => JStr(xs.map(_.render).mkString)
        case ("first", JList(xs), Vector()) => xs.headOption.getOrElse(JStr(""))
        case ("last", JList(xs), Vector()) => xs.lastOption.getOrElse(JStr(""))
        case ("default", JStr(""), Vector(d)) => d
        case ("default", x, Vector(_)) => x
        case ("replace", JStr(x), Vector(JStr(a), JStr(b))) => JStr(x.replace(a, b))
        case ("string", x, Vector()) => JStr(x.render)
        case ("int", JStr(x), Vector()) => JInt(x.trim.toLong)
        case ("int", JInt(n), Vector()) => JInt(n)
        case _ => sys.error(s"unsupported filter: $name on $v")
      }

    private def orExpr(): JVal = {
      var v = andExpr()
      while (eatWord("or")) { val r = andExpr(); v = JBool(v.truthy || r.truthy) }
      v
    }
    private def andExpr(): JVal = {
      var v = notExpr()
      while (eatWord("and")) { val r = notExpr(); v = JBool(v.truthy && r.truthy) }
      v
    }
    private def notExpr(): JVal =
      if (eatWord("not")) JBool(!notExpr().truthy) else cmpExpr()

    private def cmpExpr(): JVal = {
      val l = addExpr()
      def cmp(op: (Int, Int) => Boolean): JVal = {
        val r = addExpr()
        (l, r) match {
          case (JInt(a), JInt(b)) => JBool(op(a.compare(b), 0))
          case (JStr(a), JStr(b)) => JBool(op(a.compare(b), 0))
          case _ => sys.error(s"uncomparable: $l vs $r")
        }
      }
      if (eat("==")) { val r = addExpr(); JBool(l == r) }
      else if (eat("!=")) { val r = addExpr(); JBool(l != r) }
      else if (eat("<=")) cmp(_ <= _)
      else if (eat(">=")) cmp(_ >= _)
      else if (eat("<")) cmp(_ < _)
      else if (eat(">")) cmp(_ > _)
      else if (peekWord("not") && { val save = p; eatWord("not"); val isIn = peekWord("in"); p = save; isIn }) {
        eatWord("not"); eatWord("in")
        val r = addExpr()
        r match {
          case JList(xs) => JBool(!xs.contains(l))
          case JStr(s) => JBool(!s.contains(l.render))
          case _ => sys.error("`not in` needs list/str")
        }
      }
      else if (eatWord("in")) {
        val r = addExpr()
        r match {
          case JList(xs) => JBool(xs.contains(l))
          case JStr(s) => JBool(s.contains(l.render))
          case _ => sys.error("`in` needs list/str")
        }
      }
      else l
    }

    private def addExpr(): JVal = {
      var v = mulExpr()
      var done = false
      while (!done) {
        if (eat("~")) { val r = mulExpr(); v = JStr(v.render + r.render) }
        else if (eat("+")) {
          val r = mulExpr()
          v = (v, r) match {
            case (JInt(a), JInt(b)) => JInt(a + b)
            case (JStr(a), JStr(b)) => JStr(a + b)
            case (JList(a), JList(b)) => JList(a ++ b)
            case _ => sys.error(s"cannot +: $v, $r")
          }
        } else if (peek("-") && !peek("-%")) {
          eat("-"); val r = mulExpr()
          v = (v, r) match {
            case (JInt(a), JInt(b)) => JInt(a - b)
            case _ => sys.error(s"cannot -: $v, $r")
          }
        } else done = true
      }
      v
    }

    private def mulExpr(): JVal = {
      var v = unary()
      var done = false
      while (!done) {
        if (eat("*")) { val r = unary(); (v, r) match {
          case (JInt(a), JInt(b)) => v = JInt(a * b)
          case _ => sys.error("cannot *")
        } }
        else if (eat("%")) { val r = unary(); (v, r) match {
          case (JInt(a), JInt(b)) => v = JInt(a % b)
          case _ => sys.error("cannot %")
        } }
        else if (eat("//")) { val r = unary(); (v, r) match {
          case (JInt(a), JInt(b)) => v = JInt(Math.floorDiv(a, b))
          case _ => sys.error("cannot //")
        } }
        else done = true
      }
      v
    }

    private def unary(): JVal =
      if (eat("-")) unary() match {
        case JInt(n) => JInt(-n)
        case _ => sys.error("cannot negate")
      } else primary()

    private def primary(): JVal = {
      ws()
      if (p >= src.length) sys.error("unexpected end")
      val c = src.charAt(p)
      if (c == '(') { eat("("); val v = orExpr(); if (!eat(")")) sys.error("expected )"); v }
      else if (c == '[') {
        eat("[")
        val xs = Vector.newBuilder[JVal]
        ws()
        if (!eat("]")) {
          xs += orExpr()
          while (eat(",")) xs += orExpr()
          if (!eat("]")) sys.error("expected ]")
        }
        JList(xs.result())
      }
      else if (c == '\'' || c == '"') {
        val quote = c; p += 1
        val sb = new StringBuilder
        while (p < src.length && src.charAt(p) != quote) {
          if (src.charAt(p) == '\\' && p + 1 < src.length) { sb.append(src.charAt(p + 1)); p += 2 }
          else { sb.append(src.charAt(p)); p += 1 }
        }
        if (p >= src.length) sys.error("unterminated string")
        p += 1
        JStr(sb.toString)
      }
      else if (c.isDigit) {
        val start = p
        while (p < src.length && src.charAt(p).isDigit) p += 1
        JInt(src.substring(start, p).toLong)
      }
      else if (c.isLetter || c == '_') {
        val m = identRe.findPrefixMatchOf(src.substring(p)).getOrElse(sys.error("bad ident"))
        val name = m.matched
        p += name.length
        ws()
        if (p < src.length && src.charAt(p) == '(') {
          eat("(")
          val args = Vector.newBuilder[JVal]
          ws()
          if (!eat(")")) {
            args += orExpr()
            while (eat(",")) args += orExpr()
            if (!eat(")")) sys.error("expected )")
          }
          call(name, args.result())
        } else name match {
          case "true" | "True" => JBool(true)
          case "false" | "False" => JBool(false)
          case "none" | "None" => JStr("")
          case _ => env.getOrElse(name, sys.error(s"unbound name: $name"))
        }
      }
      else sys.error(s"unexpected char '$c'")
    }

    private def call(name: String, args: Vector[JVal]): JVal = name match {
      case "range" => args match {
        case Vector(JInt(n)) => JList((0L until n).map(JInt.apply).toVector)
        case Vector(JInt(a), JInt(b)) => JList((a until b).map(JInt.apply).toVector)
        case _ => sys.error("range(int[, int])")
      }
      case "is_incremental" => JBool(isIncremental)
      case "var" => args match {
        case Vector(JStr(n)) =>
          env.getOrElse(n, sys.error(s"undefined var: $n"))
        case Vector(JStr(n), default) => env.getOrElse(n, default)
        case _ => sys.error("var(name[, default])")
      }
      case other => sys.error(s"unknown function: $other")
    }
  }

  /** Typed view of the string var map for the control-flow environment:
    * integers become JInt, true/false JBool, everything else JStr. */
  def typedEnv(vars: Map[String, String]): Map[String, JVal] =
    vars.map { case (k, v) =>
      // numeric coercion only when it round-trips exactly: within int64
      // range (≤18 digits) and no leading zeros — "007" and 23-digit
      // account ids stay strings and render verbatim
      k -> (if (v.matches("-?(0|[1-9]\\d{0,17})")) JInt(v.toLong)
      else if (v == "true" || v == "True") JBool(true)
      else if (v == "false" || v == "False") JBool(false)
      else JStr(v))
    }

  // ------------------------------------------------------------ rendering

  /** Spark-native expansions of the dbt-utils macros the fixture projects
    * lean on (public semantics from dbt-labs/dbt-utils):
    *  - `generate_surrogate_key([cols…])` → md5 over '-'-joined coalesced
    *    string casts with dbt-utils' null placeholder
    *  - `date_spine(part, start, end)` → a generated series `date_<part>`
    *    from start (inclusive) to end (exclusive)
    */
  private val surrogateKeyRe: Regex =
    """\{\{\s*dbt_utils\s*\.\s*generate_surrogate_key\s*\(\s*\[([^\]]*)\]\s*\)\s*\}\}""".r
  private val dateSpineRe: Regex =
    """\{\{\s*dbt_utils\s*\.\s*date_spine\s*\(\s*'([a-z]+)'\s*,\s*"([^"]*)"\s*,\s*"([^"]*)"\s*\)\s*\}\}""".r

  def expandDbtUtils(code: String): String = {
    var out = surrogateKeyRe.replaceAllIn(code, m => {
      val cols = m.group(1).split(",").toVector.map(_.trim)
        .map(_.stripPrefix("'").stripSuffix("'").stripPrefix("\"").stripSuffix("\""))
        .filter(_.nonEmpty)
      val parts = cols.map(c =>
        s"coalesce(cast($c as string), '_dbt_utils_surrogate_key_null_')")
      Regex.quoteReplacement(s"md5(concat_ws('-', ${parts.mkString(", ")}))")
    })
    out = dateSpineRe.replaceAllIn(out, m => {
      val part = m.group(1)
      val start = m.group(2)
      val end = m.group(3)
      // dbt-utils spines are start-inclusive, end-EXCLUSIVE
      Regex.quoteReplacement(
        s"select explode(sequence(cast($start as date), " +
          s"cast($end as date) - interval 1 $part, interval 1 $part)) " +
          s"as date_$part")
    })
    out
  }

  /** Split a macro arg list on TOP-LEVEL commas only (list literals and
    * quoted strings may contain commas). */
  private[parse] def splitArgs(s: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var depth = 0
    var quote: Char = 0
    val cur = new StringBuilder
    s.foreach { c =>
      if (quote != 0) { cur.append(c); if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"' => quote = c; cur.append(c)
        case '[' | '(' => depth += 1; cur.append(c)
        case ']' | ')' => depth -= 1; cur.append(c)
        case ',' if depth == 0 => out += cur.toString; cur.clear()
        case _ => cur.append(c)
      }
    }
    if (cur.nonEmpty) out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Expand user macro calls (textual substitution of params into body,
    * fixpoint with depth cap). Params substitute in BOTH expression spans
    * (`{{ p }}`, cleaned of quotes — string interpolation) and control
    * tags (`{% for x in p %}`, raw — the expression evaluator needs the
    * literal form); call args split on top-level commas so list literals
    * pass through whole. */
  def expandMacros(code: String, macros: Map[String, MacroDef], depth: Int = 5): String = {
    if (depth <= 0) return code
    var out = code
    macros.values.foreach { md =>
      val call = (s"""\\{\\{\\s*${md.name}\\s*\\(([\\s\\S]*?)\\)\\s*\\}\\}""").r
      out = call.replaceAllIn(out, m => {
        val args = splitArgs(m.group(1))
        val (kw, pos) = args.partition(
          _.matches("""(?s)[A-Za-z_][A-Za-z0-9_]*\s*=[^=].*"""))
        val kwMap = kw.map { a =>
          val Array(k, v) = a.split("=", 2); k.trim -> v.trim
        }.toMap
        var body = md.body
        md.params.zipWithIndex.foreach { case ((p, default), i) =>
          val value = kwMap.getOrElse(p,
            if (i < pos.size) pos(i) else default.getOrElse(""))
          val clean = value.stripPrefix("'").stripSuffix("'").stripPrefix("\"").stripSuffix("\"")
          body = body.replaceAll(s"""\\{\\{\\s*$p\\s*\\}\\}""",
            Regex.quoteReplacement(clean))
          // bare param name inside {% ... %} tags → raw arg text
          // (quote-aware: a string literal that happens to equal another
          // param's name must not be rewritten)
          body = tagRe.replaceAllIn(body, tm =>
            Regex.quoteReplacement(replaceWordOutsideQuotes(tm.matched, p, value)))
        }
        Regex.quoteReplacement(body)
      })
    }
    if (out == code) out else expandMacros(out, macros, depth - 1)
  }

  /** Replace whole-word occurrences of `word` with `replacement`, leaving
    * quoted string literals untouched. */
  private def replaceWordOutsideQuotes(text: String, word: String,
      replacement: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (c == '\'' || c == '"') {
        val q = c
        sb.append(c); i += 1
        while (i < text.length && text.charAt(i) != q) { sb.append(text.charAt(i)); i += 1 }
        if (i < text.length) { sb.append(q); i += 1 }
      } else if ((c.isLetter || c == '_') &&
          text.startsWith(word, i) &&
          (i == 0 || { val p = text.charAt(i - 1); !p.isLetterOrDigit && p != '_' }) &&
          (i + word.length == text.length || {
            val n = text.charAt(i + word.length); !n.isLetterOrDigit && n != '_'
          })) {
        sb.append(replacement); i += word.length
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** `{% if is_incremental() %}…{% endif %}` — keep or drop the span. */
  private val incrementalRe =
    """\{%\s*if\s+is_incremental\s*\(\s*\)\s*%\}([\s\S]*?)\{%\s*endif\s*%\}""".r
  def renderIncremental(code: String, isIncremental: Boolean): String =
    incrementalRe.replaceAllIn(code, m =>
      if (isIncremental) Regex.quoteReplacement(m.group(1)) else "")

  /** Full render to executable SQL: macros → incremental-if → ref/source →
    * var → this → config stripped → doc stripped. */
  def render(code: String,
      resolveRef: RefCall => String,
      resolveSource: SourceCall => String,
      vars: Map[String, String] = Map.empty,
      thisRelation: Option[String] = None,
      macros: Map[String, MacroDef] = Map.empty,
      isIncremental: Boolean = false): String = {
    // jinja comments vanish before anything else (the fixture's
    // orders.sql carries {# ... {{ this }} ... #} commentary)
    var out = commentRe.replaceAllIn(code, "")
    out = expandDbtUtils(out)
    out = expandMacros(out, macros)
    // loop/branch/assignment evaluation AFTER macro expansion (macro
    // bodies contribute control tags) and BEFORE ref/source resolution
    // (loops emit `{{ ref(x) }}` spans with the loop var substituted).
    // is_incremental() evaluates natively here — the old regex pre-pass
    // (renderIncremental) mangled NESTED {% if %} blocks by matching the
    // first {% endif %} non-greedily, so it is no longer in the pipeline.
    // But ref()/source() calls INSIDE control tags — the very common
    // {% set rel = ref('stg') %} idiom — resolve FIRST, to quoted
    // relation-name literals the evaluator treats as plain strings
    // (dbt itself resolves refs during render, so a set-bound ref is a
    // string there too); likewise target.name binds to the profile
    // target (vars override, 'default' like dbt's default profile).
    val tagSpanRe = """\{%(?:[^%]|%(?!\}))*%\}""".r
    out = tagSpanRe.replaceAllIn(out, tm => Regex.quoteReplacement {
      var s = tm.matched
      s = bareRefRe.replaceAllIn(s, m => {
        val (proj, name) =
          if (m.group(2) != null) (Some(m.group(1)), m.group(2))
          else (None, m.group(1))
        Regex.quoteReplacement(
          "'" + resolveRef(RefCall(proj, name,
            Option(m.group(3)).map(_.toInt))) + "'")
      })
      s = bareSourceRe.replaceAllIn(s, m => Regex.quoteReplacement(
        "'" + resolveSource(SourceCall(m.group(1), m.group(2))) + "'"))
      s
    })
    val cfEnv = typedEnv(vars) ++ Map(
      "target.name" -> JStr(vars.getOrElse("target.name",
        vars.getOrElse("target", "default"))))
    out = renderControlFlow(out, cfEnv, isIncremental)
    out = refRe.replaceAllIn(out, m => {
      val (proj, name) =
        if (m.group(2) != null) (Some(m.group(1)), m.group(2)) else (None, m.group(1))
      Regex.quoteReplacement(resolveRef(RefCall(proj, name, Option(m.group(3)).map(_.toInt))))
    })
    out = sourceRe.replaceAllIn(out, m =>
      Regex.quoteReplacement(resolveSource(SourceCall(m.group(1), m.group(2)))))
    out = varRe.replaceAllIn(out, m => {
      val name = m.group(1)
      val default = Option(m.group(2)).map(_.trim.stripPrefix("'").stripSuffix("'"))
      Regex.quoteReplacement(vars.get(name).orElse(default).getOrElse(
        throw new IllegalArgumentException(s"undefined var: $name")))
    })
    // var values may themselves carry jinja (the fixture's
    // truncate_timespan_to is "{{ current_timestamp() }}"): resolve the
    // builtin expression forms after substitution
    out = currentTimestampRe.replaceAllIn(out, "current_timestamp()")
    out = thisRe.replaceAllIn(out, _ => Regex.quoteReplacement(
      thisRelation.getOrElse(throw new IllegalArgumentException("`this` outside incremental"))))
    out = configRe.replaceAllIn(out, "")
    out
  }
}
