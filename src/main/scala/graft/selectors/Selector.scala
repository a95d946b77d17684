package graft.selectors

import graft.core.HtmlUtil

/** Parse error taxonomy, mirroring the reference's `SelectorError`
  * (/root/reference/src/selectors_vm/error.rs:7-60).
  */
final class SelectorParseException(val kind: String, msg: String)
    extends Exception(s"$kind: $msg")

object AttrOp {
  final val Exists = 0
  final val Eq = 1 // =
  final val Includes = 2 // ~=
  final val DashMatch = 3 // |=
  final val Prefix = 4 // ^=
  final val Suffix = 5 // $=
  final val Substring = 6 // *=
}

object CaseMode {
  /** No flag, attribute NOT in the HTML legacy list: case-sensitive. */
  final val Default = 0
  final val Insensitive = 1 // `i` flag
  final val ExplicitSensitive = 2 // `s` flag
  /** No flag, attribute IS in [[SelectorParser.LegacyCaseInsensitiveAttrs]]:
    * value comparison is ASCII-case-insensitive iff the element under
    * test is an HTML-namespace element. This mirrors the reference
    * end-to-end (round-5 adjudication): the selectors crate's parser
    * (selectors 0.37, `AttributeFlags::CaseSensitivityDependsOnName`)
    * emits `AsciiCaseInsensitiveIfInHtmlElementInHtmlDocument` for
    * unflagged attribute selectors whose lowercased name is in the HTML
    * spec's legacy case-insensitive set, and lol-html resolves it per
    * element via `to_unconditional(.., is_html_element)`
    * (/root/reference/src/selectors_vm/attribute_matcher.rs:18-36,56) —
    * so `[type=text]` DOES match `<input type=TEXT>` there, but not
    * `<svg><x type=TEXT>`.
    */
  final val HtmlLegacy = 3
}

sealed trait SimpleSel
case class TypeSel(lowerName: String, hash: Long) extends SimpleSel
case object UniversalSel extends SimpleSel
case class IdSel(id: String) extends SimpleSel
case class ClassSel(cls: String) extends SimpleSel
case class AttrSel(lowerName: String, op: Int, value: String, caseMode: Int) extends SimpleSel
/** `:not(<compound list>)` — combinators inside negation are rejected,
  * as in /root/reference/src/selectors_vm/parser.rs:127-131.
  */
case class NotSel(inner: Vector[SimpleSel]) extends SimpleSel
/** `:nth-child(An+B)` / `:nth-of-type(An+B)`; `:first-*` is `0n+1`. */
case class NthSel(ofType: Boolean, a: Int, b: Int) extends SimpleSel {
  /** `An+B` membership (reference: src/selectors_vm/ast.rs:13-38). */
  def hasIndex(idx: Int): Boolean = {
    val d = idx - b
    if (a == 0) d == 0 else d % a == 0 && d / a >= 0
  }
}

object Combinator {
  final val Descendant = 0
  final val Child = 1
}

case class Compound(simples: Vector[SimpleSel])
case class ComplexSel(compounds: Vector[Compound], combinators: Vector[Int])
case class SelectorList(selectors: Vector[ComplexSel])

/** Hand-rolled recursive-descent parser for the CSS selector subset the
  * reference supports (/root/reference/src/selectors_vm/parser.rs:254-280):
  * `*`, `E`, `#id`, `.class`, `[attr]` with `= ~= |= ^= $= *=` (+`i`/`s`
  * flags), `:not(compound)`, `:nth-child`, `:first-child`, `:nth-of-type`,
  * `:first-of-type`, descendant and `>` combinators, selector groups.
  * Sibling combinators, namespaces, and other pseudo-classes/elements are
  * rejected with the reference's error taxonomy.
  */
object SelectorParser {
  /** The HTML spec's legacy case-insensitive attribute set ("case-
    * sensitivity of selectors" — the list the selectors crate bakes into
    * `ascii_case_insensitive_html_attributes.rs`): unflagged attribute
    * VALUE comparisons against these names are ASCII-case-insensitive on
    * HTML-namespace elements (see [[CaseMode.HtmlLegacy]]).
    */
  val LegacyCaseInsensitiveAttrs: Set[String] = Set(
    "accept", "accept-charset", "align", "alink", "axis", "bgcolor",
    "charset", "checked", "clear", "codetype", "color", "compact",
    "declare", "defer", "dir", "direction", "disabled", "enctype", "face",
    "frame", "hreflang", "http-equiv", "lang", "language", "link", "media",
    "method", "multiple", "nohref", "noresize", "noshade", "nowrap",
    "readonly", "rel", "rev", "rules", "scope", "scrolling", "selected",
    "shape", "target", "text", "type", "valign", "valuetype", "vlink")

  def parse(s: String): SelectorList = new P(s).parseList()

  private final class P(s: String) {
    private var i = 0
    private def err(kind: String, msg: String) =
      throw new SelectorParseException(kind, s"$msg at pos $i in '$s'")

    private def eof: Boolean = i >= s.length
    private def peek: Char = if (eof) '\u0000' else s.charAt(i)

    private def skipWs(): Boolean = {
      var skipped = false
      var go = true
      while (go) {
        go = false
        while (!eof && (peek == ' ' || peek == '\t' || peek == '\n' || peek == '\r' || peek == '\f')) {
          i += 1; skipped = true; go = false
        }
        if (!eof && peek == '/' && i + 1 < s.length && s.charAt(i + 1) == '*') {
          val close = s.indexOf("*/", i + 2)
          if (close < 0) err("UnexpectedEnd", "unclosed comment")
          i = close + 2; skipped = true; go = true
        }
      }
      skipped
    }

    private def isIdentStart(c: Char): Boolean =
      c == '_' || c == '-' || Character.isLetter(c) || c > 127 || c == '\\'
    private def isIdentChar(c: Char): Boolean =
      isIdentStart(c) || (c >= '0' && c <= '9')

    private def parseIdent(): String = {
      if (eof || !isIdentStart(peek)) err("UnexpectedToken", "expected identifier")
      val sb = new StringBuilder
      // '-' may start an ident but '--' and '-<digit>' handling kept simple
      while (!eof && isIdentChar(peek)) {
        if (peek == '\\') {
          i += 1
          if (eof) err("UnexpectedEnd", "escape at end")
          val c = peek
          if (isHex(c)) {
            var hex = 0
            var n = 0
            while (!eof && isHex(peek) && n < 6) { hex = hex * 16 + hexVal(peek); i += 1; n += 1 }
            if (!eof && peek == ' ') i += 1
            sb.append(new String(Character.toChars(hex)))
          } else { sb.append(c); i += 1 }
        } else { sb.append(peek); i += 1 }
      }
      sb.toString
    }

    private def isHex(c: Char) = (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
    private def hexVal(c: Char) = if (c <= '9') c - '0' else (c | 0x20) - 'a' + 10

    private def parseString(): String = {
      val quote = peek
      i += 1
      val sb = new StringBuilder
      while (!eof && peek != quote) {
        if (peek == '\\') {
          i += 1
          if (!eof) { sb.append(peek); i += 1 }
        } else { sb.append(peek); i += 1 }
      }
      if (eof) err("UnexpectedEnd", "unclosed string")
      i += 1
      sb.toString
    }

    def parseList(): SelectorList = {
      val sels = Vector.newBuilder[ComplexSel]
      skipWs()
      if (eof) err("EmptySelector", "empty selector")
      sels += parseComplex()
      while ({ skipWs(); !eof && peek == ',' }) {
        i += 1; skipWs()
        sels += parseComplex()
      }
      skipWs()
      if (!eof) err("UnexpectedToken", s"trailing input '${s.substring(i)}'")
      SelectorList(sels.result())
    }

    private def parseComplex(): ComplexSel = {
      val compounds = Vector.newBuilder[Compound]
      val combinators = Vector.newBuilder[Int]
      compounds += parseCompound()
      var more = true
      while (more) {
        val hadWs = skipWs()
        if (eof || peek == ',') more = false
        else if (peek == '>') {
          i += 1; skipWs()
          combinators += Combinator.Child
          compounds += parseCompound()
        } else if (peek == '+') err("UnsupportedCombinator", "+")
        else if (peek == '~') err("UnsupportedCombinator", "~")
        else if (hadWs) {
          combinators += Combinator.Descendant
          compounds += parseCompound()
        } else more = false
      }
      ComplexSel(compounds.result(), combinators.result())
    }

    private def parseCompound(): Compound = {
      val simples = Vector.newBuilder[SimpleSel]
      var any = false
      // type or universal first
      if (!eof && peek == '*') { i += 1; simples += UniversalSel; any = true }
      else if (!eof && peek == '|') err("NamespacedSelector", "namespace")
      else if (!eof && isIdentStart(peek) && peek != '-') {
        val name = parseIdent()
        if (!eof && peek == '|') err("NamespacedSelector", "namespace")
        val lower = HtmlUtil.lowerAscii(name)
        simples += TypeSel(lower, graft.core.TagHash.of(lower))
        any = true
      }
      var more = true
      while (more && !eof) {
        peek match {
          case '#' =>
            i += 1; simples += IdSel(parseIdent()); any = true
          case '.' =>
            i += 1; simples += ClassSel(parseIdent()); any = true
          case '[' =>
            i += 1; simples += parseAttr(); any = true
          case ':' =>
            i += 1
            if (!eof && peek == ':') err("UnsupportedPseudoClassOrElement", "pseudo-element")
            simples += parsePseudo(allowNeg = true); any = true
          case _ => more = false
        }
      }
      if (!any) err("UnexpectedToken", "expected compound selector")
      Compound(simples.result())
    }

    private def parseAttr(): AttrSel = {
      skipWs()
      if (!eof && peek == '|') err("NamespacedSelector", "namespace")
      val name = parseIdent()
      if (!eof && peek == '|' && i + 1 < s.length && s.charAt(i + 1) != '=') err("NamespacedSelector", "namespace")
      skipWs()
      val lower = HtmlUtil.lowerAscii(name)
      if (!eof && peek == ']') { i += 1; return AttrSel(lower, AttrOp.Exists, "", CaseMode.Default) }
      val op = peek match {
        case '=' => i += 1; AttrOp.Eq
        case '~' => i += 2; AttrOp.Includes
        case '|' => i += 2; AttrOp.DashMatch
        case '^' => i += 2; AttrOp.Prefix
        case '$' => i += 2; AttrOp.Suffix
        case '*' => i += 2; AttrOp.Substring
        case _   => err("UnexpectedToken", s"bad attr operator '$peek'")
      }
      skipWs()
      val value =
        if (!eof && (peek == '"' || peek == '\'')) parseString()
        else parseIdent()
      skipWs()
      var caseMode =
        if (SelectorParser.LegacyCaseInsensitiveAttrs(lower)) CaseMode.HtmlLegacy
        else CaseMode.Default
      if (!eof && (peek == 'i' || peek == 'I')) { caseMode = CaseMode.Insensitive; i += 1; skipWs() }
      else if (!eof && (peek == 's' || peek == 'S')) { caseMode = CaseMode.ExplicitSensitive; i += 1; skipWs() }
      if (eof || peek != ']') err("UnexpectedToken", "expected ]")
      i += 1
      AttrSel(lower, op, value, caseMode)
    }

    private def parsePseudo(allowNeg: Boolean): SimpleSel = {
      val name = HtmlUtil.lowerAscii(parseIdent())
      name match {
        case "not" =>
          if (!allowNeg) err("UnsupportedPseudoClassOrElement", "nested :not")
          expect('(')
          skipWs()
          val inner = Vector.newBuilder[SimpleSel]
          var more = true
          while (more) {
            if (eof) err("UnexpectedEnd", "unclosed :not")
            peek match {
              case ')' => more = false
              case '*' => i += 1; inner += UniversalSel
              case '#' => i += 1; inner += IdSel(parseIdent())
              case '.' => i += 1; inner += ClassSel(parseIdent())
              case '[' => i += 1; inner += parseAttr()
              case ':' =>
                i += 1
                if (!eof && peek == ':') err("UnsupportedPseudoClassOrElement", "pseudo-element")
                inner += parsePseudo(allowNeg = false)
              case c if isIdentStart(c) =>
                val n = HtmlUtil.lowerAscii(parseIdent())
                inner += TypeSel(n, graft.core.TagHash.of(n))
              case ' ' | '\t' | '\n' | '\r' | '\f' =>
                // whitespace inside :not could precede ')' or indicate a
                // combinator (unsupported inside negation)
                skipWs()
                if (!eof && peek != ')') err("UnsupportedPseudoClassOrElement", "combinator in :not")
              case ',' => err("UnsupportedPseudoClassOrElement", "selector list in :not")
              case _ => err("UnexpectedToken", s"bad :not content '$peek'")
            }
          }
          expect(')')
          val in = inner.result()
          if (in.isEmpty) err("EmptySelector", "empty :not")
          NotSel(in)
        case "first-child" => NthSel(ofType = false, 0, 1)
        case "first-of-type" => NthSel(ofType = true, 0, 1)
        case "nth-child" => parseNth(ofType = false)
        case "nth-of-type" => parseNth(ofType = true)
        case "last-child" | "only-child" | "last-of-type" | "only-of-type" =>
          err("UnsupportedPseudoClassOrElement", name)
        case other => err("UnsupportedPseudoClassOrElement", other)
      }
    }

    private def expect(c: Char): Unit = {
      if (eof || peek != c) err("UnexpectedToken", s"expected '$c'")
      i += 1
    }

    /** `An+B` micro-grammar incl. `odd`, `even`, bare integers. */
    private def parseNth(ofType: Boolean): NthSel = {
      expect('(')
      skipWs()
      val start = i
      var depth = 1
      while (!eof && depth > 0) {
        if (peek == '(') depth += 1
        else if (peek == ')') depth -= 1
        if (depth > 0) i += 1
      }
      if (eof) err("UnexpectedEnd", "unclosed nth")
      val body = s.substring(start, i).trim.toLowerCase
      expect(')')
      val (a, b) = body match {
        case "odd"  => (2, 1)
        case "even" => (2, 0)
        case expr   => parseAnPlusB(expr)
      }
      NthSel(ofType, a, b)
    }

    private def parseAnPlusB(expr0: String): (Int, Int) = {
      val expr = expr0.replace(" ", "")
      val nIdx = expr.indexOf('n')
      if (nIdx < 0) {
        try (0, expr.toInt)
        catch { case _: NumberFormatException => err("UnexpectedToken", s"bad nth '$expr0'") }
      } else {
        val aStr = expr.substring(0, nIdx)
        val a =
          if (aStr.isEmpty || aStr == "+") 1
          else if (aStr == "-") -1
          else try aStr.toInt
          catch { case _: NumberFormatException => err("UnexpectedToken", s"bad nth '$expr0'") }
        val rest = expr.substring(nIdx + 1)
        val b =
          if (rest.isEmpty) 0
          else if (rest.startsWith("+") || rest.startsWith("-"))
            try rest.toInt
            catch { case _: NumberFormatException => err("UnexpectedToken", s"bad nth '$expr0'") }
          else err("UnexpectedToken", s"bad nth '$expr0'")
        (a, b)
      }
    }
  }
}
