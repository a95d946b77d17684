package graft.selectors

import graft.core.TagHash
import scala.collection.mutable

/** Read access to the element under test. Implemented by the dispatcher
  * over the lexer's attribute outlines; string materialization is lazy.
  */
trait ElemView {
  def nameLower: String
  def nameHash: Long
  def isHtmlNs: Boolean
  def attrCount: Int
  def attrNameLower(i: Int): String
  def attrValue(i: Int): String
  /** Case-insensitive attr-name probe; implementations override with a
    * byte compare so unmatched attributes never materialize a string
    * (the dominant cost of universal attr predicates like [href]).
    */
  def attrNameEq(i: Int, lowerName: String): Boolean = attrNameLower(i) == lowerName
  /** Attribute-EXISTS probe: `[attr]` never needs the value, so the
    * default goes through [[attrNameEq]] only (byte-level in the
    * dispatcher's view) — materializing the value String per tag was the
    * hidden cost of universal existence predicates like `[href]`.
    */
  def attrExists(lowerName: String): Boolean = {
    var i = 0
    val n = attrCount
    while (i < n) {
      if (attrNameEq(i, lowerName)) return true
      i += 1
    }
    false
  }
  /** `.cls` check (case-sensitive ws-token membership in the class
    * attribute); implementations override with a byte scan so class
    * selectors never materialize the attribute value.
    */
  def hasClassToken(cls: String): Boolean = {
    var i = 0
    val n = attrCount
    while (i < n) {
      if (attrNameEq(i, "class"))
        return ElemView.containsWsToken(attrValue(i), cls, caseInsensitive = false)
      i += 1
    }
    false
  }
  /** `#id` check (exact value equality); byte-scan overridable like
    * [[hasClassToken]].
    */
  def idEquals(id: String): Boolean = {
    var i = 0
    val n = attrCount
    while (i < n) {
      if (attrNameEq(i, "id")) return attrValue(i) == id
      i += 1
    }
    false
  }
  /** 1-based index among the parent's children (nth-child). */
  def nthIndex: Int
  /** 1-based index among same-type siblings (nth-of-type). */
  def nthOfTypeIndex: Int
}

object ElemView {
  @inline private def isAttrWs(c: Char): Boolean =
    c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f'

  /** Whitespace-separated token membership (shared by the default
    * [[ElemView.hasClassToken]] and the attribute ~= operator).
    */
  def containsWsToken(v: String, tok: String, caseInsensitive: Boolean): Boolean = {
    if (tok.isEmpty) return false
    var i = 0
    val n = v.length
    while (i < n) {
      while (i < n && isAttrWs(v.charAt(i))) i += 1
      val start = i
      while (i < n && !isAttrWs(v.charAt(i))) i += 1
      if (i - start == tok.length && v.regionMatches(caseInsensitive, start, tok, 0, tok.length))
        return true
    }
    false
  }
}

/** One node of the compiled selector automaton: a compound-selector
  * predicate plus continuation edges. Equivalent of the reference's
  * `ExecutionBranch` (/root/reference/src/selectors_vm/program.rs:8-97):
  * `jumps` fire for immediate children (`>`), `hereditary` for all
  * descendants, `matchedIds` are the payload ids completed here.
  */
final class Instr(
    val simples: Array[SimpleSel],
    val matchedIds: Array[Int],
    val jumps: Array[Int],
    val hereditary: Array[Int]
) extends Serializable {
  /** True when the predicate can be decided from the tag name alone. */
  val nameOnly: Boolean = simples.forall {
    case _: TypeSel | UniversalSel => true
    case _                         => false
  }

  // compile-time specialization of the two dominant universal compound
  // shapes (bare `.cls` and bare `[attr]`): a direct byte-probe call
  // instead of the per-tag sealed-trait dispatch — universal entries
  // evaluate on EVERY tag, so the dispatch itself showed up in profiles
  private val soloClass: String = simples match {
    case Array(ClassSel(c)) => c
    case _ => null
  }
  private val soloAttrExists: String = simples match {
    case Array(a: AttrSel) if a.op == AttrOp.Exists => a.lowerName
    case _ => null
  }

  def eval(e: ElemView): Boolean = {
    if (soloClass != null) return e.hasClassToken(soloClass)
    if (soloAttrExists != null) return e.attrExists(soloAttrExists)
    var i = 0
    while (i < simples.length) {
      if (!Instr.evalSimple(simples(i), e)) return false
      i += 1
    }
    true
  }
}

object Instr {
  def evalSimple(s: SimpleSel, e: ElemView): Boolean = s match {
    case TypeSel(lower, hash) =>
      if (hash != TagHash.Empty || e.nameHash != TagHash.Empty) e.nameHash == hash
      else e.nameLower == lower
    case UniversalSel => true
    case IdSel(id) => e.idEquals(id)
    case ClassSel(cls) => e.hasClassToken(cls)
    case a: AttrSel => evalAttr(a, e)
    case NotSel(inner) =>
      var i = 0
      while (i < inner.length) {
        if (evalSimple(inner(i), e)) return false
        i += 1
      }
      true
    case n @ NthSel(ofType, _, _) =>
      n.hasIndex(if (ofType) e.nthOfTypeIndex else e.nthIndex)
  }

  private def attrVal(e: ElemView, lowerName: String): String = {
    var i = 0
    val n = e.attrCount
    while (i < n) {
      if (e.attrNameEq(i, lowerName)) return e.attrValue(i)
      i += 1
    }
    null
  }

  private def eqCase(a: String, b: String, ci: Boolean): Boolean =
    if (ci) a.equalsIgnoreCase(b) else a == b

  private def regionEq(hay: String, from: Int, needle: String, ci: Boolean): Boolean =
    hay.regionMatches(ci, from, needle, 0, needle.length)

  private def containsWsToken(v: String, tok: String, caseInsensitive: Boolean): Boolean =
    ElemView.containsWsToken(v, tok, caseInsensitive)

  /** Attr operators per /root/reference/src/selectors_vm/attribute_matcher.rs:118-218. */
  private def evalAttr(a: AttrSel, e: ElemView): Boolean = {
    if (a.op == AttrOp.Exists) return e.attrExists(a.lowerName)
    val v = attrVal(e, a.lowerName)
    if (v == null) return false
    // HtmlLegacy resolves per element, like the reference's
    // to_unconditional(.., is_html_element) (attribute_matcher.rs:18-36)
    val ci = a.caseMode == CaseMode.Insensitive ||
      (a.caseMode == CaseMode.HtmlLegacy && e.isHtmlNs)
    a.op match {
      case AttrOp.Eq => eqCase(v, a.value, ci)
      case AttrOp.Includes => containsWsToken(v, a.value, ci)
      case AttrOp.DashMatch =>
        eqCase(v, a.value, ci) ||
        (v.length > a.value.length && v.charAt(a.value.length) == '-' &&
          regionEq(v, 0, a.value, ci))
      case AttrOp.Prefix =>
        v.nonEmpty && a.value.nonEmpty && v.length >= a.value.length &&
        regionEq(v, 0, a.value, ci)
      case AttrOp.Suffix =>
        v.nonEmpty && a.value.nonEmpty && v.length >= a.value.length &&
        regionEq(v, v.length - a.value.length, a.value, ci)
      case AttrOp.Substring =>
        if (a.value.isEmpty) false
        else if (ci) {
          // ascii-case-insensitive indexOf
          val n = v.length - a.value.length
          var i = 0
          var found = false
          while (i <= n && !found) { found = regionEq(v, i, a.value, ci = true); i += 1 }
          found
        } else v.contains(a.value)
    }
  }
}

/** Compiled selector program: instruction array + entry points. Selector
  * prefixes are shared across the list via a trie keyed on structural
  * compound equality, like the reference's AST build
  * (/root/reference/src/selectors_vm/ast.rs:247-337).
  *
  * Immutable after construction — compile once on the driver, broadcast to
  * executors, share across tasks.
  */
final class Program private (
    val instrs: Array[Instr],
    val entryPoints: Array[Int],
    val enableNthOfType: Boolean,
    val hasOnlyNameOnlyPreds: Boolean
) extends Serializable {

  /** Scan-mode attribute policy (the static half of the reference's
    * two-phase evaluation, O1/O5): a start tag needs recorded attributes
    * iff some instruction could match or continue on it — matched
    * elements expose attributes to handlers, and attribute predicates
    * need values. Compounds without a TypeSel anchor (universal, bare
    * .class/#id/[attr]) force every tag. Conservative w.r.t. context
    * (a name anywhere in the program needs attrs everywhere), which
    * keeps the check O(1) per tag with no VM recovery points.
    */
  @transient lazy val scanAttrNeed: graft.core.AttrNeedTable = {
    var all = false
    val hashes = mutable.ArrayBuffer[Long]()
    val names = mutable.ArrayBuffer[String]()
    for (in <- instrs) {
      in.simples.collectFirst { case t: TypeSel => t } match {
        case Some(TypeSel(lower, hash)) =>
          if (hash != TagHash.Empty) hashes += hash else names += lower
        case None => all = true
      }
    }
    graft.core.AttrNeedTable(all, hashes.toSeq, names.toSeq)
  }
}

object Program {

  /** Compile a list of (selector source, payload match id). */
  def compile(selectors: Seq[(SelectorList, Int)]): Program = {
    // trie node under construction
    final class Node(val compound: Compound) {
      val matchedIds = mutable.ArrayBuffer[Int]()
      val childEdges = mutable.LinkedHashMap[Compound, Node]() // `>` edges
      val descEdges = mutable.LinkedHashMap[Compound, Node]() // descendant edges
      var index = -1
    }
    val roots = mutable.LinkedHashMap[Compound, Node]()
    var needNthOfType = false

    def usesNthOfType(c: Compound): Boolean = c.simples.exists {
      case NthSel(true, _, _)  => true
      case NotSel(in)          => in.exists { case NthSel(true, _, _) => true; case _ => false }
      case _                   => false
    }

    for ((list, id) <- selectors; complex <- list.selectors) {
      var node = roots.getOrElseUpdate(complex.compounds.head, new Node(complex.compounds.head))
      if (usesNthOfType(complex.compounds.head)) needNthOfType = true
      var k = 1
      while (k < complex.compounds.size) {
        val comp = complex.compounds(k)
        if (usesNthOfType(comp)) needNthOfType = true
        val edges =
          if (complex.combinators(k - 1) == Combinator.Child) node.childEdges else node.descEdges
        node = edges.getOrElseUpdate(comp, new Node(comp))
        k += 1
      }
      node.matchedIds += id
    }

    // assign indices (BFS) and flatten
    val all = mutable.ArrayBuffer[Node]()
    def visit(n: Node): Unit = {
      if (n.index < 0) {
        n.index = all.size; all += n
        n.childEdges.values.foreach(visit)
        n.descEdges.values.foreach(visit)
      }
    }
    roots.values.foreach(visit)

    val instrs = all.map { n =>
      new Instr(
        n.compound.simples.toArray,
        n.matchedIds.toArray,
        n.childEdges.values.map(_.index).toArray,
        n.descEdges.values.map(_.index).toArray
      )
    }.toArray

    val entry = roots.values.map(_.index).toArray
    new Program(instrs, entry, needNthOfType, instrs.forall(_.nameOnly))
  }

  def compileStrings(selectors: Seq[String]): Program =
    compile(selectors.zipWithIndex.map { case (s, i) => (SelectorParser.parse(s), i) })
}
