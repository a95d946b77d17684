package graft.rewrite

import graft.core._
import graft.selectors._
import scala.collection.mutable

object ContentType {
  final val Html = 0
  final val Text = 1
}

/** Rewrite-path error taxonomy (reference RewritingError, src/lib.rs):
  * the two recoverable kinds a graceful bail-out can be enabled for.
  * Parsing ambiguity ([[graft.core.EngineBailoutException]]) is NEVER
  * recovered from — the whole point of strict mode is to refuse
  * uncertain markup (reference transform_stream/mod.rs:85-97) — so it
  * stays outside this hierarchy and always propagates.
  */
sealed abstract class RewritingError(msg: String, cause: Throwable)
    extends Exception(msg, cause) {
  def errorCode: String
}

final class MemoryLimitExceededError(val limit: Int, val requested: Int)
    extends RewritingError(s"memory limit exceeded (limit=$limit, requested=$requested)", null) {
  def errorCode: String = s"memory_limit_exceeded:$limit"
}

final class ContentHandlerError(cause: Throwable)
    extends RewritingError(s"content handler error: ${cause.getMessage}", cause) {
  def errorCode: String = "content_handler_error"
}

/** The BailOut rewritable unit (reference v3.0.0,
  * /root/reference/src/rewritable_units/bail_out.rs:23-72): handed to
  * bail-out handlers at the moment the rewriter abandons processing.
  * [[append]] lands bytes in the output BEFORE the raw flush of
  * remaining unparsed input — the only opportunity for content other
  * handlers have buffered (e.g. text withheld pending more input) to
  * reach the response. Sink order on a graceful bail-out:
  *   1. transformed bytes the rewriter already emitted normally,
  *   2. bytes appended here, in handler-registration order,
  *   3. the raw flush of the not-yet-emitted input suffix.
  * Valid only during the handler invocation.
  */
final class BailOut private[rewrite] (out: ByteBuf) {
  def append(content: String, contentType: Int): Unit =
    if (contentType == ContentType.Html) out.appendString(content)
    else out.appendEscaped(content)
}

/** Growable byte buffer output sink. */
final class ByteBuf(initial: Int = 1024) {
  private var buf = new Array[Byte](initial)
  private var n = 0
  def size: Int = n
  def reset(): Unit = n = 0
  private def ensure(extra: Int): Unit =
    if (n + extra > buf.length) {
      var cap = buf.length * 2
      while (cap < n + extra) cap *= 2
      buf = java.util.Arrays.copyOf(buf, cap)
    }
  def append(src: Array[Byte], from: Int, until: Int): Unit = {
    val l = until - from
    if (l > 0) { ensure(l); System.arraycopy(src, from, buf, n, l); n += l }
  }
  def appendString(s: String): Unit = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    ensure(b.length); System.arraycopy(b, 0, buf, n, b.length); n += b.length
  }
  /** Escape `&`, `<`, `>` (reference: src/html/mod.rs escape_body_text). */
  def appendEscaped(s: String): Unit = {
    var i = 0
    val sb = new java.lang.StringBuilder(s.length + 8)
    while (i < s.length) {
      s.charAt(i) match {
        case '&' => sb.append("&amp;")
        case '<' => sb.append("&lt;")
        case '>' => sb.append("&gt;")
        case c   => sb.append(c)
      }
      i += 1
    }
    appendString(sb.toString)
  }
  def toArray: Array[Byte] = java.util.Arrays.copyOf(buf, n)
  def toUtf8String: String = new String(buf, 0, n, java.nio.charset.StandardCharsets.UTF_8)
}

/** Receives streamed content chunks (reference StreamingHandlerSink,
  * /root/reference/src/rewritable_units/streaming_sink.rs:8-60): each
  * write is escaped per its content type and concatenated into the
  * output. Valid only during the [[StreamingHandler.writeAll]] call.
  */
trait StreamingSink {
  def writeStr(content: String, contentType: Int): Unit
}

/** Content provider for streaming mutations (the reference's
  * `streaming!` handlers, /root/reference/src/rewriter/settings.rs
  * streaming! + Element::streaming_*): invoked once at output
  * serialization time, writing any number of chunks — large generated
  * content never has to be built as one String.
  */
trait StreamingHandler {
  def writeAll(sink: StreamingSink): Unit
}

/** Ordered list of content chunks with front/back insertion
  * (reference DynamicString, src/rewritable_units/mutations.rs:108-193).
  * A chunk is either a (String, contentType) literal or a deferred
  * [[StreamingHandler]].
  */
final class DynamicString {
  private[rewrite] val chunks = new mutable.ArrayBuffer[(AnyRef, Int)](2)
  def pushBack(s: String, ct: Int): Unit = chunks += ((s, ct))
  def pushFront(s: String, ct: Int): Unit = chunks.insert(0, (s, ct))
  def pushBack(h: StreamingHandler): Unit = chunks += ((h, ContentType.Html))
  def pushFront(h: StreamingHandler): Unit = chunks.insert(0, (h, ContentType.Html))
  def clear(): Unit = chunks.clear()
  def isEmpty: Boolean = chunks.isEmpty
  def emitTo(out: ByteBuf): Unit = {
    var i = 0
    while (i < chunks.length) {
      chunks(i) match {
        case (s: String, ct) =>
          if (ct == ContentType.Html) out.appendString(s) else out.appendEscaped(s)
        case (h: StreamingHandler, _) =>
          h.writeAll(new StreamingSink {
            def writeStr(content: String, contentType: Int): Unit =
              if (contentType == ContentType.Html) out.appendString(content)
              else out.appendEscaped(content)
          })
        case _ => ()
      }
      i += 1
    }
  }
}

/** Per-token mutations (reference MutationsInner). */
final class Mutations {
  var contentBefore: DynamicString = _
  var replacement: DynamicString = _
  var contentAfter: DynamicString = _
  var removed = false
  def before(s: String, ct: Int): Unit = {
    if (contentBefore == null) contentBefore = new DynamicString
    contentBefore.pushBack(s, ct)
  }
  def after(s: String, ct: Int): Unit = {
    if (contentAfter == null) contentAfter = new DynamicString
    contentAfter.pushFront(s, ct)
  }
  def replace(s: String, ct: Int): Unit = {
    removed = true
    replacement = new DynamicString
    replacement.pushBack(s, ct)
  }
  def beforeStreaming(h: StreamingHandler): Unit = {
    if (contentBefore == null) contentBefore = new DynamicString
    contentBefore.pushBack(h)
  }
  def afterStreaming(h: StreamingHandler): Unit = {
    if (contentAfter == null) contentAfter = new DynamicString
    contentAfter.pushFront(h)
  }
  def replaceStreaming(h: StreamingHandler): Unit = {
    removed = true
    replacement = new DynamicString
    replacement.pushBack(h)
  }
  def remove(): Unit = removed = true
  /** Reset for instance reuse (the per-tag Element is pooled). */
  private[rewrite] def clearForReuse(): Unit = {
    contentBefore = null; replacement = null; contentAfter = null; removed = false
  }
}

/** Element API surface handed to element handlers — the subset of the
  * reference's `Element` (/root/reference/src/rewritable_units/element.rs)
  * needed for extraction and the golden corpora. Valid only during the
  * handler invocation.
  */
final class Element private[rewrite] () {
  private var input: Array[Byte] = _
  private var nameLower0: String = _
  private var attrs: AttrList = _
  private var canHaveContentV = false
  private var selfClosingV = false
  private var sourceStartV = 0
  private var sourceEndV = 0
  private var ns: Int = Ns.Html

  def canHaveContent: Boolean = canHaveContentV
  def selfClosing: Boolean = selfClosingV
  /** Start (inclusive) of the start tag's byte range in the source. */
  def sourceStart: Int = sourceStartV
  /** End (exclusive) of the start tag's byte range in the source input.
    * Mirrors the reference's `Element::source_location` — the range of
    * the START TAG; the element's end hasn't been parsed yet when the
    * handler runs (reference src/rewritable_units/element.rs:725-732,
    * src/base/spanned.rs:9-32).
    */
  def sourceEnd: Int = sourceEndV

  /** Re-arm the pooled instance for the next captured tag. One Element is
    * reused per Rewriter (the public contract has always been "valid only
    * during the handler invocation") — matched-dense workloads otherwise
    * allocate an Element + Mutations per match.
    */
  private[rewrite] def reset(input0: Array[Byte], nameLower: String, attrs0: AttrList,
                             canHaveContent0: Boolean, selfClosing0: Boolean,
                             sourceStart0: Int, sourceEnd0: Int, ns0: Int): Unit = {
    input = input0; nameLower0 = nameLower; attrs = attrs0
    canHaveContentV = canHaveContent0; selfClosingV = selfClosing0
    sourceStartV = sourceStart0; sourceEndV = sourceEnd0; ns = ns0
    startTagMutations.clearForReuse()
    endTagMutations = null
    shouldRemoveContent = false
    newTagName = null
    attrMods = null
    endTagUserHandlers = null
    attrPairsV = null
  }
  /** WHATWG namespace URI of the element (reference
    * `Element::namespace_uri`, src/html/namespace.rs:13-21).
    */
  def namespaceUri: String = ns match {
    case Ns.Svg    => "http://www.w3.org/2000/svg"
    case Ns.MathML => "http://www.w3.org/1998/Math/MathML"
    case _         => "http://www.w3.org/1999/xhtml"
  }

  private[rewrite] val startTagMutations = new Mutations
  private[rewrite] var endTagMutations: Mutations = _
  private[rewrite] var shouldRemoveContent = false

  def tagName: String = nameLower0

  private var attrPairsV: Array[(String, String)] = _
  private def attrPairs: Array[(String, String)] = {
    if (attrPairsV == null) {
      val out = new Array[(String, String)](attrs.count)
      var i = 0
      while (i < attrs.count) {
        val name = new String(input, attrs.nameStart(i), attrs.nameEnd(i) - attrs.nameStart(i),
          java.nio.charset.StandardCharsets.UTF_8)
        val v = new String(input, attrs.valueStart(i), attrs.valueEnd(i) - attrs.valueStart(i),
          java.nio.charset.StandardCharsets.UTF_8)
        out(i) = (HtmlUtil.lowerAscii(name), v)
        i += 1
      }
      attrPairsV = out
    }
    attrPairsV
  }

  def attributes: Seq[(String, String)] = attrPairs.toSeq
  /** Byte-level probe: looking up one attribute does NOT materialize the
    * whole pair list (handlers that read a single attribute — meta
    * charset detection, href capture — were paying 2·attrCount Strings).
    * Duplicate names resolve to the first occurrence, like the pairs.
    */
  def attr(lowerName: String): String = {
    var i = 0
    while (i < attrs.count) {
      if (HtmlUtil.eqIgnoreCase(input, attrs.nameStart(i), attrs.nameEnd(i), lowerName))
        return new String(input, attrs.valueStart(i), attrs.valueEnd(i) - attrs.valueStart(i),
          java.nio.charset.StandardCharsets.UTF_8)
      i += 1
    }
    null
  }
  def hasAttr(lowerName: String): Boolean = {
    var i = 0
    while (i < attrs.count) {
      if (HtmlUtil.eqIgnoreCase(input, attrs.nameStart(i), attrs.nameEnd(i), lowerName))
        return true
      i += 1
    }
    false
  }

  private def endMut: Mutations = {
    if (endTagMutations == null) endTagMutations = new Mutations
    endTagMutations
  }

  def before(content: String, ct: Int = ContentType.Html): Unit =
    startTagMutations.before(content, ct)

  def after(content: String, ct: Int = ContentType.Html): Unit =
    if (canHaveContent) {
      if (endMut.contentAfter == null) endMut.contentAfter = new DynamicString
      endMut.contentAfter.pushFront(content, ct)
    } else startTagMutations.after(content, ct)

  def prepend(content: String, ct: Int = ContentType.Html): Unit =
    if (canHaveContent) startTagMutations.after(content, ct) // push_front per reference

  def append(content: String, ct: Int = ContentType.Html): Unit =
    if (canHaveContent) {
      if (endMut.contentBefore == null) endMut.contentBefore = new DynamicString
      endMut.contentBefore.pushBack(content, ct)
    }

  def setInnerContent(content: String, ct: Int = ContentType.Html): Unit =
    if (canHaveContent) {
      removeContentInternal()
      if (startTagMutations.contentAfter == null) startTagMutations.contentAfter = new DynamicString
      startTagMutations.contentAfter.pushBack(content, ct)
    }

  // ---- streaming mutations (reference Element::streaming_before/after/
  // prepend/append/set_inner_content/replace + the streaming! macro) ----

  def streamingBefore(h: StreamingHandler): Unit =
    startTagMutations.beforeStreaming(h)

  def streamingAfter(h: StreamingHandler): Unit =
    if (canHaveContent) {
      if (endMut.contentAfter == null) endMut.contentAfter = new DynamicString
      endMut.contentAfter.pushFront(h)
    } else startTagMutations.afterStreaming(h)

  def streamingPrepend(h: StreamingHandler): Unit =
    if (canHaveContent) startTagMutations.afterStreaming(h)

  def streamingAppend(h: StreamingHandler): Unit =
    if (canHaveContent) {
      if (endMut.contentBefore == null) endMut.contentBefore = new DynamicString
      endMut.contentBefore.pushBack(h)
    }

  def streamingSetInnerContent(h: StreamingHandler): Unit =
    if (canHaveContent) {
      removeContentInternal()
      if (startTagMutations.contentAfter == null) startTagMutations.contentAfter = new DynamicString
      startTagMutations.contentAfter.pushBack(h)
    }

  /** Replace the whole element (tags + content) with new content. */
  def replace(content: String, ct: Int = ContentType.Html): Unit = {
    startTagMutations.replace(content, ct)
    if (canHaveContent) { removeContentInternal(); endMut.remove() }
  }

  def streamingReplace(h: StreamingHandler): Unit = {
    startTagMutations.replaceStreaming(h)
    if (canHaveContent) { removeContentInternal(); endMut.remove() }
  }

  private def removeContentInternal(): Unit = {
    if (startTagMutations.contentAfter != null) startTagMutations.contentAfter.clear()
    if (endTagMutations != null && endTagMutations.contentBefore != null)
      endTagMutations.contentBefore.clear()
    shouldRemoveContent = true
  }

  def remove(): Unit = {
    startTagMutations.remove()
    if (canHaveContent) { removeContentInternal(); endMut.remove() }
  }

  def removeAndKeepContent(): Unit = {
    startTagMutations.remove()
    if (canHaveContent) endMut.remove()
  }

  def removed: Boolean = startTagMutations.removed

  // ---- structural setters (reference Element set_tag_name /
  // set_attribute / remove_attribute) -------------------------------------

  private[rewrite] var newTagName: String = _
  private[rewrite] var attrMods: mutable.LinkedHashMap[String, Option[String]] = _
  private[rewrite] var endTagUserHandlers: mutable.ArrayBuffer[EndTagTok => Unit] = _

  /** Register a handler invoked with this element's end tag (the
    * reference's `Element::end_tag_handlers().push(...)`,
    * /root/reference/src/rewritable_units/element.rs:620-668). No-op for
    * elements that cannot have content (they have no end tag), matching
    * the reference's `EndTagError::NoEndTag` contract in spirit — a user
    * can check [[canHaveContent]] first.
    */
  def onEndTag(h: EndTagTok => Unit): Unit =
    if (canHaveContent) {
      if (endTagUserHandlers == null) endTagUserHandlers = new mutable.ArrayBuffer(2)
      endTagUserHandlers += h
    }

  /** Rename the element; the end tag (if any) is renamed too. */
  def setTagName(name: String): Unit = {
    require(name.nonEmpty && name.head.isLetter, s"invalid tag name '$name'")
    newTagName = HtmlUtil.lowerAscii(name)
  }

  def setAttribute(name: String, value: String): Unit = {
    if (attrMods == null) attrMods = mutable.LinkedHashMap()
    attrMods.update(HtmlUtil.lowerAscii(name), Some(value))
  }

  def removeAttribute(name: String): Unit = {
    if (attrMods == null) attrMods = mutable.LinkedHashMap()
    attrMods.update(HtmlUtil.lowerAscii(name), None)
  }

  private[rewrite] def structurallyModified: Boolean =
    newTagName != null || attrMods != null

  /** Re-serialize the start tag from parts (only when modified). */
  private[rewrite] def structuralStartTag(): String = {
    val name = if (newTagName != null) newTagName else nameLower0
    val sb = new java.lang.StringBuilder(32)
    sb.append('<').append(name)
    val done = mutable.HashSet[String]()
    for ((n, v) <- attrPairs) {
      val eff = if (attrMods != null && attrMods.contains(n)) attrMods(n) else Some(v)
      if (!done.contains(n)) {
        done += n
        eff.foreach { value =>
          sb.append(' ').append(n).append("=\"")
            .append(value.replace("&", "&amp;").replace("\"", "&quot;")).append('"')
        }
      }
    }
    if (attrMods != null)
      for ((n, vOpt) <- attrMods if !done.contains(n); v <- vOpt)
        sb.append(' ').append(n).append("=\"")
          .append(v.replace("&", "&amp;").replace("\"", "&quot;")).append('"')
    if (selfClosing && !canHaveContent) sb.append('/')
    sb.append('>')
    sb.toString
  }
}

/** Text chunk API (reference TextChunk). */
final class TextChunk private[rewrite] (
    val text: String,
    val textType: Int,
    val lastInTextNode: Boolean,
    val sourceStart: Int,
    val sourceEnd: Int
) {
  private[rewrite] val mutations = new Mutations
  def before(content: String, ct: Int = ContentType.Html): Unit = mutations.before(content, ct)
  def after(content: String, ct: Int = ContentType.Html): Unit = mutations.after(content, ct)
  def replace(content: String, ct: Int = ContentType.Html): Unit = mutations.replace(content, ct)
  def streamingBefore(h: StreamingHandler): Unit = mutations.beforeStreaming(h)
  def streamingAfter(h: StreamingHandler): Unit = mutations.afterStreaming(h)
  def streamingReplace(h: StreamingHandler): Unit = mutations.replaceStreaming(h)
  def remove(): Unit = mutations.remove()
}

/** Comment API (reference Comment). */
final class Comment private[rewrite] (val text: String, val sourceStart: Int, val sourceEnd: Int) {
  private[rewrite] val mutations = new Mutations
  def before(content: String, ct: Int = ContentType.Html): Unit = mutations.before(content, ct)
  def after(content: String, ct: Int = ContentType.Html): Unit = mutations.after(content, ct)
  def replace(content: String, ct: Int = ContentType.Html): Unit = mutations.replace(content, ct)
  def streamingBefore(h: StreamingHandler): Unit = mutations.beforeStreaming(h)
  def streamingAfter(h: StreamingHandler): Unit = mutations.afterStreaming(h)
  def streamingReplace(h: StreamingHandler): Unit = mutations.replaceStreaming(h)
  def remove(): Unit = mutations.remove()

  /** Set the comment body (reference `Comment::set_text`,
    * /root/reference/src/rewritable_units/tokens/comment.rs:85-107):
    * rejects any text the tokenizer would parse as a comment close —
    * `-->` or `--!>` anywhere, or a leading `>` / `->`.
    */
  def setText(newText: String): Unit = {
    require(!(newText.contains("-->") || newText.contains("--!>") ||
        newText.startsWith(">") || newText.startsWith("->")),
      "comment text contains a comment-closing sequence")
    mutations.replace(s"<!--$newText-->", ContentType.Html)
  }
}

/** Doctype API. `sourceStart`/`sourceEnd` are the byte range of the
  * doctype token in the source (reference `Doctype::source_location`,
  * /root/reference/src/rewritable_units/tokens/doctype.rs:112).
  */
final class DoctypeTok private[rewrite] (val name: String, val publicId: String,
                                         val systemId: String,
                                         val sourceStart: Int, val sourceEnd: Int) {
  private[rewrite] val mutations = new Mutations
  def remove(): Unit = mutations.remove()
}

/** End-tag API. `sourceStart`/`sourceEnd` are the byte range of the END
  * TAG that fired this handler (reference `EndTag::source_location`,
  * /root/reference/src/rewritable_units/tokens/end_tag.rs:183). For an
  * element closed IMPLICITLY by an ancestor's end tag, the handler fires
  * with that ancestor's end tag, so the range is the ancestor's —
  * matching the reference, where the end-tag token an element handler
  * receives is always the tag that actually closed it.
  */
final class EndTagTok private[rewrite] (val nameLower: String,
                                        val sourceStart: Int, val sourceEnd: Int) {
  private[rewrite] var mutations = new Mutations
  private[rewrite] var renamedTo: String = _
  def before(content: String, ct: Int = ContentType.Html): Unit = mutations.before(content, ct)
  def after(content: String, ct: Int = ContentType.Html): Unit = mutations.after(content, ct)
  def remove(): Unit = mutations.remove()
  def setName(name: String): Unit = renamedTo = name
}

final class DocumentEnd private[rewrite] (out: ByteBuf) {
  def append(content: String, ct: Int = ContentType.Html): Unit =
    if (ct == ContentType.Html) out.appendString(content) else out.appendEscaped(content)
}

/** Per-selector handlers (any may be null). */
final case class ElementHandlers(
    element: Element => Unit = null,
    comments: Comment => Unit = null,
    text: TextChunk => Unit = null
)

/** Document-level handlers (always active). */
final case class DocHandlers(
    doctype: DoctypeTok => Unit = null,
    comments: Comment => Unit = null,
    text: TextChunk => Unit = null,
    end: DocumentEnd => Unit = null
)

/** Handler registry with per-handler user refcounts
  * (reference HandlerVec, src/rewriter/handlers_dispatcher.rs:26-131).
  * `freeze()` snapshots the registration-time configuration; `reset()`
  * restores it between documents so one Rewriter instance serves a whole
  * partition.
  */
private[rewrite] final class HandlerVec[H >: Null <: AnyRef] {
  private[rewrite] var items = new Array[AnyRef](4)
  private[rewrite] var counts = new Array[Int](4)
  private var n = 0
  private var active = 0
  private var baseN = 0
  private var baseCounts: Array[Int] = _
  private var baseActive = 0

  def push(h: H, alwaysActive: Boolean): Int = {
    if (n == items.length) {
      items = java.util.Arrays.copyOf(items, n * 2)
      counts = java.util.Arrays.copyOf(counts, n * 2)
    }
    items(n) = h
    counts(n) = if (alwaysActive) 1 else 0
    if (alwaysActive) active += 1
    n += 1
    n - 1
  }
  def freeze(): Unit = {
    baseN = n
    baseCounts = java.util.Arrays.copyOf(counts, n)
    baseActive = active
  }
  /** Restore the registration-time configuration (per-document reset,
    * allocation-free).
    */
  def reset(): Unit = {
    java.util.Arrays.fill(items, baseN, n, null)
    n = baseN
    System.arraycopy(baseCounts, 0, counts, 0, baseN)
    active = baseActive
  }
  def inc(i: Int): Unit = { counts(i) += 1; active += 1 }
  def dec(i: Int): Unit = { counts(i) -= 1; active -= 1 }
  def hasActive: Boolean = active > 0
  def forEachActive(f: H => Unit): Unit = {
    var i = 0
    while (i < n) { if (counts(i) > 0) f(items(i).asInstanceOf[H]); i += 1 }
  }
  def doForEachActiveAndDeactivate(f: H => Unit): Unit = {
    var i = 0
    while (i < n) {
      if (counts(i) > 0) { f(items(i).asInstanceOf[H]); active -= counts(i); counts(i) = 0 }
      i += 1
    }
  }
  /** Run active handlers from the tail backwards down to the first active
    * one, then drop that whole tail (reference
    * `do_for_each_active_and_remove_tail`).
    */
  def doForEachActiveAndRemoveTail(f: H => Unit): Unit = {
    var first = -1
    var i = 0
    while (i < n && first < 0) { if (counts(i) > 0) first = i; i += 1 }
    if (first >= 0) {
      var j = n - 1
      while (j >= first) {
        if (counts(j) > 0) { active -= counts(j); f(items(j).asInstanceOf[H]) }
        j -= 1
      }
      java.util.Arrays.fill(items, first, n, null)
      n = first
    }
  }
  def size: Int = n
}

/** Extraction / scale hooks: emission on/off transitions (removed-content
  * intervals) and zero-copy text events, consumed by the span extractor.
  * `wantsRawText` turns on TEXT capture without any selector-scoped text
  * handler; `onRawText` then receives byte ranges with NO string
  * materialization (the hot path for whole-document extraction).
  */
trait RewriteListener {
  def onEmissionDisabled(pos: Int): Unit = ()
  def onEmissionEnabled(pos: Int): Unit = ()
  def wantsRawText: Boolean = false
  def onRawText(start: Int, end: Int, textType: Int): Unit = ()
  def onRawTextEnd(): Unit = ()
}

/** Streaming HTML rewriter: lexer -> tree-builder feedback -> selector VM
  * over the open-element stack -> handler dispatch -> mutation-aware
  * re-serialization. The Spark-side per-row engine; one instance per task,
  * reused across rows.
  *
  * Faithful to the reference's dispatch order
  * (/root/reference/src/transform_stream/dispatcher.rs:455-480): pending
  * text is flushed before the VM sees a tag; matching runs before token
  * materialization; emission gating is re-evaluated after every tag.
  */
final class Rewriter(
    selectorHandlers: Seq[(String, ElementHandlers)],
    docHandlers: Seq[DocHandlers] = Nil,
    strict: Boolean = true,
    listener: RewriteListener = null,
    produceOutput: Boolean = true,
    /** Treat `esi:include`/`esi:comment` as void elements so Edge Side
      * Include tags can be matched (selector `esi\:include`) and replaced
      * (reference D15, settings.rs with_enable_esi_tags; off by default
      * there too).
      */
    enableEsiTags: Boolean = false,
    /** Per-document byte budget for the REWRITE path (reference
      * MemorySettings.max_allowed_memory_usage through the rewriter,
      * settings.rs:829-941): trips when the input length exceeds it, and
      * mid-document when handler-appended output grows past it. <= 0
      * disables (the extraction path has its own budget, ExtractPolicy
      * .maxDocBytes).
      */
    maxDocBytes: Int = 0,
    /** reference with_graceful_bail_out_on_memory_limit_exceeded. */
    gracefulBailOutOnMemoryLimit: Boolean = false,
    /** reference with_graceful_bail_out_on_content_handler_error. */
    gracefulBailOutOnContentHandlerError: Boolean = false,
    /** Bail-out handlers (reference Settings::append_bail_out_handler,
      * settings.rs:40-41,160): run in registration order when a graceful
      * bail-out triggers, BEFORE the raw flush of remaining input; each
      * may append final bytes via [[BailOut.append]].
      */
    bailOutHandlers: Seq[(RewritingError, BailOut) => Unit] = Nil
) {
  // ---- compile ----
  private val program: Program = Program.compile(
    selectorHandlers.zipWithIndex.map { case ((sel, _), i) => (SelectorParser.parse(sel), i) }
  )

  private val nSel = selectorHandlers.size
  private val locElement = new Array[Int](nSel)
  private val locComment = new Array[Int](nSel)
  private val locText = new Array[Int](nSel)

  private val elementHandlers = new HandlerVec[Element => Unit]
  private val commentHandlers = new HandlerVec[Comment => Unit]
  private val textHandlers = new HandlerVec[TextChunk => Unit]
  private val doctypeHandlers = new HandlerVec[DoctypeTok => Unit]
  private val endHandlers = new HandlerVec[DocumentEnd => Unit]
  private val endTagHandlers = new HandlerVec[EndTagTok => Unit]

  {
    var i = 0
    for ((_, h) <- selectorHandlers) {
      locElement(i) = if (h.element != null) elementHandlers.push(h.element, alwaysActive = false) else -1
      locComment(i) = if (h.comments != null) commentHandlers.push(h.comments, alwaysActive = false) else -1
      locText(i) = if (h.text != null) textHandlers.push(h.text, alwaysActive = false) else -1
      i += 1
    }
    for (d <- docHandlers) {
      if (d.doctype != null) doctypeHandlers.push(d.doctype, alwaysActive = true)
      if (d.comments != null) commentHandlers.push(d.comments, alwaysActive = true)
      if (d.text != null) textHandlers.push(d.text, alwaysActive = true)
      if (d.end != null) endHandlers.push(d.end, alwaysActive = true)
    }
    elementHandlers.freeze(); commentHandlers.freeze(); textHandlers.freeze()
    doctypeHandlers.freeze(); endHandlers.freeze(); endTagHandlers.freeze()
  }

  private val lexer = new Lexer(strict)
  private val vm = new MatchingVm(program, enableEsiTags)
  private val out = new ByteBuf(4096)

  /** Scan mode (reference O1: two-mode parsing): the lexer skips
    * attribute recording for every tag the program cannot match
    * (Program.scanAttrNeed). Safe for EVERY workload, not just match-only
    * ones: unmatched tags' attribute outlines have no consumer — raw
    * passthrough serialization emits original input slices, text/comment/
    * doctype tokens carry no attributes, the raw-text listener reads byte
    * ranges, and every tag that CAN match (and therefore materialize an
    * Element or evaluate an attribute predicate) has its name in the
    * attr-need table, so its attributes are always recorded. Foreign
    * content and end tags are handled inside the lexer. Tests can force
    * the full attribute states via [[disableAttrSkip]].
    */
  private[graft] var disableAttrSkip = false

  /** Test hook: force the framed VM stack even for entry-only programs
    * (frameless-mode equivalence tests pin both paths byte-identical).
    */
  private[graft] def disableFramelessVm(): Unit = vm.disableFrameless = true

  // ---- per-document state ----
  private var input: Array[Byte] = _
  private var pendingStart = 0
  private var emissionEnabled = true
  private var matchedRemoved = 0
  private var textPending = false
  private var textPendingType = TextType.Data

  def rewrite(html: String): String = {
    val bytes = rewriteToBytes(html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Transcoding output sink (reference D13 out,
    * /root/reference/src/rewritable_units/streaming_sink.rs:8-60): rewrite
    * a document that arrives as raw bytes in `charset` and emit the result
    * re-encoded in the SAME charset. Per-row whole-document transcode —
    * the reference's incremental UTF-8 resync machinery exists because it
    * streams chunks; a table row is complete, so decode-once/encode-once
    * is equivalent and simpler.
    */
  def rewriteEncodedBytes(raw: Array[Byte], charset: java.nio.charset.Charset): Array[Byte] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val in = if (charset == utf8) raw else new String(raw, charset).getBytes(utf8)
    val out = rewriteToBytes(in)
    if (charset == utf8) out
    else Rewriter.encodeHtmlCompat(new String(out, utf8), charset)
  }

  def rewriteToBytes(doc: Array[Byte]): Array[Byte] = rewriteToBytes(doc, doc.length)

  /** After a GRACEFUL bail-out, the error that triggered it; null when
    * the last rewrite completed normally. (The reference's `write()`
    * returns the error alongside sink-flushed bytes; our whole-document
    * API returns the flushed bytes and exposes the error here.)
    */
  def lastBailOut: RewritingError = lastBailOutV
  private var lastBailOutV: RewritingError = _

  /** Length-aware variant: parses `doc(0 until length)` so callers can
    * reuse a grow-only document buffer across rows.
    *
    * Graceful bail-out contract (reference transform_stream/mod.rs
    * write() + dispatcher.rs flush_for_bail_out/run_bail_out_handlers):
    * when a [[MemoryLimitExceededError]] or [[ContentHandlerError]]
    * occurs and the matching graceful flag is set, the bail-out handlers
    * run first (their appends land in the output), then the
    * not-yet-emitted input suffix is flushed AS-IS — ignoring the
    * emission gate, so content being removed at the bail point is
    * flushed raw rather than lost (reference dispatcher.rs:412-430) —
    * and the flushed output is returned with the error in [[lastBailOut]]
    * instead of thrown, so the caller can continue the response.
    * Parsing-ambiguity errors always propagate.
    */
  def rewriteToBytes(doc: Array[Byte], length: Int): Array[Byte] = {
    out.reset()
    input = doc
    pendingStart = 0
    emissionEnabled = true
    matchedRemoved = 0
    textPending = false
    lastBailOutV = null
    vm.reset()
    // restore registration-time handler state (doc handlers active,
    // selector-scoped inactive, dynamic end-tag handlers dropped)
    elementHandlers.reset(); commentHandlers.reset(); textHandlers.reset()
    doctypeHandlers.reset(); endHandlers.reset(); endTagHandlers.reset()
    try {
      if (maxDocBytes > 0 && length > maxDocBytes)
        throw new MemoryLimitExceededError(maxDocBytes, length)
      if (disableAttrSkip) lexer.parse(doc, length, sink, null)
      else lexer.parse(doc, length, sink, program.scanAttrNeed)
      input = null
      out.toArray
    } catch {
      case e: graft.core.EngineBailoutException =>
        input = null; throw e // never graceful (strict-mode refusal)
      // NonFatal: a genuinely fatal JVM error (OOM, StackOverflow, ...)
      // must propagate, not be laundered into a graceful flush
      case scala.util.control.NonFatal(e) =>
        val err = e match {
          case r: RewritingError => r
          case other => new ContentHandlerError(other)
        }
        val graceful = err match {
          case _: MemoryLimitExceededError => gracefulBailOutOnMemoryLimit
          case _: ContentHandlerError => gracefulBailOutOnContentHandlerError
        }
        if (!graceful) { input = null; throw err }
        val bo = new BailOut(out)
        bailOutHandlers.foreach(h => h(err, bo))
        if (produceOutput && length > pendingStart)
          out.append(input, pendingStart, length)
        pendingStart = 0
        lastBailOutV = err
        input = null
        out.toArray
    }
  }

  // ---- element view over the current lexer tag ----
  private object view extends VmElemView {
    var nameLowerV: String = _
    var nameHashV: Long = TagHash.Empty
    var nsV: Int = Ns.Html
    var attrsV: AttrList = _
    var in: Array[Byte] = _
    def nameInput: Array[Byte] = in
    // lazily-materialized attr strings, validated by an epoch stamp so
    // per-tag invalidation is one counter bump instead of two array fills
    private var attrNamesLower: Array[String] = new Array[String](8)
    private var attrValues: Array[String] = new Array[String](8)
    private var nameStamp = new Array[Int](8)
    private var valueStamp = new Array[Int](8)
    private var epoch = 0
    private var matCount = -1

    def set(in0: Array[Byte], nameStart: Int, nameEnd: Int, hash: Long,
            fnv: Long, ns: Int, attrs: AttrList): Unit = {
      in = in0; nameLowerV = null; nameStartV = nameStart; nameEndV = nameEnd
      nameHashV = hash; nameFnvV = fnv; nsV = ns; attrsV = attrs
      matCount = if (attrs == null) 0 else attrs.count
      if (matCount > attrNamesLower.length) {
        attrNamesLower = new Array[String](matCount * 2)
        attrValues = new Array[String](matCount * 2)
        nameStamp = new Array[Int](matCount * 2)
        valueStamp = new Array[Int](matCount * 2)
      }
      epoch += 1
      if (epoch == Int.MaxValue) { // stamp wrap: clear once per 2^31 tags
        java.util.Arrays.fill(nameStamp, 0)
        java.util.Arrays.fill(valueStamp, 0)
        epoch = 1
      }
    }
    // lazy: most tags never need the name STRING (hash compares suffice);
    // interning probes a table and may allocate for unhashable names
    def nameLower: String = {
      if (nameLowerV == null)
        nameLowerV = internTagName(nameStartV, nameEndV, nameHashV)
      nameLowerV
    }
    def nameHash: Long = nameHashV
    def isHtmlNs: Boolean = nsV == Ns.Html
    def attrCount: Int = matCount
    def attrNameLower(i: Int): String = {
      if (nameStamp(i) != epoch) {
        attrNamesLower(i) = HtmlUtil.lowerAscii(new String(in, attrsV.nameStart(i),
          attrsV.nameEnd(i) - attrsV.nameStart(i), java.nio.charset.StandardCharsets.UTF_8))
        nameStamp(i) = epoch
      }
      attrNamesLower(i)
    }
    def attrValue(i: Int): String = {
      if (valueStamp(i) != epoch) {
        attrValues(i) = new String(in, attrsV.valueStart(i),
          attrsV.valueEnd(i) - attrsV.valueStart(i), java.nio.charset.StandardCharsets.UTF_8)
        valueStamp(i) = epoch
      }
      attrValues(i)
    }
    // byte-level probe: unmatched attributes never materialize a name
    override def attrNameEq(i: Int, lowerName: String): Boolean =
      HtmlUtil.eqIgnoreCase(in, attrsV.nameStart(i), attrsV.nameEnd(i), lowerName)

    // byte-level .class / #id evaluation: the attribute VALUE string is
    // never materialized for the (overwhelmingly common) ASCII selector
    // tokens — class-bearing tags otherwise alloc one String per element
    // one shift+test instead of five compares: all five HTML whitespace
    // code points are < 64, so a single Long bitmask classifies them
    @inline private def isWsB(b: Byte): Boolean = {
      val c = b & 0xff
      c < 64 && ((Rewriter.WsMask >>> c) & 1L) != 0L
    }
    @inline private def asciiSel(s: String): Boolean = {
      var i = 0
      while (i < s.length) { if (s.charAt(i) >= 0x80) return false; i += 1 }
      true
    }
    // selector-token classifier for the class fast path: 0 = ascii w/o
    // whitespace (candidate scan applies), 1 = contains whitespace (a
    // ws-separated list can NEVER contain such a token — e.g. the
    // css3-modsel-155b escaped-space selector `.two\ words` — so the
    // answer is false without touching the value), 2 = non-ascii
    @inline private def clsKind(s: String): Int = {
      var i = 0
      var r = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c >= 0x80) return 2
        if (c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f') r = 1
        i += 1
      }
      r
    }

    override def hasClassToken(cls: String): Boolean = {
      var i = 0
      while (i < matCount) {
        if (attrNameEq(i, "class")) {
          val kind = clsKind(cls)
          if (kind == 1) return false
          if (kind == 2)
            return graft.selectors.ElemView.containsWsToken(attrValue(i), cls, caseInsensitive = false)
          // candidate scan on the FIRST selector byte instead of full
          // tokenization: a ws-boundary-checked match at p is exactly a
          // token match (tokens are maximal ws-separated runs); memchr
          // skips the no-match stretches a word at a time
          val e = attrsV.valueEnd(i)
          val s0 = attrsV.valueStart(i)
          val len = cls.length
          if (len == 0 || e - s0 < len) return false
          val c0 = cls.charAt(0).toInt
          val last = e - len
          var p = s0
          while (p <= last) {
            p = graft.core.Lexer.memchrRange(in, c0, p, last + 1)
            if (p < 0) return false
            if (p == s0 || isWsB(in(p - 1))) {
              var k = 1
              var ok = true
              while (ok && k < len) { if ((in(p + k) & 0xff) != cls.charAt(k)) ok = false; k += 1 }
              if (ok && (p + len == e || isWsB(in(p + len)))) return true
            }
            p += 1
          }
          return false
        }
        i += 1
      }
      false
    }

    override def idEquals(id: String): Boolean = {
      var i = 0
      while (i < matCount) {
        if (attrNameEq(i, "id")) {
          if (!asciiSel(id)) return attrValue(i) == id
          val s = attrsV.valueStart(i); val e = attrsV.valueEnd(i)
          if (e - s != id.length) return false
          var k = 0
          while (k < id.length) { if ((in(s + k) & 0xff) != id.charAt(k)) return false; k += 1 }
          return true
        }
        i += 1
      }
      false
    }
  }

  // scratch buffer for matched ids of the current start tag (primitive —
  // an ArrayBuffer[Int] boxes every append)
  private val matchedIdsBuf = new graft.core.IntBuf(8)

  // one pooled Element per Rewriter, re-armed per captured tag (the
  // public contract is "valid only during the handler invocation");
  // avoids an Element + Mutations allocation per match on matched-dense
  // workloads
  private val pooledElement = new Element()
  private var lastMatchWithContent = false

  // long-lived handler invokers: a per-dispatch lambda (`h => h(tok)`)
  // allocates a capturing Function1 on every captured tag / text token
  private object elementInvoker extends ((Element => Unit) => Unit) {
    var el: Element = _
    def apply(h: Element => Unit): Unit = h(el)
  }
  private object textInvoker extends ((TextChunk => Unit) => Unit) {
    var tok: TextChunk = _
    def apply(h: TextChunk => Unit): Unit = h(tok)
  }

  // long-lived VM callbacks (a per-call lambda would allocate per tag and
  // a Function2[Int, Boolean, Unit] boxes both arguments)
  private object matchSink extends MatchSink {
    def onMatch(id: Int, withContent: Boolean): Unit = {
      if (withContent) {
        if (locComment(id) >= 0) commentHandlers.inc(locComment(id))
        if (locText(id) >= 0) textHandlers.inc(locText(id))
        matchedIdsBuf += id
      }
      if (locElement(id) >= 0) elementHandlers.inc(locElement(id))
      lastMatchWithContent = withContent
    }
  }

  private object popSink extends PopSink {
    def onPop(desc: ElementDescriptor): Unit = {
      if (desc != null) {
        val ids = desc.matchedContentHandlers
        var i = 0
        while (i < ids.length) {
          val id = ids(i)
          if (locComment(id) >= 0) commentHandlers.dec(locComment(id))
          if (locText(id) >= 0) textHandlers.dec(locText(id))
          i += 1
        }
        if (desc.endTagHandlerIdx >= 0) endTagHandlers.inc(desc.endTagHandlerIdx)
        if (desc.removeContent) matchedRemoved -= 1
      }
    }
  }

  // tag-name interning: hashable names decode from their own 5-bit hash
  // (one allocation per distinct tag name per Rewriter lifetime); primitive
  // open-addressed table — valid hashes are >= 6, so 0 is a free sentinel
  private var nameKeys = new Array[Long](128)
  private var nameVals = new Array[String](128)
  private var nameCount = 0
  private def internTagName(nameStart: Int, nameEnd: Int, hash: Long): String = {
    if (hash != TagHash.Empty) {
      val mask = nameKeys.length - 1
      var i = (java.lang.Long.hashCode(hash * 0x9e3779b97f4a7c15L) & mask)
      while (true) {
        val k = nameKeys(i)
        if (k == hash) return nameVals(i)
        if (k == 0L) {
          val s = TagHash.toName(hash)
          nameKeys(i) = hash; nameVals(i) = s
          nameCount += 1
          if (nameCount * 2 > nameKeys.length) growNameCache()
          return s
        }
        i = (i + 1) & mask
      }
      null // unreachable
    } else internUnhashable(nameStart, nameEnd)
  }

  // unhashable names (>12 chars or chars outside [a-z0-9-], e.g. custom
  // elements like <emu-production>) intern by a case-folded FNV over the
  // input bytes — without this every such tag occurrence allocates two
  // strings (documents full of custom elements pay it on EVERY tag)
  private var uKeys = new Array[Long](64)
  private var uVals = new Array[String](64)
  private var uCount = 0
  private def internUnhashable(s: Int, e: Int): String = {
    // the lexer computed the case-folded FNV while scanning the name —
    // valid here because interning only happens inside sink callbacks
    if (!lexer.tagNameIsAscii) // rare; byte-vs-char compare below would never match
      return HtmlUtil.lowerAscii(new String(input, s, e - s,
        java.nio.charset.StandardCharsets.UTF_8))
    var h = lexer.tagNameFnv
    if (h == 0L) h = 1L
    val mask = uKeys.length - 1
    var j = java.lang.Long.hashCode(h * 0x9e3779b97f4a7c15L) & mask
    while (true) {
      val k = uKeys(j)
      if (k == h && eqLowerAscii(uVals(j), s, e)) return uVals(j)
      if (k == 0L) {
        val str = HtmlUtil.lowerAscii(new String(input, s, e - s,
          java.nio.charset.StandardCharsets.UTF_8))
        uKeys(j) = h; uVals(j) = str
        uCount += 1
        if (uCount * 2 > uKeys.length) growUnhashableCache()
        return str
      }
      j = (j + 1) & mask
    }
    null // unreachable
  }
  private def eqLowerAscii(v: String, s: Int, e: Int): Boolean = {
    if (v.length != e - s) return false
    var i = 0
    while (i < v.length) {
      val b = input(s + i) & 0xff
      val c = if (b >= 'A' && b <= 'Z') b + 32 else b
      if (v.charAt(i) != c.toChar) return false
      i += 1
    }
    true
  }
  private def growUnhashableCache(): Unit = {
    val ok = uKeys; val ov = uVals
    uKeys = new Array[Long](ok.length * 2)
    uVals = new Array[String](ov.length * 2)
    val mask = uKeys.length - 1
    var j = 0
    while (j < ok.length) {
      if (ok(j) != 0L) {
        var i = (java.lang.Long.hashCode(ok(j) * 0x9e3779b97f4a7c15L) & mask)
        while (uKeys(i) != 0L) i = (i + 1) & mask
        uKeys(i) = ok(j); uVals(i) = ov(j)
      }
      j += 1
    }
  }
  private def growNameCache(): Unit = {
    val ok = nameKeys; val ov = nameVals
    nameKeys = new Array[Long](ok.length * 2)
    nameVals = new Array[String](ov.length * 2)
    val mask = nameKeys.length - 1
    var j = 0
    while (j < ok.length) {
      if (ok(j) != 0L) {
        var i = (java.lang.Long.hashCode(ok(j) * 0x9e3779b97f4a7c15L) & mask)
        while (nameKeys(i) != 0L) i = (i + 1) & mask
        nameKeys(i) = ok(j); nameVals(i) = ov(j)
      }
      j += 1
    }
  }

  // ---- serializer helpers ----
  private def emitChunkBefore(rawStart: Int): Unit = {
    if (produceOutput && emissionEnabled && rawStart > pendingStart)
      out.append(input, pendingStart, rawStart)
    pendingStart = rawStart
  }

  private def serializeToken(m: Mutations, rawStart: Int, rawEnd: Int): Unit = {
    if (produceOutput && emissionEnabled) {
      if (m.contentBefore != null) m.contentBefore.emitTo(out)
      if (!m.removed) out.append(input, rawStart, rawEnd)
      else if (m.replacement != null) m.replacement.emitTo(out)
      if (m.contentAfter != null) m.contentAfter.emitTo(out)
    }
    pendingStart = rawEnd
  }

  private def setEmission(on: Boolean, pos: Int): Unit = {
    if (on != emissionEnabled) {
      emissionEnabled = on
      if (listener != null) {
        if (on) listener.onEmissionEnabled(pos) else listener.onEmissionDisabled(pos)
      }
    }
  }

  private val rawTextMode = listener != null && listener.wantsRawText

  private def flushPendingText(flushPos: Int): Unit = {
    if (textPending) {
      textPending = false
      if (rawTextMode) listener.onRawTextEnd()
      if (textHandlers.hasActive) {
        val tok = new TextChunk("", textPendingType, lastInTextNode = true, flushPos, flushPos)
        textInvoker.tok = tok
        textHandlers.forEachActive(textInvoker)
        textInvoker.tok = null
        emitChunkBefore(flushPos)
        serializeToken(tok.mutations, flushPos, flushPos)
      }
    }
  }

  // ---- lexeme sink (the dispatcher) ----
  private object sink extends LexemeSink {

    def onText(start: Int, end: Int, textType: Int): Unit = {
      if (rawTextMode) {
        listener.onRawText(start, end, textType)
        textPending = true
        textPendingType = textType
      }
      if (textHandlers.hasActive) {
        val s = new String(input, start, end - start, java.nio.charset.StandardCharsets.UTF_8)
        val tok = new TextChunk(s, textType, lastInTextNode = false, start, end)
        textInvoker.tok = tok
        textHandlers.forEachActive(textInvoker)
        textInvoker.tok = null
        emitChunkBefore(start)
        serializeToken(tok.mutations, start, end)
        textPending = true
        textPendingType = textType
      }
    }

    def onStartTag(nameStart: Int, nameEnd: Int, nameHash: Long, ns: Int,
                   selfClosing: Boolean, attrs: AttrList,
                   rawStart: Int, rawEnd: Int): Unit = {
      // mid-document budget trip (the buffered-handler-growth analog of
      // the reference's arena accounting): handler-appended output past
      // the budget bails here, so the transformed prefix is kept and the
      // suffix from pendingStart flushes raw. One compare per start tag.
      if (maxDocBytes > 0 && out.size > maxDocBytes)
        throw new MemoryLimitExceededError(maxDocBytes, out.size)
      flushPendingText(rawStart)

      view.set(input, nameStart, nameEnd, nameHash, lexer.tagNameFnv, ns, attrs)

      matchedIdsBuf.clear()
      lastMatchWithContent = false
      val pushed = vm.execStartTag(view, selfClosing, matchSink)

      var desc: ElementDescriptor = null
      if (pushed && matchedIdsBuf.nonEmpty) {
        desc = new ElementDescriptor
        desc.matchedContentHandlers = matchedIdsBuf.toArray
        vm.setCurrentDescriptor(desc)
      }

      val captured = elementHandlers.hasActive
      if (captured) {
        val el = pooledElement
        el.reset(input, view.nameLower, attrs, canHaveContent0 = pushed,
          selfClosing0 = selfClosing, sourceStart0 = rawStart,
          sourceEnd0 = rawEnd, ns0 = view.nsV)
        if (matchedRemoved > 0) el.startTagMutations.remove()
        elementInvoker.el = el
        elementHandlers.doForEachActiveAndDeactivate(elementInvoker)
        elementInvoker.el = null

        if (pushed) {
          if (desc == null && (el.shouldRemoveContent || el.endTagMutations != null ||
              el.endTagUserHandlers != null)) {
            desc = new ElementDescriptor
            vm.setCurrentDescriptor(desc)
          }
          if (desc == null && el.newTagName != null) {
            desc = new ElementDescriptor
            vm.setCurrentDescriptor(desc)
          }
          if (desc != null) {
            if (el.shouldRemoveContent) {
              desc.removeContent = true
              matchedRemoved += 1
            }
            if (el.endTagMutations != null || el.newTagName != null ||
                el.endTagUserHandlers != null) {
              val m = el.endTagMutations
              val rename = el.newTagName
              val uh = el.endTagUserHandlers
              desc.endTagHandlerIdx =
                endTagHandlers.push(et => {
                  if (m != null) et.mutations = m
                  if (rename != null) et.renamedTo = rename
                  if (uh != null) { var i = 0; while (i < uh.length) { uh(i)(et); i += 1 } }
                }, alwaysActive = false)
            }
          }
        }
        if (el.structurallyModified && !el.startTagMutations.removed)
          el.startTagMutations.replace(el.structuralStartTag(), ContentType.Html)
        emitChunkBefore(rawStart)
        serializeToken(el.startTagMutations, rawStart, rawEnd)
      }
      // removal intervals start at the removing start tag's first byte
      setEmission(matchedRemoved == 0, if (matchedRemoved == 0) rawEnd else rawStart)
    }

    def onEndTag(nameStart: Int, nameEnd: Int, nameHash: Long,
                 rawStart: Int, rawEnd: Int): Unit = {
      flushPendingText(rawStart)

      // no string on this path at all: the VM matches frames by hash, or
      // by FNV + byte-slice compare for unhashable names; only an actual
      // EndTag token (rare) interns on demand below
      vm.execEndTag(input, nameStart, nameEnd, nameHash, lexer.tagNameFnv, popSink)

      var forced = false
      if (!emissionEnabled && matchedRemoved == 0) {
        // stop removing: re-enable emission from this end tag on; the
        // removal interval reported to the listener covers the end tag too
        setEmission(true, rawEnd)
        pendingStart = rawStart
        forced = true
      }

      if (endTagHandlers.hasActive || forced) {
        val tok = new EndTagTok(internTagName(nameStart, nameEnd, nameHash), rawStart, rawEnd)
        endTagHandlers.doForEachActiveAndRemoveTail(h => h(tok))
        if (tok.renamedTo != null && !tok.mutations.removed)
          tok.mutations.replace(s"</${tok.renamedTo}>", ContentType.Html)
        emitChunkBefore(rawStart)
        serializeToken(tok.mutations, rawStart, rawEnd)
      }
      setEmission(matchedRemoved == 0, rawEnd)
    }

    def onComment(textStart: Int, textEnd: Int, rawStart: Int, rawEnd: Int): Unit = {
      flushPendingText(rawStart)
      if (commentHandlers.hasActive) {
        val s = new String(input, textStart, textEnd - textStart, java.nio.charset.StandardCharsets.UTF_8)
        val tok = new Comment(s, rawStart, rawEnd)
        commentHandlers.forEachActive(h => h(tok))
        emitChunkBefore(rawStart)
        serializeToken(tok.mutations, rawStart, rawEnd)
      }
    }

    def onDoctype(nameStart: Int, nameEnd: Int, hasName: Boolean,
                  publicIdStart: Int, publicIdEnd: Int, hasPublicId: Boolean,
                  systemIdStart: Int, systemIdEnd: Int, hasSystemId: Boolean,
                  forceQuirks: Boolean, rawStart: Int, rawEnd: Int): Unit = {
      flushPendingText(rawStart)
      if (doctypeHandlers.hasActive) {
        def str(s: Int, e: Int, has: Boolean): String =
          if (has) new String(input, s, e - s, java.nio.charset.StandardCharsets.UTF_8) else null
        val tok = new DoctypeTok(str(nameStart, nameEnd, hasName),
          str(publicIdStart, publicIdEnd, hasPublicId),
          str(systemIdStart, systemIdEnd, hasSystemId), rawStart, rawEnd)
        doctypeHandlers.forEachActive(h => h(tok))
        emitChunkBefore(rawStart)
        serializeToken(tok.mutations, rawStart, rawEnd)
      }
    }

    def onRawWithoutToken(rawStart: Int, rawEnd: Int): Unit =
      flushPendingText(rawStart)

    def onEof(p: Int): Unit = {
      // p is the lexer's EOF position == the parse length (which may be
      // shorter than the reused input buffer)
      flushPendingText(p)
      if (produceOutput && emissionEnabled && p > pendingStart)
        out.append(input, pendingStart, p)
      pendingStart = p
      if (endHandlers.hasActive) {
        val de = new DocumentEnd(out)
        endHandlers.doForEachActiveAndRemoveTail(h => h(de))
      }
    }
  }
}

object Rewriter {

  /** Bitmask over code points < 64 marking the five HTML whitespace
    * characters (\t \n \f \r space) — see the view's `isWsB`.
    */
  private[rewrite] final val WsMask: Long =
    (1L << '\t') | (1L << '\n') | (1L << '\f') | (1L << '\r') | (1L << ' ')

  /** HTML-compatible encode (reference D13 output behavior —
    * encoding_rs's `encode_from_utf8` in
    * /root/reference/src/rewritable_units/streaming_sink.rs emits numeric
    * character references for unmappable characters): characters outside
    * `charset` become `&#NNN;` instead of the JVM encoder's replacement
    * byte, so handler-injected content survives a narrow output charset.
    * Malformed UTF-16 (lone surrogates) has no code point to reference and
    * falls back to the charset's replacement, like the reference's
    * U+FFFD-on-decode behavior.
    */
  def encodeHtmlCompat(s: String, charset: java.nio.charset.Charset): Array[Byte] = {
    import java.nio.{ByteBuffer, CharBuffer}
    import java.nio.charset.CodingErrorAction
    val enc = charset.newEncoder()
      .onMalformedInput(CodingErrorAction.REPLACE)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    val in = CharBuffer.wrap(s)
    var buf = ByteBuffer.allocate(
      math.max(64, (s.length * enc.averageBytesPerChar()).toInt + 16))
    def ensure(n: Int): Unit = if (buf.remaining < n) {
      val nb = ByteBuffer.allocate(math.max(buf.capacity * 2, buf.position() + n))
      buf.flip(); nb.put(buf); buf = nb
    }
    var done = false
    while (!done) {
      val cr = enc.encode(in, buf, true)
      if (cr.isUnderflow) {
        var fr = enc.flush(buf)
        while (fr.isOverflow) { ensure(64); fr = enc.flush(buf) }
        done = true
      } else if (cr.isOverflow) {
        ensure(256)
      } else { // unmappable: numeric character reference
        val cp =
          if (cr.length == 2)
            Character.toCodePoint(in.get(in.position()), in.get(in.position() + 1))
          else in.get(in.position()).toInt
        in.position(in.position() + cr.length)
        // every WHATWG OUTPUT encoding is ASCII-compatible (UTF-16 is not
        // an output encoding), so the reference's bytes are written as-is
        val ref = "&#" + cp + ";"
        ensure(ref.length)
        var k = 0
        while (k < ref.length) { buf.put(ref.charAt(k).toByte); k += 1 }
      }
    }
    buf.flip()
    val arr = new Array[Byte](buf.remaining)
    buf.get(arr)
    arr
  }
}
