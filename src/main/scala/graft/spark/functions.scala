package graft.spark

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{CreateArray, CreateNamedStruct, Expression,
  GetStructField, If, IsNull, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.extract.{ExtractPolicy, Extractor}

/** The SQL surface of the engine. `extract_spans(html)` is the SQL analog
  * of lol-html's one-off `rewrite_str` (`src/rewriter/mod.rs:307-340`),
  * and like it a thin wrapper over the one pipeline: the whole HTML
  * document string becomes a single text fragment for
  * [[ExtractInterleaved]], and the result is that expression's ordered
  * span array `array<struct<kind,text,media_ref,offset>>` (the
  * per-document error is dropped). A NULL document gives NULL.
  */
object ExtractSpans {
  val SpanType: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("media_ref", StringType, nullable = false),
    StructField("offset", IntegerType, nullable = false)))
  val SpanArrayType: DataType = ArrayType(SpanType, containsNull = false)

  private def build(html: Expression): Expression =
    If(IsNull(html), Literal(null, SpanArrayType),
      GetStructField(ExtractInterleaved(CreateArray(Seq(CreateNamedStruct(Seq(
        Literal("kind"), Literal("text"), Literal("text"), html,
        Literal("media_ref"), Literal("")))))), 0))

  /** Register `extract_spans` and `extract_interleaved` for SQL and the
    * Column surface.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.createOrReplaceTempFunction(
      "extract_interleaved", exprs => ExtractInterleaved(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "extract_spans", exprs => build(exprs.head), "scala_udf")
  }

  /** Column surface (requires [[register]] once per session). */
  def extract_spans(html: Column): Column =
    org.apache.spark.sql.functions.call_function("extract_spans", html)
}

/** The whole-pipeline expression: interleaved input span array in,
  * `struct(spans, error)` out — the engine runs directly over Catalyst's
  * columnar data (UTF8String fragments copied once into the engine's
  * document buffer), with NO Dataset encoder materialization on either
  * side. This is the hot path ExtractPipeline uses: at 10^12-row scale
  * the per-row object churn of a typed `Dataset[InterleavedDoc]` decode
  * (tens of boxed objects + strings per document) would dominate GC;
  * this expression keeps the scan -> extract -> project plan inside one
  * whole-stage-codegen'd stage with a single CodegenFallback island.
  */
case class ExtractInterleaved(child: Expression,
                              policy: ExtractPolicy = ExtractPolicy.Default)
    extends UnaryExpression with CodegenFallback with Serializable {

  override def dataType: DataType = ExtractInterleaved.ResultType
  override def nullable: Boolean = true

  // field ordinals resolved BY NAME from the child's physical struct:
  // external parquet may order the span struct differently (e.g.
  // alphabetized), and .as[] / call_function resolve by name without
  // reordering the physical layout
  @transient private lazy val (kindOrd, textOrd, refOrd, numFields) =
    child.dataType match {
      case ArrayType(st: StructType, _) =>
        (st.fieldIndex("kind"), st.fieldIndex("text"), st.fieldIndex("media_ref"), st.length)
      case other =>
        throw new IllegalStateException(s"extract_interleaved over $other")
    }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case ArrayType(st: StructType, _) =>
        val missing = Seq("kind", "text", "media_ref").filter(f =>
          !st.fields.exists(sf => sf.name == f && sf.dataType == StringType))
        if (missing.isEmpty) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"extract_interleaved needs array<struct> with string fields kind/text/media_ref; " +
            s"missing or mistyped: ${missing.mkString(", ")} in ${st.simpleString}")
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"extract_interleaved needs array<struct<kind,text,media_ref,...>>, got ${other.simpleString}")
    }
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = arr.numElements()
    val scratch = ExtractInterleaved.scratch.get()
    // pass 1: total html bytes
    var total = 0
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, numFields)
      if (ExtractInterleaved.isText(row.getUTF8String(kindOrd))) {
        val t = row.getUTF8String(textOrd)
        if (t != null) total += t.numBytes()
      }
      i += 1
    }
    // fresh per-row buffer: A/B-measured FASTER than a reused grow-only
    // buffer (short-lived TLAB arrays die in young GC for ~free, while
    // reuse pays ThreadLocal + old-gen write traffic); media offset/ref
    // scratch is reused only to avoid Integer boxing
    val html = new Array[Byte](total)
    val mediaRefs = scratch.mediaRefs
    val mediaOffsets = scratch.mediaOffsets
    mediaRefs.clear()
    mediaOffsets.clear()
    var off = 0
    i = 0
    while (i < n) {
      val row = arr.getStruct(i, numFields)
      if (ExtractInterleaved.isText(row.getUTF8String(kindOrd))) {
        val t = row.getUTF8String(textOrd)
        if (t != null) {
          t.writeToMemory(html, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off)
          off += t.numBytes()
        }
      } else {
        val r = row.getUTF8String(refOrd)
        mediaRefs += (if (r == null) "" else r.toString)
        mediaOffsets += off
      }
      i += 1
    }
    val res = ExtractInterleaved.engineFor(policy).extractRaw(html, total, mediaOffsets)
    // zero-copy text spans: UTF8Strings view the per-doc html buffer
    val out = new Array[Any](res.count)
    i = 0
    while (i < res.count) {
      out(i) =
        if (res.kinds(i) == 0)
          InternalRow(ExtractInterleaved.TEXT,
            UTF8String.fromBytes(html, res.starts(i), res.ends(i) - res.starts(i)),
            UTF8String.EMPTY_UTF8, res.starts(i))
        else
          InternalRow(ExtractInterleaved.MEDIA, UTF8String.EMPTY_UTF8,
            UTF8String.fromString(mediaRefs(res.mediaIdx(i))), res.starts(i))
      i += 1
    }
    InternalRow(new GenericArrayData(out),
      if (res.error == null) null else UTF8String.fromString(res.error))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "extract_interleaved"
}

object ExtractInterleaved {
  val ResultType: StructType = StructType(Seq(
    StructField("spans", ExtractSpans.SpanArrayType, nullable = false),
    StructField("error", StringType, nullable = true)))

  // per-thread engine cache keyed by policy (expression instances can be
  // shared across local-mode task threads)
  private val engines: ThreadLocal[java.util.HashMap[ExtractPolicy, Extractor]] =
    ThreadLocal.withInitial(() => new java.util.HashMap[ExtractPolicy, Extractor]())

  /** Per-thread media scratch for [[ExtractInterleaved.nullSafeEval]]:
    * primitive offsets (an ArrayBuffer[Int] would box every element).
    * Row/array/buffer objects stay fresh per row on purpose — pooling
    * them A/B-measured slower than young-gen allocation.
    */
  private[spark] final class Scratch {
    val mediaRefs = new scala.collection.mutable.ArrayBuffer[String](4)
    val mediaOffsets = new graft.core.IntBuf(8)
  }
  private[spark] val scratch: ThreadLocal[Scratch] =
    ThreadLocal.withInitial(() => new Scratch)
  private[spark] def engineFor(policy: ExtractPolicy): Extractor = {
    val m = engines.get()
    var e = m.get(policy)
    if (e == null) { e = new Extractor(policy); m.put(policy, e) }
    e
  }

  private[spark] val TEXT = UTF8String.fromString("text")
  private[spark] val MEDIA = UTF8String.fromString("media")
  @inline private[spark] def isText(kind: UTF8String): Boolean =
    kind != null && kind.equals(TEXT)
}

/** Row-local rolling polynomial fingerprint (base 131 mod 1e9+7) as a
  * native codegen'd expression. Replaces the per-character interpreted
  * higher-order-function formulation (`aggregate(transform(split(text,
  * "")))`) which materialized one single-char String per character and
  * ran an interpreted lambda per element (~100x the work of this loop).
  * Semantics preserved exactly: one step per UTF-16 char unit with the
  * char's code-unit value, the same sequence Spark's split-per-char +
  * ascii() produced for BMP text (bit-identical on the corpus; a parity
  * test pins it).
  */
case class RollingHash(child: Expression) extends UnaryExpression with Serializable {
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    RollingHashFn.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.spark.RollingHashFn.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "rolling_hash"
}

object RollingHashFn {
  final val Mod = 1000000007L

  /** Register `rolling_hash` for SQL and the Column surface. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "rolling_hash", exprs => RollingHash(exprs.head), "scala_udf")

  /** h_{i+1} = (h_i * 131 + char_i) mod 1e9+7 over UTF-16 code units. */
  def compute(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      h = (h * 131L + str.charAt(i)) % Mod
      i += 1
    }
    h
  }
}
