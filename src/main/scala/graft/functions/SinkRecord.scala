package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Sink-record kernels over a pipeline `fields` column
  * (array<struct<name, dtype, sval>>): the record → line formatter
  * ([[FormatFields]]), the first-match field lookup ([[FieldSval]]) and
  * JSON string quoting ([[JsonQuote]]). Each is one pass over the
  * record's bytes with real codegen, so a sink projection stays
  * compiled end to end (Spark's `transform`/`filter` lambdas are
  * `CodegenFallback`: evaluated interpreted, field by field, and
  * invisible to subexpression elimination).
  *
  * Null handling: a NULL `fields` array gives a NULL line; a NULL
  * element is skipped; the per-fmt rules for NULL name/dtype/sval are
  * on [[SinkKernels.format]]. */
case class FormatFields(child: Expression, fmt: String) extends UnaryExpression {
  private val code = SinkKernels.fmtCode(fmt)

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): TypeCheckResult =
    SinkKernels.checkFields(child.dataType, "format_fields")

  @transient private lazy val o = SinkKernels.ordinals(child.dataType)

  override protected def nullSafeEval(input: Any): Any =
    SinkKernels.format(code, input.asInstanceOf[ArrayData], o(0), o(1), o(2), o(3))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SinkKernels.format($code, $c, ${o.mkString(", ")});")

  override protected def withNewChildInternal(newChild: Expression): FormatFields =
    copy(child = newChild)
}

/** The `sval` of the first element named `name` (NULL when there is none,
  * or when that element's sval is NULL) — reference record.field(). Not
  * a `CodegenFallback`, so repeated lookups of one field in a projection
  * are shared by subexpression elimination. */
case class FieldSval(child: Expression, name: String) extends UnaryExpression {
  @transient private lazy val key = UTF8String.fromString(name)
  @transient private lazy val o = SinkKernels.ordinals(child.dataType)

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    SinkKernels.checkFields(child.dataType, "field_sval")

  override protected def nullSafeEval(input: Any): Any =
    SinkKernels.lookup(input.asInstanceOf[ArrayData], key, o(0), o(1), o(3))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("fieldName", key)
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = graft.functions.SinkKernels.lookup($a, $k, ${o(0)}, ${o(1)}, ${o(3)});
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): FieldSval =
    copy(child = newChild)
}

/** A string as a JSON string literal: quoted, with `"` `\` and every C0
  * control escaped (`\n` `\r` `\t` by name, the rest as `\u00xx`) —
  * byte for byte what [[graft.wpl.Json.quote]] writes. */
case class JsonQuote(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"json_quote expects STRING, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    SinkKernels.jsonQuote(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SinkKernels.jsonQuote($c);")

  override protected def withNewChildInternal(newChild: Expression): JsonQuote =
    copy(child = newChild)
}

object SinkKernels {
  final val Json = 0
  final val Kv = 1
  final val Csv = 2
  final val Raw = 3
  final val ProtoText = 4

  def fmtCode(fmt: String): Int = fmt match {
    case "json" => Json
    case "kv" => Kv
    case "csv" => Csv
    case "raw" => Raw
    case "proto_text" => ProtoText
    case other => throw new IllegalArgumentException(s"unknown sink fmt: $other")
  }

  private[functions] def checkFields(t: DataType, fn: String): TypeCheckResult = t match {
    case ArrayType(st: StructType, _) if Seq("name", "dtype", "sval").forall(f =>
        st.fields.exists(x => x.name == f && x.dataType == StringType)) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$fn expects array<struct<name, dtype, sval: string>>, got ${other.catalogString}")
  }

  /** Struct width and the ordinals of name, dtype and sval in a checked
    * `fields` type. */
  private[functions] def ordinals(t: DataType): Array[Int] = t match {
    case ArrayType(st: StructType, _) =>
      Array(st.length, st.fieldIndex("name"), st.fieldIndex("dtype"), st.fieldIndex("sval"))
    case other => throw new IllegalArgumentException(s"not a fields array: $other")
  }

  /** A growable byte buffer, one per thread, reused across records. */
  private final class Buf {
    var a = new Array[Byte](512)
    var n = 0
    def ensure(k: Int): Unit =
      if (n + k > a.length) a = java.util.Arrays.copyOf(a, math.max(a.length * 2, n + k))
    def byte(b: Int): Unit = { ensure(1); a(n) = b.toByte; n += 1 }
    def ascii(s: String): Unit = { var i = 0; while (i < s.length) { byte(s.charAt(i)); i += 1 } }
    def bytes(base: AnyRef, off: Long, k: Int): Unit = if (k > 0) {
      ensure(k)
      Platform.copyMemory(base, off, a, Platform.BYTE_ARRAY_OFFSET + n, k)
      n += k
    }
    def utf8(u: UTF8String): Unit = bytes(u.getBaseObject, u.getBaseOffset, u.numBytes)
    def result(): UTF8String = UTF8String.fromBytes(java.util.Arrays.copyOf(a, n))
  }
  private val bufs = ThreadLocal.withInitial[Buf](() => new Buf)
  private def buf(): Buf = { val b = bufs.get(); b.n = 0; b }

  private val Hex = "0123456789abcdef"

  /** Appends `u` JSON-escaped (no surrounding quotes). Every byte that
    * needs escaping is ASCII, and no byte of a multi-byte UTF-8 sequence
    * is ASCII, so the escape works on the bytes directly. */
  private def jsonEscaped(b: Buf, u: UTF8String): Unit = {
    val base = u.getBaseObject
    val off = u.getBaseOffset
    val k = u.numBytes
    var run = 0
    var i = 0
    while (i < k) {
      val c: Int = Platform.getByte(base, off + i)
      if (c == '"' || c == '\\' || (c >= 0 && c < 0x20)) {
        b.bytes(base, off + run, i - run)
        if (c == '"') b.ascii("\\\"")
        else if (c == '\\') b.ascii("\\\\")
        else if (c == '\n') b.ascii("\\n")
        else if (c == '\r') b.ascii("\\r")
        else if (c == '\t') b.ascii("\\t")
        else { b.ascii("\\u00"); b.byte(Hex.charAt(c >> 4)); b.byte(Hex.charAt(c & 0xf)) }
        run = i + 1
      }
      i += 1
    }
    b.bytes(base, off + run, k - run)
  }

  /** Appends `"u"` with each `"` inside written as `esc` followed by `"`. */
  private def quoted(b: Buf, u: UTF8String, esc: Char): Unit = {
    val base = u.getBaseObject
    val off = u.getBaseOffset
    val k = u.numBytes
    b.byte('"')
    var run = 0
    var i = 0
    while (i < k) {
      if (Platform.getByte(base, off + i) == '"') {
        b.bytes(base, off + run, i - run)
        b.byte(esc)
        run = i // the quote itself starts the next run
      }
      i += 1
    }
    b.bytes(base, off + run, k - run)
    b.byte('"')
  }

  def jsonQuote(u: UTF8String): UTF8String = {
    val b = buf()
    b.byte('"'); jsonEscaped(b, u); b.byte('"')
    b.result()
  }

  private def containsAny(u: UTF8String, c1: Char, c2: Char, c3: Char): Boolean = {
    val base = u.getBaseObject
    val off = u.getBaseOffset
    val k = u.numBytes
    var i = 0
    while (i < k) {
      val c = Platform.getByte(base, off + i)
      if (c == c1 || c == c2 || c == c3) return true
      i += 1
    }
    false
  }

  private val DDigit = UTF8String.fromString("digit")
  private val DFloat = UTF8String.fromString("float")
  private val DBool = UTF8String.fromString("bool")
  private val DObj = UTF8String.fromString("obj")
  private val DArray = UTF8String.fromString("array")
  private val DNull = UTF8String.fromString("null")
  private val RawLog = UTF8String.fromString("raw_log")

  private def scalar(d: UTF8String): Boolean = d == DDigit || d == DFloat || d == DBool

  /** The sval of the first element of `a` whose name is `key`; NULL when
    * there is none or its sval is NULL. */
  def lookup(a: ArrayData, key: UTF8String, w: Int, n: Int, s: Int): UTF8String = {
    var i = 0
    while (i < a.numElements()) {
      if (!a.isNullAt(i)) {
        val r = a.getStruct(i, w)
        if (!r.isNullAt(n) && r.getUTF8String(n) == key)
          return if (r.isNullAt(s)) null else r.getUTF8String(s)
      }
      i += 1
    }
    null
  }

  /** The line of one record in sink fmt `code` (reference
    * src/sinks/utils/formatter.rs). Fields are kept in order, separated
    * by `,` (json, csv) or ` ` (kv, proto_text); a field drops out of
    * the line when its element is NULL and when:
    *  - json: its name is NULL, or its sval is NULL and its dtype is not
    *    `null` (which writes `null`). digit/float/bool/obj/array svals
    *    are written bare, any other dtype (NULL too) as a JSON string;
    *  - kv (`name=sval`): its name or sval is NULL;
    *  - csv: its sval is NULL; an sval holding `,` `"` or `\n` is
    *    quoted, `"` doubled;
    *  - proto_text (`name: sval`): its name or sval is NULL;
    *    digit/float/bool bare, the rest quoted with `"` as `\"`;
    *  - raw: the sval of the first `raw_log` field; kv when there is
    *    none or it is NULL. */
  def format(code: Int, a: ArrayData, w: Int, n: Int, d: Int, s: Int): UTF8String = {
    if (code == Raw) {
      val raw = lookup(a, RawLog, w, n, s)
      return if (raw != null) raw else format(Kv, a, w, n, d, s)
    }
    val b = buf()
    if (code == Json) b.byte('{')
    val sep = if (code == Json || code == Csv) ',' else ' '
    var first = true
    var i = 0
    while (i < a.numElements()) {
      if (!a.isNullAt(i)) {
        val r = a.getStruct(i, w)
        val name = if (r.isNullAt(n)) null else r.getUTF8String(n)
        val dtype = if (r.isNullAt(d)) null else r.getUTF8String(d)
        val sval = if (r.isNullAt(s)) null else r.getUTF8String(s)
        val emit = code match {
          case Json => name != null && (sval != null || dtype == DNull)
          case Csv => sval != null
          case _ => name != null && sval != null
        }
        if (emit) {
          if (!first) b.byte(sep)
          first = false
          code match {
            case Json =>
              b.byte('"'); jsonEscaped(b, name); b.ascii("\":")
              if (dtype == DNull) b.ascii("null")
              else if (dtype != null && (scalar(dtype) || dtype == DObj || dtype == DArray)) b.utf8(sval)
              else { b.byte('"'); jsonEscaped(b, sval); b.byte('"') }
            case Kv =>
              b.utf8(name); b.byte('='); b.utf8(sval)
            case Csv =>
              if (containsAny(sval, ',', '"', '\n')) quoted(b, sval, '"') else b.utf8(sval)
            case _ =>
              b.utf8(name); b.ascii(": ")
              if (dtype != null && scalar(dtype)) b.utf8(sval) else quoted(b, sval, '\\')
          }
        }
      }
      i += 1
    }
    if (code == Json) b.byte('}')
    b.result()
  }
}
