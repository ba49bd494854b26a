package graft.sinks

import graft.functions.FormatFields
import graft.wpl._
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExprBridge.{column, expression}

/** Record → line formatters for file/tcp/syslog sinks (reference fmt
  * `json|kv|csv|raw|proto_text`, src/sinks/utils/formatter.rs:25-38).
  * Pure functions: on the Spark side they run as a projection before a
  * text/kafka write (sink-side serialization stays map-only). */
object Formatters {

  /** Native-Column formatter over a pipeline `fields` column
    * (array<struct<name, dtype, sval>>) — the dtype-aware twin of the
    * pure functions below, shared by the project sink path, `wparse
    * batch`'s channel writer and the kafka and victorialogs sinks so
    * every surface emits TYPED json (`"st":200`, not `"st":"200"` —
    * reference src/sinks/utils/formatter.rs:27 serializes the typed
    * Value). One compiled pass per record ([[FormatFields]]: real
    * codegen, no UDF, no lambda, no WValue rebuild per row); its
    * NULL-field rules are on [[graft.functions.SinkKernels.format]].
    * json strings escape like [[Json.quote]], every C0 control
    * included.
    *
    * Documented divergence (same as the pure-path note in ProjectRun):
    * the reference re-renders from its typed in-memory Value, so a
    * `time` field emits its raw text there but its epoch-micros sval
    * here, and proto_text does not re-nest `obj` svals. */
  def line(fmt: String, fields: Column): Column = column(FormatFields(expression(fields), fmt))

  def json(fields: Vector[WField]): String =
    fields.map(f => Json.quote(f.name) + ":" + f.value.jval).mkString("{", ",", "}")

  def kv(fields: Vector[WField]): String =
    fields.map(f => s"${f.name}=${f.value.sval}").mkString(" ")

  def csv(fields: Vector[WField]): String =
    fields.map { f =>
      val s = f.value.sval
      if (s.contains(",") || s.contains("\"") || s.contains("\n"))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    }.mkString(",")

  /** raw: the copy_raw'd original line if present, else kv fallback. */
  def raw(fields: Vector[WField], rawField: String = "raw_log"): String =
    fields.find(_.name == rawField).map(_.value.sval).getOrElse(kv(fields))

  def protoText(fields: Vector[WField]): String =
    fields.map(f => f.value match {
      case WObj(fs) => s"${f.name} { ${fs.map { case (k, v) => s"$k: ${pbScalar(v)}" }.mkString(" ")} }"
      case v => s"${f.name}: ${pbScalar(v)}"
    }).mkString(" ")

  private def pbScalar(v: WValue): String = v match {
    case WChars(s) => "\"" + s.replace("\"", "\\\"") + "\""
    case WIp(s) => "\"" + s + "\""
    case other => other.sval
  }

  def format(fmt: String, fields: Vector[WField]): String = fmt match {
    case "json" => json(fields)
    case "kv" => kv(fields)
    case "csv" => csv(fields)
    case "raw" => raw(fields)
    case "proto_text" => protoText(fields)
    case other => throw new IllegalArgumentException(s"unknown sink fmt: $other")
  }
}
