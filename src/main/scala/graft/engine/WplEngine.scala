package graft.engine

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import graft.wpl._
import graft.functions.{FieldSval, JsonQuote}
import org.apache.spark.sql.GraftExprBridge.{column, expression}

/** Spark integration for the WPL parse engine.
  *
  * Shape (SURVEY.md §2.3): the compiled rule set is applied via
  * `mapPartitions` — one `MultiParser` per partition, so per-partition
  * adaptive rule reordering and amortized setup mirror the reference's
  * per-worker `MultiParser` (src/core/parser/wpl_engine/parser.rs) while
  * staying fully distributed (no driver-side work, no shuffle: parsing is
  * a narrow map).
  *
  * Output rows carry the generic record shape
  *   (rule_key, status, fields: array<struct<name,dtype,sval>>, residue,
  *    miss_depth, best_wpl)
  * preserving duplicate field names and order (reference DataRecord
  * semantics). `extract*` helpers then project typed columns with
  * first-match-by-name lookup — all native expressions, so Catalyst can
  * prune/push down around them.
  */
object WplEngine {

  case class FieldRow(name: String, dtype: String, sval: String)
  case class ParsedRow(
      rule_key: String,
      status: String, // success | partial | miss | blank
      fields: Seq[FieldRow],
      residue: String,
      miss_depth: Int,
      best_wpl: String)

  private def toRow(o: ParseOutcome): ParsedRow = o match {
    case PSuccess(k, fs) =>
      ParsedRow(k, "success", fs.map(f => FieldRow(f.name, f.value.dtype, f.value.sval)), null, 0, null)
    case PPartial(k, fs, res) =>
      ParsedRow(k, "partial", fs.map(f => FieldRow(f.name, f.value.dtype, f.value.sval)), res, 0, null)
    case PMiss(best, depth) =>
      ParsedRow(null, "miss", Seq.empty, null, depth, best)
    case PBlank =>
      ParsedRow(null, "blank", Seq.empty, null, 0, null)
  }

  /** Parse a column of raw lines with a WPL rule-set source text.
    * Delegates to the parse_wpl expression path (whole-stage codegen;
    * measured ~1.7x the Dataset-encoder mapPartitions form at 5M lines —
    * see ScaleSmoke). The thread-local MultiParser keeps the reference's
    * per-worker adaptive rule ordering. */
  def parse(df: DataFrame, lineCol: String, wplSource: String): DataFrame =
    parseWith(df, lineCol, wplSource, Seq.empty)

  /** Like `parse` but keeps passthrough columns. Implemented with the
    * `parse_wpl` Catalyst expression — a plain projection, so there is no
    * RDD hop and the surrounding operators keep whole-stage codegen. */
  def parseWith(df: DataFrame, lineCol: String, wplSource: String,
                keep: Seq[String], enricher: Enricher = Enricher.empty): DataFrame = {
    import graft.functions.ParseWpl
    df.select((keep.map(col) :+
        ParseWpl.parse_wpl(col(lineCol).cast("string"), wplSource, enricher).as("p")): _*)
      .select((keep.map(col) :+ col("p.*")): _*)
  }

  // -------------------------------------------------------------------
  // Typed extraction (native expressions over the fields array)
  // -------------------------------------------------------------------

  /** JSON string quoting as a native Column: the compiled kernel that
    * escapes like Json.quote (quote, backslash and every C0 control). */
  def jsonQuote(c: Column): Column = column(JsonQuote(expression(c)))

  /** First-match field lookup by name → sval (reference record.field());
    * a missing field is NULL. */
  def fieldSval(name: String): Column = column(FieldSval(expression(col("fields")), name))

  def extractString(name: String): Column = fieldSval(name)
  def extractLong(name: String): Column = fieldSval(name).cast("long")
  def extractDouble(name: String): Column = fieldSval(name).cast("double")
  /** WTime svals are epoch micros. */
  def extractTimestamp(name: String): Column =
    timestamp_micros(fieldSval(name).cast("long"))
  /** Obj svals are JSON — project a key out of one. */
  def extractJsonField(name: String, key: String): Column =
    get_json_object(fieldSval(name), s"$$.$key")

  /** Side-output splits (infra sinks: default/miss/residue — SURVEY §2.5). */
  def successes(parsed: DataFrame): DataFrame = parsed.filter(col("status") === "success")
  def partials(parsed: DataFrame): DataFrame = parsed.filter(col("status") === "partial")
  def misses(parsed: DataFrame): DataFrame = parsed.filter(col("status") === "miss")
}
