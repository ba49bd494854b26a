package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.WplEngine

/** Sink-side routing (reference src/sinks/routing + wp-config cond):
  *
  *  - condition language (`crates/wp-config/src/cond/parse.rs`):
  *      isset($var) | $var op typed(lit), op ∈ == != > >= < <= =*
  *      composed with and/or/not and parentheses
  *    compiled to a native Column predicate over the parsed-record frame;
  *  - per-sink filter/intercept: records matching the condition are
  *    diverted to the `intercept` infra sink; `filter_expect` flips
  *    polarity (docs/usage/en/02-config/03-sinks.md:26,67);
  *  - fanout: one batch written to N sinks — [[fanout]] (flat daemon)
  *    persists it for N filtered writes; [[writeFanout]] (project path,
  *    `wparse batch`) writes every sink in ONE pass, with no persist.
  */
object SinkRouter {

  // ---- condition language -------------------------------------------

  sealed trait CondAst
  final case class IsSet(v: String) extends CondAst
  final case class Cmp(v: String, op: String, dtype: String, lit: String) extends CondAst
  final case class And(l: CondAst, r: CondAst) extends CondAst
  final case class Or(l: CondAst, r: CondAst) extends CondAst
  final case class Not(c: CondAst) extends CondAst

  /** Parse `isset($a) and not ($b == digit(3) or $c =* chars(x*))`. */
  def parseCond(src: String): CondAst = {
    val s = new graft.wpl.WplText.TextCursor(src)
    val c = parseOr(s)
    s.ws()
    require(s.atEnd, s"trailing condition text at ${s.pos}: '${s.src.drop(s.pos)}'")
    c
  }

  private def parseOr(s: graft.wpl.WplText.TextCursor): CondAst = {
    var l = parseAnd(s)
    s.ws()
    while (s.startsWithKw("or")) { s.pos += 2; val r = parseAnd(s); l = Or(l, r); s.ws() }
    l
  }
  private def parseAnd(s: graft.wpl.WplText.TextCursor): CondAst = {
    var l = parseAtom(s)
    s.ws()
    while (s.startsWithKw("and")) { s.pos += 3; val r = parseAtom(s); l = And(l, r); s.ws() }
    l
  }
  private def parseAtom(s: graft.wpl.WplText.TextCursor): CondAst = {
    s.ws()
    if (s.startsWithKw("not")) { s.pos += 3; return Not(parseAtom(s)) }
    if (!s.atEnd && s.peek == '(') {
      s.pos += 1
      val c = parseOr(s)
      s.ws(); s.expectCh(')')
      return c
    }
    if (s.startsWithKw("isset")) {
      s.pos += 5; s.ws(); s.expectCh('('); s.ws(); s.expectCh('$')
      val v = s.takeWhile(c => graft.wpl.VParser.isIdent(c))
      s.ws(); s.expectCh(')')
      return IsSet(v)
    }
    s.expectCh('$')
    val v = s.takeWhile(c => graft.wpl.VParser.isIdent(c))
    s.ws()
    val op = s.takeWhile(c => c == '=' || c == '!' || c == '<' || c == '>' || c == '*')
    s.ws()
    val dtype = s.takeWhile(c => c.isLetterOrDigit || c == '_')
    s.expectCh('(')
    val sb = new StringBuilder
    var depth = 0
    while (!s.atEnd && !(s.peek == ')' && depth == 0)) {
      if (s.peek == '(') depth += 1
      if (s.peek == ')') depth -= 1
      sb.append(s.peek); s.pos += 1
    }
    s.expectCh(')')
    Cmp(v, op, dtype, sb.toString.trim.stripPrefix("\"").stripSuffix("\""))
  }

  /** Compile to a Column over a parsed-record DataFrame (fields array).
    * `=*` wildcard translates to LIKE (reference orion_exp ops). */
  def compile(c: CondAst): Column = c match {
    case IsSet(v) => WplEngine.fieldSval(v).isNotNull
    case And(l, r) => compile(l) && compile(r)
    case Or(l, r) => compile(l) || compile(r)
    case Not(i) => !compile(i)
    case Cmp(v, op, dtype, litStr) =>
      val sv = WplEngine.fieldSval(v)
      val (lhs, rhs): (Column, Column) = dtype match {
        case "digit" => (sv.cast("long"), lit(litStr.toLong))
        case "float" => (sv.cast("double"), lit(litStr.toDouble))
        case "bool" => (sv.cast("boolean"), lit(litStr == "true"))
        case _ => (sv, lit(litStr))
      }
      op match {
        case "==" => lhs === rhs
        case "!=" => lhs =!= rhs
        case ">" => lhs > rhs
        case ">=" => lhs >= rhs
        case "<" => lhs < rhs
        case "<=" => lhs <= rhs
        case "=*" => sv.like(litStr.replace('*', '%'))
        case other => throw new IllegalArgumentException(s"unknown cond op $other")
      }
  }

  def compile(src: String): Column = compile(parseCond(src))

  // ---- fanout -------------------------------------------------------

  final case class SinkSpec(
      name: String,
      filter: Option[String] = None,       // condition source text
      filterExpect: Boolean = false,       // flip polarity
      preTags: Map[String, String] = Map.empty,
      fmt: String = "json")

  /** Split one transformed micro-batch for a sink: (business, intercept).
    * Records matching the filter are diverted to intercept (reference
    * oml.rs:351-363). */
  def route(batch: DataFrame, spec: SinkSpec): (DataFrame, DataFrame) = {
    val tagged = spec.preTags.foldLeft(batch) { case (df, (k, v)) =>
      df.withColumn(k, lit(v))
    }
    if (spec.filter.isEmpty) (tagged, tagged.limit(0))
    else {
      val cond = keep(spec.filter, spec.filterExpect)
      (tagged.filter(cond), tagged.filter(!cond))
    }
  }

  /** The records a sink keeps (the rest go to intercept): its filter,
    * flipped unless `filter_expect`; no filter keeps all. A condition
    * over a field the record lacks is NULL — it counts as not matching,
    * so every record lands in exactly one of the sink and its intercept. */
  def keep(filter: Option[String], filterExpect: Boolean): Column = filter match {
    case None => lit(true)
    case Some(src) =>
      val matched = coalesce(compile(src), lit(false))
      if (filterExpect) matched else !matched
  }

  /** foreachBatch-style fanout: persist once, write N times (reference
    * clones the batch N−1 times; Spark re-reads the cached plan). Returns
    * per-sink (business, intercept) frames; caller writes them. */
  def fanout(batch: DataFrame, specs: Seq[SinkSpec]): Map[String, (DataFrame, DataFrame)] = {
    if (specs.length > 1) batch.persist()
    specs.map(s => s.name -> route(batch, s)).toMap
  }

  /** One [[writeFanout]] output directory: a record emits one `line`
    * per `when` condition it meets. */
  final case class Channel(target: String, line: Column, when: Seq[Column])

  /** The one fan-out write: every record of `df` explodes into its
    * channels' lines, written in ONE job partitioned by channel under
    * `staging` (removed afterwards); each partition directory is then
    * renamed to its `target`, replacing an existing one. A channel with
    * no lines gets an empty directory; a false rename (object stores)
    * fails the write. With nothing to emit the job is a `noop` write,
    * so observations on `df` are still filled. */
  def writeFanout(df: DataFrame, staging: String, channels: Seq[Channel]): Unit = {
    val stage = new Path(staging)
    val fs = stage.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val elems = for ((c, i) <- channels.zipWithIndex; w <- c.when)
      yield when(w, struct(lit(i.toString).as("ch"), c.line.as("value")))
    try {
      if (elems.isEmpty) df.write.format("noop").mode("overwrite").save()
      else df.select(explode(filter(array(elems: _*), _.isNotNull)).as("c"))
        .select(col("c.value"), col("c.ch")).write.mode("overwrite").partitionBy("ch").text(staging)
      for ((c, i) <- channels.zipWithIndex) {
        val (part, target) = (new Path(stage, s"ch=$i"), new Path(c.target))
        fs.delete(target, true)
        if (!fs.exists(part)) fs.mkdirs(target)
        else {
          fs.mkdirs(target.getParent)
          require(fs.rename(part, target), s"writeFanout: rename $part -> $target failed")
        }
      }
    } finally fs.delete(stage, true)
  }

  /** Count-expectation validation (wproj parity — reference sink-group
    * `expect` ratio/min-max checks, docs 03-sinks.md:19-26). */
  final case class Expect(ratio: Option[Double] = None, tol: Double = 0.05,
                          min: Option[Long] = None, max: Option[Long] = None)
  def validateExpect(outCount: Long, basisCount: Long, e: Expect): Boolean = {
    val ratioOk = e.ratio.forall { r =>
      basisCount > 0 && math.abs(outCount.toDouble / basisCount - r) <= e.tol + 1e-9
    }
    ratioOk && e.min.forall(outCount >= _) && e.max.forall(outCount <= _)
  }
}
