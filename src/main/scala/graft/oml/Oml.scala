package graft.oml

import graft.wpl._

/** OML (Object Modeling Language) AST + text parser (reference
  * crates/wp-oml; grammar docs/usage/zh/04-oml/06-grammar-reference.md).
  *
  * A model: `name:` + `rule:` wildcard bindings, then items
  * `target[,target][:type] = eval ;` over (src, dst) record pairs.
  */
object OmlAst {

  final case class Model(
      name: String,
      rules: Vector[String], // wildcard paths binding to WPL rule keys
      statics: Vector[(String, Eval)],
      items: Vector[Item],
      privacy: Vector[(String, String)]) {
    def matchesRule(ruleKey: String): Boolean =
      rules.isEmpty || rules.exists(r => wildMatch(r, ruleKey))
  }

  /** `*`-wildcard match (reference WildMatch, model.rs:87-116). */
  def wildMatch(pat: String, s: String): Boolean = {
    def go(pi: Int, si: Int): Boolean = {
      if (pi >= pat.length) si >= s.length
      else if (pat.charAt(pi) == '*') {
        var k = si
        while (k <= s.length) { if (go(pi + 1, k)) return true; k += 1 }
        false
      } else si < s.length && pat.charAt(pi) == s.charAt(si) && go(pi + 1, si + 1)
    }
    go(0, 0)
  }

  final case class Item(targets: Vector[Target], eval: Eval)
  final case class Target(name: String, dtype: Option[String]) // name may be "*" or "_"

  sealed trait Eval
  /** take/read args: option:[k1,k2] fallback chain, keys:[..] for collect,
    * get:simple, /json/path, or a bare key. */
  final case class Acq(consume: Boolean, keys: Vector[String], optKeys: Vector[String],
                       jsonPath: Option[String], default: Option[Eval]) extends Eval
  final case class ValueE(dtype: String, literal: String) extends Eval
  final case class NowE(kind: String) extends Eval // time | date | hour
  final case class FmtE(template: String, args: Vector[Eval]) extends Eval
  final case class PipeE(src: Eval, funs: Vector[(String, Vector[String])]) extends Eval
  final case class ObjectE(items: Vector[Item]) extends Eval
  final case class CollectE(src: Acq) extends Eval
  final case class MatchE(sources: Vector[Eval], cases: Vector[(Vector[Vector[Cond]], Eval)],
                          default: Option[Eval]) extends Eval
  final case class SqlE(cols: Vector[String], table: String, cond: SqlCond) extends Eval
  final case class StaticRef(name: String) extends Eval

  sealed trait Cond
  final case class CondEq(v: ValueE) extends Cond
  final case class CondNeq(v: ValueE) extends Cond
  final case class CondIn(lo: ValueE, hi: ValueE) extends Cond
  final case class CondFun(name: String, args: Vector[String]) extends Cond

  /** Match-expression function names (reference matchs.rs
    * match_with_function; docs 04-oml/functions/match_functions.md). */
  val MatchFuns: Set[String] = Set("starts_with", "ends_with", "contains",
    "regex_match", "is_empty", "iequals", "gt", "lt", "eq", "in_range")

  sealed trait SqlCond
  final case class SqlCmp(col: String, op: String, rhs: SqlRhs) extends SqlCond
  final case class SqlAnd(l: SqlCond, r: SqlCond) extends SqlCond
  final case class SqlOr(l: SqlCond, r: SqlCond) extends SqlCond
  final case class SqlNot(c: SqlCond) extends SqlCond
  sealed trait SqlRhs
  final case class RhsAcq(a: Acq, ip4Int: Boolean) extends SqlRhs
  final case class RhsLit(v: String) extends SqlRhs
}

object OmlText {
  import OmlAst._
  import WplText.TextCursor

  final class OErr(msg: String, pos: Int) extends Exception(s"OML: $msg at $pos")

  def parse(src: String): Model = {
    val s = new TextCursor(stripComments(src))
    s.ws()
    s.expect("name"); s.ws(); s.expectCh(':'); s.ws()
    val name = s.takeWhile(c => VParser.isIdent(c) || c == '/')
    s.ws()
    var rules = Vector.empty[String]
    if (s.startsWithKw("rule")) {
      s.pos += 4; s.ws(); s.expectCh(':')
      // rule paths separated by commas, spaces, or newlines, up to `---`
      // (reference oml_conf.rs test_conf_sample)
      var more = true
      while (more) {
        s.ws()
        if (s.atEnd || s.startsWith("---")) more = false
        else {
          val p = s.takeWhile(c => VParser.isIdent(c) || c == '/' || c == '*')
          if (p.isEmpty) more = false else rules :+= p
          s.ws()
          if (!s.atEnd && s.peek == ',') s.pos += 1
        }
      }
    }
    s.ws(); s.expect("---"); s.ws()
    // optional static block (docs/dar/oml_static_blocks.md)
    var statics = Vector.empty[(String, Eval)]
    if (s.startsWithKw("static")) {
      s.pos += 6; s.ws(); s.expectCh('{'); s.ws()
      while (!s.atEnd && s.peek != '}') {
        val sym = s.takeWhile(c => VParser.isIdent(c))
        s.ws(); s.expectCh('='); s.ws()
        val e = parseEval(s)
        s.ws(); if (!s.atEnd && s.peek == ';') { s.pos += 1; s.ws() }
        statics :+= (sym -> e)
      }
      s.expectCh('}'); s.ws()
    }
    val items = Vector.newBuilder[Item]
    var privacy = Vector.empty[(String, String)]
    while (!s.atEnd && !s.startsWith("---")) {
      items += parseItem(s)
      s.ws()
    }
    if (s.startsWith("---")) { // privacy section
      s.pos += 3; s.ws()
      while (!s.atEnd) {
        val f = s.takeWhile(c => VParser.isIdent(c))
        s.ws(); s.expectCh(':'); s.ws()
        val p = s.takeWhile(c => VParser.isIdent(c))
        privacy :+= (f -> p)
        s.ws()
      }
    }
    Model(name, rules, statics, items.result(), privacy)
  }

  private def stripComments(src: String): String =
    src.linesIterator.map { l =>
      val i = l.indexOf('#')
      if (i >= 0) l.substring(0, i) else l
    }.mkString("\n")

  private def parseItem(s: TextCursor): Item = {
    s.ws()
    val targets = Vector.newBuilder[Target]
    var more = true
    while (more) {
      s.ws()
      val n =
        if (!s.atEnd && s.peek == '*') { s.pos += 1; "*" }
        else if (!s.atEnd && s.peek == '_' &&
          (s.pos + 1 >= s.src.length || !VParser.isIdent(s.src.charAt(s.pos + 1)))) { s.pos += 1; "_" }
        else s.takeWhile(c => VParser.isIdent(c) || c == '*')
      var dt: Option[String] = None
      s.ws()
      if (!s.atEnd && s.peek == ':') {
        s.pos += 1; s.ws()
        dt = Some(s.takeWhile(c => VParser.isIdent(c)))
        s.ws()
      }
      targets += Target(n, dt)
      if (!s.atEnd && s.peek == ',') { s.pos += 1 } else more = false
    }
    s.expectCh('='); s.ws()
    val e = parseEval(s)
    s.ws()
    if (!s.atEnd && s.peek == ';') s.pos += 1
    Item(targets.result(), e)
  }

  def parseEval(s: TextCursor): Eval = {
    s.ws()
    val base: Eval =
      if (s.startsWithKw("take") || s.startsWithKw("read")) parseAcq(s)
      else if (s.startsWithKw("fmt")) parseFmt(s)
      else if (s.startsWithKw("pipe")) { s.pos += 4; parseEval(s) }
      else if (s.startsWithKw("object")) parseObject(s)
      else if (s.startsWithKw("collect")) {
        s.pos += 7; s.ws()
        CollectE(parseVarGet(s) match {
          case a: Acq => a
          case other => throw new OErr(s"collect needs read/take, got $other", s.pos)
        })
      }
      else if (s.startsWithKw("match")) parseMatch(s)
      else if (s.startsWithKw("select")) parseSql(s)
      else if (s.startsWith("Now::")) {
        s.pos += 5
        val k = s.takeWhile(_.isLetter)
        s.ws(); s.expectCh('('); s.ws(); s.expectCh(')')
        NowE(k)
      }
      else if (!s.atEnd && s.peek == '@') { s.pos += 1; Acq(consume = false,
        Vector(s.takeWhile(c => VParser.isIdent(c))), Vector.empty, None, None) }
      else parseValueE(s)
    // pipe chain
    s.ws()
    if (!s.atEnd && s.peek == '|') {
      val funs = Vector.newBuilder[(String, Vector[String])]
      while (!s.atEnd && s.peek == '|') {
        s.pos += 1; s.ws()
        val fn = s.takeWhile(c => c.isLetterOrDigit || c == '_' || c == ':')
        var args = Vector.empty[String]
        s.ws()
        if (!s.atEnd && s.peek == '(') {
          s.pos += 1
          var depth = 0
          val sb = new StringBuilder
          while (!s.atEnd && !(s.peek == ')' && depth == 0)) {
            if (s.peek == '(') depth += 1
            if (s.peek == ')') depth -= 1
            sb.append(s.peek); s.pos += 1
          }
          s.expectCh(')')
          args = sb.toString.split(',').map(_.trim).filter(_.nonEmpty).toVector
        }
        funs += (fn -> args)
        s.ws()
      }
      PipeE(base, funs.result())
    } else base
  }

  private def parseVarGet(s: TextCursor): Eval = {
    s.ws()
    if (!s.atEnd && s.peek == '@') {
      s.pos += 1
      Acq(consume = false, Vector(s.takeWhile(c => VParser.isIdent(c))), Vector.empty, None, None)
    } else if (s.startsWithKw("take") || s.startsWithKw("read")) parseAcq(s, allowDefault = false)
    else parseValueE(s)
  }

  private def parseAcq(s: TextCursor, allowDefault: Boolean = true): Acq = {
    val consume = s.startsWithKw("take")
    s.pos += 4
    s.ws(); s.expectCh('('); s.ws()
    var keys = Vector.empty[String]
    var optKeys = Vector.empty[String]
    var jsonPath: Option[String] = None
    // a key character outside the set would never advance the cursor
    def key(p: Char => Boolean): String = {
      val k = s.takeWhile(p)
      if (k.isEmpty) throw new OErr(s"unexpected '${s.peek}' in take/read keys", s.pos)
      k
    }
    while (!s.atEnd && s.peek != ')') {
      if (s.startsWithKw("option") || s.startsWithKw("keys") || s.startsWithKw("in")) {
        s.takeWhile(_.isLetter)
        s.ws()
        if (!s.atEnd && s.peek == ':') s.pos += 1
        s.ws(); s.expectCh('['); s.ws()
        while (!s.atEnd && s.peek != ']') {
          optKeys :+= key(c => VParser.isIdent(c) || c == '*')
          s.ws()
          if (!s.atEnd && s.peek == ',') { s.pos += 1; s.ws() }
        }
        s.expectCh(']')
      } else if (s.startsWithKw("get")) {
        s.pos += 3; s.ws(); s.expectCh(':'); s.ws()
        keys :+= s.takeWhile(c => VParser.isIdent(c))
      } else if (s.peek == '/') {
        jsonPath = Some(s.takeWhile(c => VParser.isIdent(c) || c == '/' || c == '[' || c == ']'))
      } else {
        keys :+= key(c => VParser.isIdent(c) || c == '*')
      }
      s.ws()
      if (!s.atEnd && s.peek == ',') { s.pos += 1; s.ws() }
    }
    s.expectCh(')')
    s.ws()
    var default: Option[Eval] = None
    if (allowDefault && !s.atEnd && s.peek == '{') {
      s.pos += 1; s.ws(); s.expectCh('_'); s.ws(); s.expectCh(':'); s.ws()
      default = Some(parseEval(s))
      s.ws(); if (!s.atEnd && s.peek == ';') { s.pos += 1; s.ws() }
      s.expectCh('}')
    }
    Acq(consume, keys, optKeys, jsonPath, default)
  }

  /** Literal positions (match conds) require an actual literal. */
  private def parseLitE(s: TextCursor): ValueE = parseValueE(s) match {
    case v: ValueE => v
    case other => throw new OErr(s"expected literal, got reference $other", s.pos)
  }

  /** Literal or reference in value position (docs/dar/oml_static_blocks.md
    * new DSL): `dtype(lit)` typed literal, a bare `"string"` literal, or a
    * bare identifier — a symbol reference resolving dst-first, then
    * static constants, then the input record (no `read()` needed). */
  private def parseValueE(s: TextCursor): Eval = {
    s.ws()
    if (!s.atEnd && (s.peek == '"' || s.peek == '\'')) {
      val q = s.peek; s.pos += 1
      val sb = new StringBuilder
      while (!s.atEnd && s.peek != q) { sb.append(s.peek); s.pos += 1 }
      s.expectCh(q)
      return ValueE("chars", sb.toString)
    }
    val t = s.takeWhile(c => VParser.isIdent(c))
    if (t.isEmpty) throw new OErr(s"expected expression near '${s.src.drop(s.pos).take(20)}'", s.pos)
    s.ws()
    if (s.atEnd || s.peek != '(') return StaticRef(t)
    s.expectCh('(')
    var depth = 0
    val sb = new StringBuilder
    while (!s.atEnd && !(s.peek == ')' && depth == 0)) {
      if (s.peek == '(') depth += 1
      if (s.peek == ')') depth -= 1
      sb.append(s.peek); s.pos += 1
    }
    s.expectCh(')')
    var lit = sb.toString.trim
    if (lit.length >= 2 && ((lit.startsWith("\"") && lit.endsWith("\"")) ||
        (lit.startsWith("'") && lit.endsWith("'"))))
      lit = lit.substring(1, lit.length - 1)
    ValueE(t, lit)
  }

  private def parseFmt(s: TextCursor): FmtE = {
    s.pos += 3; s.ws(); s.expectCh('('); s.ws()
    val q = s.peek
    if (q != '"' && q != '\'') throw new OErr("fmt needs a string template", s.pos)
    s.pos += 1
    val tpl = new StringBuilder
    while (!s.atEnd && s.peek != q) { tpl.append(s.peek); s.pos += 1 }
    s.expectCh(q)
    val args = Vector.newBuilder[Eval]
    s.ws()
    while (!s.atEnd && s.peek == ',') {
      s.pos += 1; s.ws()
      args += parseVarGet(s)
      s.ws()
    }
    s.expectCh(')')
    FmtE(tpl.toString, args.result())
  }

  private def parseObject(s: TextCursor): ObjectE = {
    s.pos += 6; s.ws(); s.expectCh('{'); s.ws()
    val items = Vector.newBuilder[Item]
    while (!s.atEnd && s.peek != '}') {
      items += parseItem(s)
      s.ws()
    }
    s.expectCh('}')
    ObjectE(items.result())
  }

  private def parseMatch(s: TextCursor): MatchE = {
    s.pos += 5; s.ws()
    val sources: Vector[Eval] =
      if (s.peek == '(') {
        s.pos += 1
        val out = Vector.newBuilder[Eval]
        s.ws()
        while (!s.atEnd && s.peek != ')') {
          out += parseVarGet(s)
          s.ws()
          if (!s.atEnd && s.peek == ',') { s.pos += 1; s.ws() }
        }
        s.expectCh(')')
        out.result()
      } else Vector(parseVarGet(s))
    s.ws(); s.expectCh('{'); s.ws()
    val cases = Vector.newBuilder[(Vector[Vector[Cond]], Eval)]
    var default: Option[Eval] = None
    while (!s.atEnd && s.peek != '}') {
      if (s.peek == '_') {
        s.pos += 1; s.ws(); s.expect("=>"); s.ws()
        default = Some(parseEval(s))
      } else {
        val conds: Vector[Vector[Cond]] =
          if (sources.length > 1) {
            s.expectCh('(')
            val out = Vector.newBuilder[Vector[Cond]]
            s.ws()
            while (!s.atEnd && s.peek != ')') {
              out += parseCondOr(s)
              s.ws()
              if (!s.atEnd && s.peek == ',') { s.pos += 1; s.ws() }
            }
            s.expectCh(')')
            out.result()
          } else Vector(parseCondOr(s))
        s.ws(); s.expect("=>"); s.ws()
        val e = parseEval(s)
        cases += (conds -> e)
      }
      s.ws()
      while (!s.atEnd && (s.peek == ',' || s.peek == ';')) { s.pos += 1; s.ws() }
    }
    s.expectCh('}')
    MatchE(sources, cases.result(), default)
  }

  private def parseCondOr(s: TextCursor): Vector[Cond] = {
    val out = Vector.newBuilder[Cond]
    out += parseCond(s)
    s.ws()
    while (!s.atEnd && s.peek == '|') {
      s.pos += 1; s.ws()
      out += parseCond(s)
      s.ws()
    }
    out.result()
  }

  private def parseCond(s: TextCursor): Cond = {
    s.ws()
    if (s.startsWithKw("in")) {
      s.pos += 2; s.ws(); s.expectCh('('); s.ws()
      val lo = parseLitE(s)
      s.ws(); s.expectCh(','); s.ws()
      val hi = parseLitE(s)
      s.ws(); s.expectCh(')')
      CondIn(lo, hi)
    } else if (!s.atEnd && s.peek == '!') {
      s.pos += 1; s.ws()
      CondNeq(parseLitE(s))
    } else {
      val m = s.pos
      val name = s.takeWhile(c => VParser.isIdent(c))
      s.ws()
      if (MatchFuns(name)) {
        s.expectCh('('); s.ws()
        // quote-aware, comma-separated args (a quoted pattern may itself
        // contain ')' or ',' — e.g. starts_with("jk2_init() Found
        // child") in oml_static_blocks.md); in_range takes two args,
        // is_empty none
        val args = Vector.newBuilder[String]
        var first = true
        while (!s.atEnd && s.peek != ')') {
          if (!first) { s.expectCh(','); s.ws() }
          first = false
          if (!s.atEnd && (s.peek == '"' || s.peek == '\'')) {
            val q = s.peek; s.pos += 1
            val sb = new StringBuilder
            while (!s.atEnd && s.peek != q) { sb.append(s.peek); s.pos += 1 }
            s.expectCh(q); s.ws()
            args += sb.toString
          } else {
            val sb = new StringBuilder
            while (!s.atEnd && s.peek != ')' && s.peek != ',') {
              sb.append(s.peek); s.pos += 1
            }
            args += sb.toString.trim
            s.ws()
          }
        }
        s.expectCh(')')
        CondFun(name, args.result())
      } else { s.pos = m; CondEq(parseLitE(s)) }
    }
  }

  private def parseSql(s: TextCursor): SqlE = {
    s.pos += 6; s.ws()
    val cols = Vector.newBuilder[String]
    var more = true
    while (more) {
      s.ws()
      cols += s.takeWhile(c => c.isLetterOrDigit || c == '_' || c == '.' || c == '*')
      s.ws()
      if (!s.atEnd && s.peek == ',') s.pos += 1 else more = false
    }
    s.expect("from"); s.ws()
    val table = s.takeWhile(c => c.isLetterOrDigit || c == '_' || c == '.')
    s.ws()
    s.expect("where"); s.ws()
    val cond = parseSqlCond(s)
    SqlE(cols.result(), table, cond)
  }

  private def parseSqlCond(s: TextCursor): SqlCond = {
    var left = parseSqlCmp(s)
    s.ws()
    while (s.startsWithKw("and") || s.startsWithKw("or")) {
      val isAnd = s.startsWithKw("and")
      s.pos += (if (isAnd) 3 else 2)
      s.ws()
      val right = parseSqlCmp(s)
      left = if (isAnd) SqlAnd(left, right) else SqlOr(left, right)
      s.ws()
    }
    left
  }

  private def parseSqlCmp(s: TextCursor): SqlCond = {
    s.ws()
    if (s.startsWithKw("not")) { s.pos += 3; return SqlNot(parseSqlCmp(s)) }
    if (!s.atEnd && s.peek == '(') {
      s.pos += 1
      val c = parseSqlCond(s)
      s.ws(); s.expectCh(')')
      return c
    }
    val col = s.takeWhile(c => c.isLetterOrDigit || c == '_' || c == '.')
    s.ws()
    val op = s.takeWhile(c => c == '<' || c == '>' || c == '=' || c == '!')
    s.ws()
    val rhs: SqlRhs =
      if (s.startsWithKw("read") || s.startsWithKw("take")) RhsAcq(parseAcq(s), ip4Int = false)
      else if (s.startsWith("ip4_int")) {
        s.pos += 7; s.ws(); s.expectCh('('); s.ws()
        val a = parseAcq(s)
        s.ws(); s.expectCh(')')
        RhsAcq(a, ip4Int = true)
      } else if (!s.atEnd && (s.peek == '\'' || s.peek == '"')) {
        val q = s.peek; s.pos += 1
        val sb = new StringBuilder
        while (!s.atEnd && s.peek != q) { sb.append(s.peek); s.pos += 1 }
        s.expectCh(q)
        RhsLit(sb.toString)
      } else RhsLit(s.takeWhile(c => c.isLetterOrDigit || c == '.' || c == '-'))
    SqlCmp(col, op, rhs)
  }
}
