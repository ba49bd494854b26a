package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.WplEngine
import graft.functions.ParseWpl
import graft.sinks.Formatters

/** The compiled sink-record kernels (`Formatters.line`,
  * `WplEngine.fieldSval`, `WplEngine.jsonQuote`) against the
  * `transform`/`filter` expression trees they replaced, kept below as
  * the oracle, over random `fields` arrays: NULL arrays, elements,
  * names, dtypes and svals, every dtype, quotes, backslashes, C0
  * controls and 2-, 3- and 4-byte UTF-8. The one intended difference:
  * json strings now escape every C0 control as `\u00xx` (the old
  * quoting escaped only `\n` `\r` `\t`), so the json oracle adds those
  * escapes the way the victorialogs sink used to. Each case runs with
  * codegen forced on and with the interpreted path. */
class SinkKernelParitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // ---- the pre-kernel expressions (oracle) ---------------------------

  private def oldJsonQuote(c: Column): Column = concat(lit("\""),
    replace(replace(replace(replace(replace(
      c, lit("\\"), lit("\\\\")), lit("\""), lit("\\\"")),
      lit("\n"), lit("\\n")), lit("\r"), lit("\\r")), lit("\t"), lit("\\t")),
    lit("\""))

  /** The remaining C0 escapes, as `VictoriaLogsSink.prepare` applied them. */
  private def c0Escaped(c: Column): Column =
    (0x00 until 0x20).filterNot(Seq(0x09, 0x0a, 0x0d).contains).foldLeft(c) { (q, i) =>
      regexp_replace(q, java.util.regex.Pattern.quote(i.toChar.toString), f"\\\\u$i%04x")
    }

  private def oldLine(fmt: String, fields: Column, c0: Boolean): Column = {
    val quote = (c: Column) => if (c0) c0Escaped(oldJsonQuote(c)) else oldJsonQuote(c)
    fmt match {
      case "json" =>
        val item = (f: Column) => concat(
          quote(f.getField("name")), lit(":"),
          when(f.getField("dtype").isin("digit", "float", "bool", "obj", "array"),
            f.getField("sval"))
            .when(f.getField("dtype") === "null", lit("null"))
            .otherwise(quote(f.getField("sval"))))
        concat(lit("{"), array_join(transform(fields, item), ","), lit("}"))
      case "kv" =>
        array_join(transform(fields, f =>
          concat(f.getField("name"), lit("="), f.getField("sval"))), " ")
      case "csv" =>
        array_join(transform(fields, f => {
          val s = f.getField("sval")
          when(s.contains(",") || s.contains("\"") || s.contains("\n"),
            concat(lit("\""), replace(s, lit("\""), lit("\"\"")), lit("\"")))
            .otherwise(s)
        }), ",")
      case "raw" =>
        coalesce(
          try_element_at(filter(fields, f => f.getField("name") === "raw_log"), lit(1))
            .getField("sval"),
          array_join(transform(fields, f =>
            concat(f.getField("name"), lit("="), f.getField("sval"))), " "))
      case "proto_text" =>
        array_join(transform(fields, f =>
          concat(f.getField("name"), lit(": "),
            when(f.getField("dtype").isin("digit", "float", "bool"), f.getField("sval"))
              .otherwise(concat(lit("\""),
                replace(f.getField("sval"), lit("\""), lit("\\\"")), lit("\""))))), " ")
    }
  }

  private def oldFieldSval(name: String): Column =
    try_element_at(filter(col("fields"), f => f.getField("name") === name), lit(1))
      .getField("sval")

  // ---- random records ------------------------------------------------

  private val pieces = Vector("a", "Z", "7", "-", " ", ",", "=", ":", "{", "\"", "\\",
    "\n", "\r", "\t", "\u0000", "\u0001", "\u0007", "\u001b", "\u001f", "\u007f",
    "é", "ß", "中", "文", "😀", "𝄞")
  private val dtypes = Vector("digit", "float", "bool", "obj", "array", "null", "chars",
    "time", "ip", "", "DIGIT")
  private val names = Vector("a", "b", "raw_log", "http/status", "", "\"q\"", "é\u001b")
  private val C0 = (0 until 0x20).filterNot(Seq(0x09, 0x0a, 0x0d).contains).map(_.toChar).toSet

  private def randStr(r: scala.util.Random): String =
    Seq.fill(r.nextInt(7))(pieces(r.nextInt(pieces.length))).mkString

  /** 1500 records; about 1 in 12 of arrays, elements, names, dtypes and
    * svals is NULL. */
  private lazy val records: DataFrame = {
    val r = new scala.util.Random(20261019L)
    def maybe[T <: AnyRef](t: => T): T = if (r.nextInt(12) == 0) null.asInstanceOf[T] else t
    val rows = (0 until 1500).map { id =>
      val fields = r.nextInt(10) match {
        case 0 => null
        case 1 => Seq.empty[Row]
        case _ => Seq.fill(1 + r.nextInt(6))(maybe[Row](Row(
          maybe[String](if (r.nextBoolean()) names(r.nextInt(names.length)) else randStr(r)),
          maybe[String](dtypes(r.nextInt(dtypes.length))),
          maybe[String](randStr(r)))))
      }
      Row(id.toLong, fields)
    }
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("fields", ArrayType(ParseWpl.fieldType))))
    // an RDD-backed frame, so the projections run on executors (a local
    // relation would be folded by the optimizer, always interpreted)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
  }

  private def hasOtherC0(fields: Any): Boolean = fields match {
    case null => false
    case fs: scala.collection.Seq[_] => fs.exists {
      case row: Row => (0 until 3).exists(i => !row.isNullAt(i) && row.getString(i).exists(C0))
      case _ => false
    }
  }

  private val modes = Seq(
    "codegen" -> Map("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.wholeStage" -> "true", "spark.sql.codegen.fallback" -> "false"),
    "NO_CODEGEN" -> Map("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false"))

  private def withConf(conf: Map[String, String])(body: => Unit): Unit = {
    val before = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def show(s: String): String =
    if (s == null) "NULL" else s.flatMap(c => if (c < 0x20) f"<$c%02x>" else c.toString)

  /** (id, fields, kernel, oracle...) rows where the kernel differs from `oracle`. */
  private def diffs(kernel: Column, oracle: Column): Seq[String] =
    records.select(col("id"), kernel.as("k"), oracle.as("o"))
      .collect().toSeq
      .filter(r => r.getString(1) != r.getString(2))
      .map(r => s"id=${r.getLong(0)} kernel=${show(r.getString(1))} oracle=${show(r.getString(2))}")

  for ((mode, conf) <- modes) {
    for (fmt <- Seq("json", "kv", "csv", "raw", "proto_text"))
      test(s"Formatters.line($fmt) equals the pre-kernel expression ($mode)") {
        withConf(conf) {
          val bad = diffs(Formatters.line(fmt, col("fields")),
            oldLine(fmt, col("fields"), c0 = fmt == "json"))
          assert(bad.isEmpty, s"${bad.size} differing lines, e.g.\n${bad.take(5).mkString("\n")}")
        }
      }

    test(s"json lines differ from the pre-kernel ones only on C0 escapes ($mode)") {
      withConf(conf) {
        val rows = records.select(col("fields"), Formatters.line("json", col("fields")),
          oldLine("json", col("fields"), c0 = false)).collect()
        val (plain, ctrl) = rows.partition(r => !hasOtherC0(r.get(0)))
        assert(plain.length > 300 && ctrl.length > 300)
        plain.foreach(r => assert(r.getString(1) == r.getString(2), show(r.getString(1))))
        assert(ctrl.exists(r => r.getString(1) != r.getString(2)))
        // the null cases all occur: NULL array → NULL line, empty → {}
        assert(rows.exists(r => r.isNullAt(0) && r.isNullAt(1)))
        assert(rows.exists(r => !r.isNullAt(0) && r.getSeq[Row](0).isEmpty && r.getString(1) == "{}"))
      }
    }

    test(s"WplEngine.fieldSval equals the pre-kernel lookup ($mode)") {
      withConf(conf) {
        for (name <- names :+ "absent") {
          val bad = diffs(WplEngine.fieldSval(name), oldFieldSval(name))
          assert(bad.isEmpty, s"$name: ${bad.take(5).mkString("\n")}")
        }
        // lookups in a predicate and a cast, as SinkRouter.compile builds them
        val pred = graft.sinks.SinkRouter.compile("isset($a) and not $b == chars(Z)")
        val oldPred = oldFieldSval("a").isNotNull && !(oldFieldSval("b") === "Z")
        assert(records.filter(pred.eqNullSafe(oldPred)).count() == records.count())
      }
    }

    test(s"WplEngine.jsonQuote equals Json.quote and the old quoting off C0 ($mode)") {
      withConf(conf) {
        val r = new scala.util.Random(7L)
        val strs = Seq.fill(600)(randStr(r)) ++ Seq("", "\"", "\\", "\u001b[31mred\u001b[0m")
        import spark.implicits._
        val got = spark.sparkContext.parallelize(strs, 4).toDF("s")
          .select(col("s"), WplEngine.jsonQuote(col("s")), oldJsonQuote(col("s"))).collect()
        got.foreach { row =>
          val s = row.getString(0)
          assert(row.getString(1) == graft.wpl.Json.quote(s), show(s))
          if (!s.exists(C0)) assert(row.getString(1) == row.getString(2), show(s))
        }
        assert(spark.range(1).select(WplEngine.jsonQuote(lit(null).cast("string"))).head().isNullAt(0))
      }
    }
  }
}
