package perfbench

import java.nio.file.Path
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** `wparse_batch`: a seeded corpus through `wparse project <dir>` on the
  * benchmark's project instance, run in-process through the CLI. */
object Batch {
  val Lines: Long = 200000L
  val Files = 8
  /** Set-up: untimed passes over the same input warm the JIT for both
    * the per-record kernels and the per-job scheduling path (with fewer, the
    * timed passes still speed up pass after pass). */
  val WarmPasses = 3
  val MinPasses = 4
  /** Lines of the single-thread parser/evaluator sample (traced run). */
  val SampleLines = 100000

  def cli(inst: Path): Unit = graft.cli.Cli.main(Array("wparse", "project", inst.toString))

  /** Write the corpus into `dir`; returns the truth folded from every
    * generated line. */
  def generate(o: Opts, dir: Path, lines: Long): Truth.Acc = {
    val want = new Truth.Acc
    (0 until Files).foreach { f =>
      Gen.writeFile(dir.resolve(s"part-$f.log").toFile, o.seed,
        lines * f / Files, lines * (f + 1) / Files)(want.add)
    }
    want
  }

  /** A fresh copy of the instance whose file source reads `input`. Each
    * timed pass gets its own, so no pass deletes an earlier pass's
    * output inside its timed region. */
  def instance(o: Opts, dir: Path, input: Path): Path = {
    Common.copyTree(o.instance, dir)
    Common.writeFile(dir.resolve("topology/sources/wpsrc.toml"),
      s"""version = "1.0"
         |
         |[[source_file]]
         |key = "gen"
         |path = "$input"
         |enable = true
         |encode = "text"
         |""".stripMargin)
    dir
  }

  def run(o: Opts, spark: SparkSession, res: Result, spans: Option[Spans]): Unit = {
    def span[T](n: String)(b: => T): T = spans.fold(b)(_(n)(b))
    val input = o.work.resolve("input")
    val want = span("generate")(generate(o, input, Lines))
    val warm = instance(o, o.work.resolve("warm-instance"), input)
    span("warmup")((1 to WarmPasses).foreach(_ => cli(warm)))
    res.put("setup_s", o.sinceLaunch, "s")
    Common.deleteTree(warm)

    val times = Vector.newBuilder[Double]
    val t0 = System.nanoTime()
    var passes = 0
    def next() = instance(o, o.work.resolve(s"pass-$passes"), input)
    var inst = next()
    while (passes < MinPasses || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      if (passes > 0) {
        // only the last pass's output is checked; dropping the others
        // while they are young keeps the run's clean-up short
        Common.deleteTree(inst)
        inst = next()
      }
      val dt = span("wparse_project")(Common.time(cli(inst)))._2
      println(f"[perfbench] pass $passes: $dt%.3f s")
      times += dt
      passes += 1
    }
    // the unit of latency is one `wparse project` pass over the corpus
    val t = times.result()
    res.endToEnd(o.trace, Lines / Common.median(t), Common.median(t) * 1000)
    res.attempted = Lines * passes

    spans.foreach(layers(o, spark, res, input, _))
    // outputs of the last pass, against the generator's truth
    span("check")(Truth.compare(inst.resolve("out").toFile, want, Lines, o.threads, res))
    Seq(inst, input).foreach(Common.deleteTree)
  }

  /** The traced runs of the other workloads measure the same layers over
    * the same corpus, after one untimed warm pass. */
  def probe(o: Opts, spark: SparkSession, res: Result, spans: Spans): Unit = {
    val input = o.work.resolve("input")
    spans("generate")(generate(o, input, Lines))
    val warm = instance(o, o.work.resolve("warm-instance"), input)
    spans("warmup")(cli(warm))
    layers(o, spark, res, input, spans)
    Seq(warm, input).foreach(Common.deleteTree)
  }

  /** Traced run: time each layer through its own public functions. */
  def layers(o: Opts, spark: SparkSession, res: Result, input: Path, spans: Spans): Unit = {
    val t = new StageTotals
    spark.sparkContext.addSparkListener(t)
    val inst = instance(o, o.work.resolve("traced-instance"), input)
    val p = graft.project.Project.load(inst.toString)
    val db = graft.project.KnowDbLoader.load(p.root)
    val sample = (0L until SampleLines).map(Gen.line(o.seed, _).text).toArray

    // wpl: single-thread parseLine over the sample
    val mp = graft.wpl.Runtime.compile(p.wplSource)
    def parseAll() = sample.map(mp.parseLine)
    parseAll() // JIT warm
    val (parsed, _) = Common.time(parseAll())
    val wplNs = Common.median((1 to 3).map(_ => spans("wpl.parseLine")(
      Common.time(parseAll())._2))) * 1e9 / SampleLines
    res.put("wpl.ns_per_line", wplNs, "ns")
    res.put("wpl.lines_success", parsed.count(_.isInstanceOf[graft.wpl.PSuccess]), "count")
    res.put("wpl.lines_partial", parsed.count(_.isInstanceOf[graft.wpl.PPartial]), "count")
    res.put("wpl.lines_miss", parsed.count(_.isInstanceOf[graft.wpl.PMiss]), "count")

    // oml: single-thread transform over the sample's parsed records
    val models = p.omlSources.map(m => graft.oml.OmlText.parse(m._2))
    val evals = models.map(new graft.oml.OmlEval(_, db))
    val records = parsed.collect {
      case graft.wpl.PSuccess(k, fs) => (k, fs)
      case graft.wpl.PPartial(k, fs, _) => (k, fs)
    }.flatMap { case (k, fs) =>
      val mi = models.indexWhere(_.matchesRule(k))
      if (mi < 0) None else Some((evals(mi), fs))
    }
    def transformAll() = records.map { case (e, fs) => e.transform(fs) }
    transformAll()
    val omlNs = Common.median((1 to 3).map(_ => spans("oml.transform")(
      Common.time(transformAll())._2))) * 1e9 / records.length
    res.put("oml.ns_per_record", omlNs, "ns")
    res.put("oml.records_ok", transformAll().count(_.isDefined), "count")

    // engine: Pipeline.run over the whole input, forced by an aggregate
    // with no sinks
    def snap() = { PerfbenchBus.drain(spark.sparkContext); t.snap() }
    val e0 = snap()
    val (_, engineS) = spans("engine.Pipeline.run")(Common.time {
      graft.engine.Pipeline.run(
        spark.read.text(input.toString).withColumnRenamed("value", "raw_line"),
        "raw_line", p.wplSource, p.omlSources.map(_._2), keep = Seq("raw_line"), knowDb = db)
        .groupBy(col("status")).count().collect()
    })
    val e = snap() - e0
    res.put("engine.parse_transform_s", engineS, "s")
    res.put("engine.task_s", e.taskS, "s")

    // project / sinks: listener totals around one CLI pass
    val p0 = snap()
    val (_, runS) = spans("project.wparse_project")(Common.time(cli(inst)))
    val d = snap() - p0
    val nSinks = (p.business ++ p.infra.values).map(_.sinks.size).sum
    res.put("project.run_s", runS, "s")
    res.put("project.jobs", d.jobs, "count")
    res.put("project.tasks", d.tasks, "count")
    res.put("project.task_s", d.taskS, "s")
    res.put("project.gc_s", d.gcS, "s")
    res.put("project.bytes_written", d.written, "bytes")
    res.put("sinks.route_write_s", runS - engineS, "s")
    res.put("sinks.records_written", d.records, "count")
    res.put("sinks.jobs_per_sink", d.jobs.toDouble / nSinks, "count")
    spark.sparkContext.removeSparkListener(t)
    Common.deleteTree(inst)
  }
}
