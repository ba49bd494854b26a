package graft.project

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}

/** Project-instance loading + batch execution (reference wp-proj):
  * modern business.d/infra.d + connector layout, the legacy layout the
  * reference ships in tests/instance (root sink.toml + framework.toml),
  * allow_override enforcement, matcher checking, e2e routed writes. */
class ProjectSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def write(root: Path, rel: String, content: String): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, content.getBytes("UTF-8"))
  }

  private val wpl = "package /t { rule kv { (kvarr) } }"
  private val oml =
    """name : m
      rule : /t/*
      ---
      user : chars = take(option:[user]) ;
      st : digit = take(option:[st]) { _ : digit(0) } ;
      * = take() ;
    """

  /** Modern layout: conf + business.d/infra.d routes + connectors. */
  private def modernProject(): Path = {
    val root = Files.createTempDirectory("graft-proj")
    write(root, "conf/wparse.toml",
      """version = "1.0"
        |[models]
        |wpl = "./wpl"
        |oml = "./oml"
        |[topology]
        |sources = "./topology/sources"
        |sinks = "./topology/sinks"
        |""".stripMargin)
    write(root, "wpl/parse.wpl", wpl)
    write(root, "oml/m.oml", oml)
    write(root, "src_dat/gen.dat", Seq(
      "user=alice st=200 op=read",
      "user=bob st=404 op=write",
      "user=carol st=200 op=del",
      "%%% unparseable %%% ###").mkString("\n"))
    write(root, "topology/sources/wpsrc.toml",
      """[[source_file]]
        |key = "file_1"
        |path = "./src_dat/gen.dat"
        |enable = true
        |encode = "text"
        |tags = ["dev_src_ip : 10.0.0.1"]
        |
        |[[source_file]]
        |key = "file_2"
        |path = "./src_dat/missing.dat"
        |enable = false
        |""".stripMargin)
    write(root, "connectors/sink.d/00-file.toml",
      """[[connectors]]
        |id = "file_raw_sink"
        |type = "file"
        |allow_override = ["base", "file", "fmt"]
        |[connectors.params]
        |base = "./out"
        |file = "default.dat"
        |fmt = "json"
        |""".stripMargin)
    write(root, "topology/sinks/defaults.toml",
      """[defaults]
        |tags = ["env : test"]
        |""".stripMargin)
    write(root, "topology/sinks/business.d/m.toml",
      """version = "2.0"
        |[sink_group]
        |name = "m_group"
        |oml = ["m"]
        |
        |[[sink_group.sinks]]
        |name = "m_all"
        |use = "file_raw_sink"
        |params = { file = "m_all.dat", fmt = "kv" }
        |
        |[[sink_group.sinks]]
        |name = "m_err"
        |use = "file_raw_sink"
        |params = { file = "m_err.dat" }
        |filter = "$st == digit(404)"
        |[sink_group.sinks.expect]
        |ratio = 0.125
        |tol = 0.01
        |""".stripMargin)
    write(root, "topology/sinks/infra.d/default.toml",
      """version = "2.0"
        |[sink_group]
        |name = "default"
        |[[sink_group.sinks]]
        |name = "default"
        |use = "file_raw_sink"
        |params = { file = "default.dat" }
        |""".stripMargin)
    write(root, "topology/sinks/infra.d/miss.toml",
      """version = "2.0"
        |[sink_group]
        |name = "miss"
        |[[sink_group.sinks]]
        |name = "miss"
        |use = "file_raw_sink"
        |params = { file = "miss.dat", fmt = "raw" }
        |""".stripMargin)
    write(root, "topology/sinks/infra.d/intercept.toml",
      """version = "2.0"
        |[sink_group]
        |name = "intercept"
        |[[sink_group.sinks]]
        |name = "intercept"
        |use = "file_raw_sink"
        |params = { file = "intercept.dat" }
        |""".stripMargin)
    write(root, "topology/sinks/infra.d/monitor.toml",
      """version = "2.0"
        |[sink_group]
        |name = "monitor"
        |[[sink_group.sinks]]
        |name = "monitor"
        |use = "file_raw_sink"
        |params = { file = "monitor.dat" }
        |""".stripMargin)
    root
  }

  test("modern layout: load resolves connectors, defaults, expects") {
    val p = Project.load(modernProject().toString)
    assert(p.fileSources.map(_.key) == Vector("file_1", "file_2"))
    assert(p.fileSources.head.tags == Map("dev_src_ip" -> "10.0.0.1"))
    assert(p.connectors.keySet == Set("file_raw_sink"))
    assert(p.business.map(_.name) == Vector("m_group"))
    val g = p.business.head
    assert(g.omlPatterns == Vector("m"))
    val all = g.sinks.find(_.name == "m_all").get
    assert(all.kind == "file" && all.fmt == "kv")
    assert(all.path.contains("./out/m_all.dat"))
    assert(all.tags == Vector("env : test")) // defaults merged
    val err = g.sinks.find(_.name == "m_err").get
    assert(err.fmt == "json") // connector default fmt
    assert(err.filter.contains("$st == digit(404)"))
    assert(err.expect.exists(e => e.ratio.contains(0.125) && e.tol.contains(0.01)))
    assert(p.infra.keySet == Set("default", "miss", "intercept", "monitor"))
    assert(Project.check(p).isEmpty, Project.check(p).mkString("; "))
  }

  test("allow_override: non-whitelisted param raises") {
    val conn = Project.ConnectorDef("c", "file", Vector("file"), Map("base" -> "./out"))
    val e = intercept[IllegalArgumentException] {
      Project.mergeParams(conn, Map("path" -> "/etc/x"), "here")
    }
    assert(e.getMessage.contains("allow_override"))
    // nested params blacklist
    intercept[IllegalArgumentException] {
      Project.mergeParams(conn, Map("params" -> "x"), "here")
    }
  }

  test("check flags bad matchers, missing sources, bad filters") {
    val root = modernProject()
    write(root, "topology/sinks/business.d/bad.toml",
      """[sink_group]
        |name = "bad"
        |oml = ["nope_*"]
        |[[sink_group.sinks]]
        |name = "s"
        |use = "file_raw_sink"
        |params = { file = "bad.dat" }
        |""".stripMargin)
    // an option key the OML parser cannot read is an error at its
    // position, not a loop that never advances
    val badOml = "name : m\n---\nst : digit = take(option:[http/status]) ;"
    val e = intercept[Exception](graft.oml.OmlText.parse(badOml))
    assert(e.getMessage.contains("unexpected '/'"), e.getMessage)
    write(root, "oml/bad.oml", badOml)
    val problems = Project.check(Project.load(root.toString))
    assert(problems.exists(_.contains("matches no loaded model")))
    assert(problems.exists(m => m.startsWith("oml 'bad'") && m.contains("unexpected '/'")),
      problems.mkString("; "))
  }

  test("runBatch: routed writes, intercept divert, expects validated") {
    val root = modernProject()
    val reports = ProjectRun.runBatch(spark, Project.load(root.toString))
    val byName = reports.map(r => s"${r.group}/${r.sink}" -> r).toMap

    // 3 parsed+transformed records fan out to m_all; 404 diverted from m_err
    assert(byName("m_group/m_all").rows == 3)
    assert(byName("m_group/m_err").rows == 1)
    assert(byName("m_group/m_err").intercepted == 2)
    assert(byName("miss/miss").rows == 1)
    assert(byName("default/default").rows == 0)
    assert(byName("intercept/intercept").rows == 2)

    // sinks default to sharded part dirs (<path>.d); readSinkLines is
    // layout-agnostic
    val mAll = ProjectRun.readSinkLines(root.resolve("out/m_all.dat").toFile)
    assert(mAll.size == 3)
    // kv fmt; source tag merged as a field; defaults env tag appended as pre_tag
    assert(mAll(0).startsWith("user=alice st=200"))
    assert(mAll(0).contains("dev_src_ip=10.0.0.1"))
    assert(mAll(0).contains("env=test"))
    val mErr = ProjectRun.readSinkLines(root.resolve("out/m_err.dat").toFile)
    assert(mErr.size == 1)
    // json fmt with typed digit unquoted
    assert(mErr(0).contains("\"user\":\"bob\"") && mErr(0).contains("\"st\":404"))
    val miss = ProjectRun.readSinkLines(root.resolve("out/miss.dat").toFile)
    assert(miss.size == 1)
    // raw fmt on the miss channel emits the original unparsed line
    assert(miss(0) == "%%% unparseable %%% ###")

    // expect ratio 0.125: m_err keeps 1 of group_input basis 3 (the
    // reference's default basis) ≈ 0.333 → violation (warn mode: reported,
    // not enforced)
    assert(!byName("m_group/m_err").expectOk)
    assert(reports.filter(r => r.group != "m_group" || r.sink != "m_err").forall(_.expectOk))

    // a filter over a field some records lack: the lacking record is
    // not a match, so it is intercepted — every group record lands in
    // exactly one of the sink and intercept
    val root2 = modernProject()
    Files.writeString(root2.resolve("src_dat/gen.dat"),
      Files.readString(root2.resolve("src_dat/gen.dat")) + "\nuser=dave st=200")
    val m = root2.resolve("topology/sinks/business.d/m.toml")
    Files.writeString(m, Files.readString(m) +
      """
        |[[sink_group.sinks]]
        |name = "m_read"
        |use = "file_raw_sink"
        |params = { file = "m_read.dat" }
        |filter = "$op == chars(read)"
        |""".stripMargin)
    val byName2 = ProjectRun.runBatch(spark, Project.load(root2.toString))
      .map(r => s"${r.group}/${r.sink}" -> r).toMap
    val read = byName2("m_group/m_read")
    assert(byName2("m_group/m_all").rows == 4)
    assert(read.rows == 1 && read.intercepted == 3, read)
    assert(ProjectRun.readSinkLines(root2.resolve("out/m_read.dat").toFile).size == 1)
    val icpt = ProjectRun.readSinkLines(root2.resolve("out/intercept.dat").toFile)
    assert(icpt.size == byName2("m_group/m_err").intercepted + read.intercepted)
    // dave is diverted by both filtered sinks: each report counts him,
    // and intercept holds him twice
    assert(byName2("m_group/m_err").intercepted == 3)
    assert(byName2("intercept/intercept").rows == 6)
    assert(icpt.count(_.contains("\"user\":\"dave\"")) == 2, icpt)
  }

  test("an ANSI colour code reaches a json sink as JSON that parses back to it") {
    val root = modernProject()
    val red = "\u001b[31mred\u001b[0m"
    Files.writeString(root.resolve("src_dat/gen.dat"), s"user=$red st=404 op=read")
    ProjectRun.runBatch(spark, Project.load(root.toString))
    val lines = ProjectRun.readSinkLines(root.resolve("out/m_err.dat").toFile)
    assert(lines.size == 1)
    assert(lines.head.contains("\\u001b[31mred"), lines.head)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(lines.head)
    assert(node.get("user").asText == red)
    assert(node.get("st").asInt == 404)
  }

  test("plan guard: the perfbench instance's sink lines and predicates are all compiled") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.functions.{col, transform}
    import spark.implicits._
    val p = Project.load(Paths.get("perfbench/instance").toAbsolutePath.toString)
    val parsed = graft.engine.Pipeline.run(Seq.empty[String].toDF("raw_line"), "raw_line",
      p.wplSource, p.omlSources.map(_._2), keep = Seq("raw_line"))
    // every resolved node of `c` that is evaluated interpreted
    def interpreted(c: Column): Seq[String] =
      parsed.select(c).queryExecution.analyzed.expressions.flatMap(_.collect {
        case e: CodegenFallback => e.prettyName
        case e: HigherOrderFunction => e.prettyName
      })
    assert(interpreted(transform(col("fields"), f => f.getField("name"))).nonEmpty)
    val plan = ProjectRun.routePlan(p)
    assert(plan.size == 8 && plan.exists(_.diverted.nonEmpty))
    val cols = plan.flatMap(r => (r.line +: r.emits) ++ r.diverted) ++
      Seq("json", "kv", "csv", "raw", "proto_text").map(graft.sinks.Formatters.line(_, col("fields")))
    cols.foreach(c => assert(interpreted(c).isEmpty, c.toString))
  }

  test("runBatch: a record with no OML model reaches the default sink") {
    val root = modernProject()
    // three rules, models for two: the /x/pair records transform under
    // no model and match no business group
    write(root, "wpl/parse.wpl",
      """package /t { rule kv { (kvarr) } }
        |package /j { rule js { (json) } }
        |package /x { rule pair { (ip:src, digit:code) } }
        |""".stripMargin)
    write(root, "oml/n.oml", "name : n\nrule : /j/*\n---\n* = take() ;\n")
    write(root, "topology/sinks/business.d/m.toml",
      """version = "2.0"
        |[sink_group]
        |name = "m_group"
        |oml = ["m", "n"]
        |[[sink_group.sinks]]
        |name = "m_all"
        |use = "file_raw_sink"
        |params = { file = "m_all.dat" }
        |""".stripMargin)
    val lines = Seq("user=alice st=200 op=read", """{"k":1}""", "10.0.0.1 200",
      "user=bob st=404 op=write", "10.0.0.2 404", "%%% unparseable %%% ###")
    write(root, "src_dat/gen.dat", lines.mkString("\n"))
    val p = Project.load(root.toString)
    assert(Project.check(p).isEmpty, Project.check(p).mkString("; "))
    val rows = ProjectRun.runBatch(spark, p).map(r => r.group -> r.rows).toMap
    // every line lands in exactly one of business/default/miss/error
    assert(Seq("m_group", "default", "miss", "error").map(rows.getOrElse(_, 0L)).sum ==
      lines.size, rows)
    assert(rows("m_group") == 3 && rows("miss") == 1, rows)
    val default = ProjectRun.readSinkLines(root.resolve("out/default.dat").toFile)
    assert(default.size == 2 && default.forall(_.contains("\"src\":\"10.0.0.")), default)
  }

  test("a sink kind that is not delivered fails check, and runBatch writes nothing") {
    val root = modernProject()
    write(root, "connectors/sink.d/10-tcp.toml",
      """[[connectors]]
        |id = "tcp_sink"
        |type = "tcp"
        |allow_override = ["port"]
        |[connectors.params]
        |addr = "127.0.0.1"
        |port = 9000
        |""".stripMargin)
    write(root, "topology/sinks/business.d/t.toml",
      """version = "2.0"
        |[sink_group]
        |name = "t_group"
        |oml = ["m"]
        |[[sink_group.sinks]]
        |name = "t_net"
        |use = "tcp_sink"
        |""".stripMargin)
    val p = Project.load(root.toString)
    assert(Project.check(p).exists(m =>
      m.contains("t_group/t_net") && m.contains("kind 'tcp' is not delivered")),
      Project.check(p).mkString("; "))
    val e = intercept[IllegalArgumentException](ProjectRun.runBatch(spark, p))
    assert(e.getMessage.contains("t_group/t_net"))
    assert(!root.resolve("out").toFile.exists, "runBatch wrote output")
  }

  /** Spark jobs the block starts (under a fresh job group). */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val byGroup = new org.apache.spark.JobsByProperty(sc, "spark.jobGroup.id")
    val group = s"project-jobs-${java.util.UUID.randomUUID}"
    try {
      sc.setJobGroup(group, "jobsOf")
      val r = try body finally sc.clearJobGroup()
      (r, byGroup(group))
    } finally byGroup.close()
  }

  private def withRescue(root: Path): Path = {
    val confP = root.resolve("conf/wparse.toml")
    Files.writeString(confP, Files.readString(confP) + "[rescue]\npath = \"./rescue\"\n")
    root
  }

  test("job counts: one Spark job per batch run and per daemon micro-batch") {
    // every routed sink (m_all, m_err, default, miss, intercept) and
    // the rescue channels come out of one fan-out write
    assert(jobsOf(ProjectRun.runBatch(spark, Project.load(modernProject().toString)))._2 == 1)
    val rescued = withRescue(modernProject())
    assert(jobsOf(ProjectRun.runBatch(spark, Project.load(rescued.toString)))._2 == 1)
    assert(ProjectRun.readSinkLines(rescued.resolve("rescue/miss").toFile) ==
      Seq("%%% unparseable %%% ###"))

    // one micro-batch (the source is one file): one job, with the
    // monitor's counts in the write's observation and its lines written
    // from the driver; the source is read once, so the batch's input
    // rows are the file's 4 lines, not a multiple of them
    val byQuery = new org.apache.spark.JobsByProperty(spark.sparkContext, "sql.streaming.queryId")
    def daemonJobs(root: Path): Int = {
      val q = ProjectRun.runStream(spark, Project.load(root.toString), triggerMs = 100L)
      try q.processAllAvailable() finally q.stop()
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length == 1)
      assert(batches.map(_.numInputRows).sum == 4L)
      byQuery(q.id.toString)
    }
    try {
      val noMonitor = modernProject()
      Files.delete(noMonitor.resolve("topology/sinks/infra.d/monitor.toml"))
      assert(daemonJobs(noMonitor) == 1)
      assert(daemonJobs(modernProject()) == 1)
      val all = withRescue(modernProject())
      assert(daemonJobs(all) == 1)
      assert(ProjectRun.readSinkLines(all.resolve("rescue/miss.d/batch=0").toFile) ==
        Seq("%%% unparseable %%% ###"))
    } finally byQuery.close()
  }

  test("expect bases and -p status counts come from the write's observation") {
    // total_input basis (m_group) and -p in the same run: still one job
    val root = modernProject()
    write(root, "topology/sinks/defaults.toml",
      """[defaults]
        |[defaults.expect]
        |basis = "total_input"
        |""".stripMargin)
    val m = root.resolve("topology/sinks/business.d/m.toml")
    Files.writeString(m, Files.readString(m).replace("ratio = 0.125", "ratio = 0.25"))
    val out = new java.io.ByteArrayOutputStream
    val (reports, jobs) = jobsOf(Console.withOut(out)(
      ProjectRun.runBatch(spark, Project.load(root.toString), statPrint = true)))
    assert(jobs == 1)
    val stat = out.toString("UTF-8").linesIterator.filter(_.startsWith("[stat]")).toVector
    assert(stat == Vector("[stat] status=miss count=1", "[stat] status=ok count=3"), stat)
    // m_err keeps 1 of total_input 4 = 0.25 (of group_input 3 it
    // would be 0.333, outside 0.25 ± 0.01)
    assert(reports.find(_.sink == "m_err").get.expectOk)
  }

  test("a sink outside out/ receives its records; a re-run replaces, not appends") {
    val root = modernProject()
    val elsewhere = Files.createTempDirectory("graft-elsewhere")
    write(root, "connectors/sink.d/20-void.toml",
      """[[connectors]]
        |id = "void_sink"
        |type = "blackhole"
        |""".stripMargin)
    val m = root.resolve("topology/sinks/business.d/m.toml")
    Files.writeString(m, Files.readString(m) +
      s"""
        |[[sink_group.sinks]]
        |name = "m_void"
        |use = "void_sink"
        |
        |[[sink_group.sinks]]
        |name = "m_far"
        |use = "file_raw_sink"
        |params = { base = "$elsewhere", file = "far.dat" }
        |
        |[[sink_group.sinks]]
        |name = "m_near"
        |use = "file_raw_sink"
        |params = { base = "./data", file = "near.dat" }
        |""".stripMargin)
    val p = Project.load(root.toString)
    ProjectRun.runBatch(spark, p)
    val reports = ProjectRun.runBatch(spark, p)
    // a blackhole sink is counted, never written
    assert(reports.find(_.sink == "m_void").map(_.rows).contains(3L), reports)
    assert(ProjectRun.readSinkLines(elsewhere.resolve("far.dat").toFile).size == 3)
    assert(ProjectRun.readSinkLines(root.resolve("data/near.dat").toFile).size == 3)
    assert(ProjectRun.readSinkLines(root.resolve("out/m_all.dat").toFile).size == 3)
    // no staging directory is left behind
    assert(root.resolve("out").toFile.list().forall(!_.startsWith("_fanout")),
      root.resolve("out").toFile.list().mkString(", "))
    assert(!root.resolve("out/m_group-m_void.dat.d").toFile.exists)

    // nothing to emit: the one job still runs and fills the observation
    val obs = org.apache.spark.sql.Observation()
    val none = Files.createTempDirectory("graft-fanout").resolve("staging").toString
    graft.sinks.SinkRouter.writeFanout(spark.range(5).toDF()
      .observe(obs, org.apache.spark.sql.functions.count("*").as("n")), none, Nil)
    assert(obs.get("n") == 5L)
  }

  test("legacy layout: root sink.toml + framework.toml + infra.d (reference tests/instance shape)") {
    val root = Files.createTempDirectory("graft-legacy")
    write(root, "conf/wparse.toml",
      """version = "1.0"
        |[models]
        |wpl = "./wpl"
        |oml = "./oml"
        |[topology]
        |sources = "./topology/sources"
        |sinks = "./topology/sinks"
        |""".stripMargin)
    write(root, "wpl/parse.wpl", wpl)
    write(root, "oml/m.oml", oml)
    // verbatim structure of reference tests/instance/topology/sinks
    write(root, "topology/sinks/sink.toml",
      """version = "1.0"
        |[sink_group]
        |name = "other"
        |oml = ["*"]
        |[[sink_group.sinks]]
        |name = "other_file"
        |fmt = "kv"
        |target = "file"
        |path = "./out/other.dat"
        |""".stripMargin)
    write(root, "topology/sinks/ignore/sink.toml",
      """version = "1.0"
        |[sink_group]
        |name = "ignore"
        |oml = ["ignore_oml"]
        |[[sink_group.sinks]]
        |name = "ignore_file"
        |fmt = "raw"
        |target = "file"
        |path = "./out/ignore.dat"
        |""".stripMargin)
    write(root, "topology/sinks/framework.toml",
      """[default]
        |name = "default"
        |[[default.sinks]]
        |name = "default_sink"
        |fmt = "proto-text"
        |target = "file"
        |path = "./out/default.dat"
        |[miss]
        |name = "miss"
        |[[miss.sinks]]
        |name = "miss_sink"
        |fmt = "raw"
        |target = "file"
        |path = "./out/miss.dat"
        |""".stripMargin)
    val p = Project.load(root.toString)
    assert(p.business.map(_.name).sorted == Vector("ignore", "other"))
    val other = p.business.find(_.name == "other").get
    assert(other.sinks.head.fmt == "kv")
    assert(other.sinks.head.path.contains("./out/other.dat"))
    assert(p.infra.keySet == Set("default", "miss"))
    assert(p.infra("default").sinks.head.fmt == "proto_text")
    // '*' oml matcher matches any transformed model, but check() flags
    // 'ignore_oml' as matching nothing
    assert(Project.check(p).exists(_.contains("ignore_oml")))
  }

  test("reference shipped instance loads (tests/instance)") {
    val ref = new java.io.File("/root/reference/tests/instance")
    assume(ref.isDirectory)
    val p = Project.load(ref.getPath)
    assert(p.wplSource.nonEmpty && p.omlSources.nonEmpty)
    assert(p.fileSources.exists(s => s.key == "file_1" && s.enable))
    assert(p.kafkaSources.size == 1 && !p.kafkaSources.head.enable)
    assert(p.syslogSources.size == 1 && p.syslogSources.head.port == 514)
    assert(p.connectors.contains("file_raw_sink"))
    assert(p.business.map(_.name).contains("other"))
    // infra.d present → connector-style infra groups win over framework.toml
    assert(p.infra.nonEmpty)
    assert(p.infra("default").sinks.head.connectorId.contains("file_raw_sink"))
    // shipped conf/wpgen.toml (legacy main_conf schema) loads read-only
    val gc = WpGenProject.loadConf(ref)
    assert(gc.mode == "sample" && gc.count == 1000)
    assert(gc.outPath == "./src_dat/gen.dat" && gc.outFmt == "raw")
  }

  test("runStream: daemon over a project dir routes to append dirs") {
    val root = modernProject()
    val p = Project.load(root.toString)
    // a stale file from an earlier run of batch 0 (a replay after a
    // checkpoint loss): the batch's write replaces the directory
    write(root, "out/m_all.dat.d/batch=0/part-stale", "stale line")
    val q = ProjectRun.runStream(spark, p, triggerMs = 100L)
    try {
      q.processAllAvailable()
      // second file arrives while the daemon runs
      write(root, "src_dat/gen2.dat", "user=dora st=500 op=push")
      q.processAllAvailable()
    } finally q.stop()
    def lines(rel: String): Seq[String] =
      ProjectRun.readSinkLines(root.resolve(rel).toFile)
    // gen.dat + gen2.dat? The source watches the single file path; the
    // second file is a different path, so only gen.dat flows
    val all = lines("out/m_all.dat.d")
    assert(all.size == 3, all)
    // every routed sink has its (possibly empty) batch directory
    Seq("m_all", "m_err", "default", "miss", "intercept").foreach { s =>
      assert(root.resolve(s"out/$s.dat.d/batch=0").toFile.isDirectory, s)
    }
    assert(lines("out/default.dat.d").isEmpty)
    assert(all.exists(_.startsWith("user=alice st=200")))
    assert(lines("out/m_err.dat.d").size == 1)
    assert(lines("out/intercept.dat.d").size == 2)
    assert(lines("out/miss.dat.d") == Seq("%%% unparseable %%% ###"))
    // monitor sink gets per-batch parse stats
    val mon = lines("out/monitor.dat.d")
    assert(mon.exists(l => l.contains("status=ok") && l.contains("count=3")), mon)
    assert(mon.exists(l => l.contains("status=miss") && l.contains("count=1")), mon)
  }

  test("runStream checkpoint restart: exactly-once sink rows across stop/resume") {
    // directory-watching source so files can drip in between daemon runs
    val root = Files.createTempDirectory("graft-proj-ckpt")
    write(root, "conf/wparse.toml",
      """version = "1.0"
        |[models]
        |wpl = "./wpl"
        |oml = "./oml"
        |[topology]
        |sources = "./topology/sources"
        |sinks = "./topology/sinks"
        |""".stripMargin)
    write(root, "wpl/parse.wpl", wpl)
    write(root, "oml/m.oml", oml)
    write(root, "topology/sources/wpsrc.toml",
      """[[source_file]]
        |key = "drip"
        |path = "./src_dat"
        |enable = true
        |""".stripMargin)
    write(root, "topology/sinks/business.d/all.toml",
      """[sink_group]
        |name = "all"
        |oml = ["*"]
        |[[sink_group.sinks]]
        |name = "all_file"
        |target = "file"
        |fmt = "kv"
        |path = "./out/all.dat"
        |""".stripMargin)
    Files.createDirectories(root.resolve("src_dat"))
    def drip(phase: Int, n: Int): Unit = (0 until n).foreach { i =>
      write(root, f"src_dat/p${phase}_f$i%02d.dat",
        (0 until 50).map(j => s"user=u${phase}_${i}_$j st=200 op=w").mkString("\n"))
    }
    val p = Project.load(root.toString)
    // phase 0: run, drain, STOP — the checkpoint dir persists the
    // processed-file log and committed batch ids
    drip(0, 3)
    val q1 = ProjectRun.runStream(spark, p, triggerMs = 50L)
    try q1.processAllAvailable() finally q1.stop()
    val afterPhase0 = ProjectRun.readSinkLines(root.resolve("out/all.dat").toFile).size
    assert(afterPhase0 == 3 * 50, s"phase 0 incomplete: $afterPhase0")
    // phase 1: files arrive while the daemon is DOWN; resume against the
    // same (default) checkpoint dir
    drip(1, 3)
    val q2 = ProjectRun.runStream(spark, p, triggerMs = 50L)
    try q2.processAllAvailable() finally q2.stop()
    val sink = ProjectRun.readSinkLines(root.resolve("out/all.dat").toFile)
    // exactly-once across the restart: phase-0 rows not replayed
    // (idempotent batch= dirs + checkpointed source offsets), phase-1
    // rows all present, zero duplicates
    assert(sink.size == 6 * 50, s"exactly-once violated: ${sink.size}")
    assert(sink.distinct.size == sink.size, "duplicate rows after resume")
    assert(sink.exists(_.contains("user=u1_2_49")), "phase-1 tail missing")
  }

  test("unified [[sources]] connector format: file + tcp via source.d") {
    val root = modernProject()
    write(root, "connectors/source.d/00-file.toml",
      """[[connectors]]
        |id = "file_src"
        |type = "file"
        |allow_override = ["base", "file", "encode"]
        |[connectors.params]
        |base = "./src_dat"
        |file = "gen.dat"
        |encode = "text"
        |""".stripMargin)
    write(root, "connectors/source.d/12-tcp.toml",
      """[[connectors]]
        |id = "tcp_src"
        |type = "tcp"
        |allow_override = ["addr", "port", "framing"]
        |[connectors.params]
        |addr = "0.0.0.0"
        |port = 9000
        |framing = "auto"
        |""".stripMargin)
    val tcpPort = {
      val ss = new java.net.ServerSocket(0)
      try ss.getLocalPort finally ss.close()
    }
    write(root, "topology/sources/wpsrc.toml",
      s"""[[sources]]
         |key = "uni_file"
         |enable = true
         |connect = "file_src"
         |tags = ["env : uni"]
         |
         |[sources.params]
         |file = "gen.dat"
         |
         |[[sources]]
         |key = "uni_tcp"
         |enable = true
         |connect = "tcp_src"
         |
         |[sources.params]
         |port = $tcpPort
         |framing = "line"
         |""".stripMargin)
    val p = Project.load(root.toString)
    assert(p.fileSources.map(_.key) == Vector("uni_file"))
    assert(p.fileSources.head.path == "./src_dat/gen.dat")
    assert(p.fileSources.head.tags == Map("env" -> "uni"))
    assert(p.tcpSources.map(s => (s.key, s.port, s.framing)) ==
      Vector(("uni_tcp", tcpPort, "line")))
    // an override outside allow_override raises
    write(root, "topology/sources/wpsrc.toml",
      """[[sources]]
        |key = "bad"
        |connect = "file_src"
        |[sources.params]
        |sneaky = "x"
        |""".stripMargin)
    val e = intercept[IllegalArgumentException](Project.load(root.toString))
    assert(e.getMessage.contains("allow_override"))

    // batch over the unified file source + live tcp frames through the
    // daemon: both reach business sinks with their wp_src_key
    val root2 = modernProject()
    write(root2, "connectors/source.d/12-tcp.toml",
      """[[connectors]]
        |id = "tcp_src"
        |type = "tcp"
        |allow_override = ["port", "framing"]
        |[connectors.params]
        |port = 9000
        |framing = "line"
        |""".stripMargin)
    val port2 = {
      val ss = new java.net.ServerSocket(0)
      try ss.getLocalPort finally ss.close()
    }
    write(root2, "topology/sources/wpsrc.toml",
      s"""[[sources]]
         |key = "t1"
         |connect = "tcp_src"
         |[sources.params]
         |port = $port2
         |""".stripMargin)
    val q = ProjectRun.runStream(spark, Project.load(root2.toString), triggerMs = 100L)
    try {
      Thread.sleep(1500)
      val sock = new java.net.Socket("127.0.0.1", port2)
      sock.getOutputStream.write("user=tcp1 st=200 op=ping\n".getBytes)
      sock.getOutputStream.flush()
      sock.close()
      val deadline = System.currentTimeMillis() + 15000
      var all = Seq.empty[String]
      while (all.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(300)
        q.processAllAvailable()
        all = ProjectRun.readSinkLines(root2.resolve("out/m_all.dat.d").toFile)
      }
      assert(all.exists(l => l.contains("user=tcp1") &&
        l.contains("wp_src_key=t1") && l.contains("wp_src_ip=127.0.0.1")), all.take(3))
    } finally q.stop()
  }

  test("wproj data check + data validate: connectivity and post-hoc ratios") {
    val root = modernProject()
    val p0 = Project.load(root.toString)
    // connectivity: the fixture file exists and ports aren't in play
    val (problems0, skipped0) = ProjectRun.dataCheck(p0)
    assert(problems0.isEmpty, problems0)
    assert(skipped0.isEmpty)
    // break the file path → reported
    Files.delete(root.resolve("src_dat/gen.dat"))
    val (problems1, _) = ProjectRun.dataCheck(Project.load(root.toString))
    assert(problems1.exists(_.contains("path not found")), problems1)
    // a syslog source on an occupied port → not bindable
    val busy = new java.net.ServerSocket(0)
    try {
      write(root, "topology/sources/wpsrc.toml",
        s"""[[source_syslog]]
           |key = "s1"
           |addr = "0.0.0.0"
           |port = ${busy.getLocalPort}
           |protocol = "tcp"
           |enable = true
           |""".stripMargin)
      val (problems2, _) = ProjectRun.dataCheck(Project.load(root.toString))
      assert(problems2.exists(_.contains("not bindable")), problems2)
    } finally busy.close()

    // validate: run the batch, then check shares post-hoc. m_err keeps
    // 1 of 4 group rows (basis=group_input sum) vs expect ratio 0.125
    // tol 0.01 → violation surfaces offline too
    val root2 = modernProject()
    ProjectRun.runBatch(spark, Project.load(root2.toString))
    val problems3 = ProjectRun.dataValidate(Project.load(root2.toString))
    assert(problems3.exists(_.contains("m_group/m_err")), problems3)
    // with an explicit total_input denominator making 1/8 exact, the
    // group's basis stays group_input (config) so the violation stands;
    // an input-cnt only affects total_input groups — exercised via a
    // defaults override in GroupExpectSpec semantics
    assert(ProjectRun.dataValidate(Project.load(root2.toString), Some(8L)).nonEmpty)
  }

  test("tolerant WPL load: a broken file is skipped and reported, not fatal") {
    val root = modernProject()
    write(root, "wpl/parse_broken.wpl", "package /bad { rule oops { (((")
    val p = Project.load(root.toString)
    // the loadable rule still runs the whole batch
    val reports = ProjectRun.runBatch(spark, p)
    assert(reports.find(r => r.sink == "m_all").get.rows == 3)
    // the skipped file surfaces in load errors and `wproj check`
    assert(p.wplLoadErrors.exists(_.contains("parse_broken.wpl")), p.wplLoadErrors)
    assert(Project.check(p).exists(m =>
      m.startsWith("wpl: ") && m.contains("parse_broken.wpl")))
  }

  test("wparse flags: -n caps per-source lines, --wpl overrides the rules dir") {
    val root = modernProject()
    // -n 2: only the first two lines of the source parse (reference
    // picker line_max)
    val reports = ProjectRun.runBatch(spark, Project.load(root.toString),
      maxLines = Some(2L), parseWorkers = Some(1))
    // m_all fans out every transformed record: exactly the 2 capped lines
    val mAll = reports.find(r => r.group == "m_group" && r.sink == "m_all").get
    assert(mAll.rows == 2, reports.map(r => s"${r.sink}=${r.rows}").mkString(","))
    // --wpl: an alternate rules dir takes precedence over [models].wpl
    val alt = Files.createTempDirectory("graft-alt-wpl")
    Files.writeString(alt.resolve("parse_alt.wpl"),
      "package /alt { rule only_op { (chars:op_line) } }")
    val p2 = Project.load(root.toString, wplDirOverride = Some(alt.toString))
    assert(p2.wplSource.contains("only_op") && !p2.wplSource.contains("kv"))
  }

  test("mechanism fields: wp_src_key in outputs, wp_src_ip from net sources") {
    // batch: wp_src_key = source key rides the splat into the kv sink
    val root = modernProject()
    ProjectRun.runBatch(spark, Project.load(root.toString))
    val mAll = ProjectRun.readSinkLines(root.resolve("out/m_all.dat").toFile)
    assert(mAll.nonEmpty && mAll.forall(_.contains("wp_src_key=file_1")), mAll.take(2))
    // an explicit user tag with the same name wins over the mechanism value
    val root2 = modernProject()
    val src = root2.resolve("topology/sources/wpsrc.toml")
    Files.writeString(src, Files.readString(src)
      .replace("tags = [\"dev_src_ip : 10.0.0.1\"]",
        "tags = [\"dev_src_ip : 10.0.0.1\", \"wp_src_key : custom\"]"))
    ProjectRun.runBatch(spark, Project.load(root2.toString))
    val mAll2 = ProjectRun.readSinkLines(root2.resolve("out/m_all.dat").toFile)
    assert(mAll2.forall(_.contains("wp_src_key=custom")), mAll2.take(2))

    // daemon with a syslog-tcp source: the client ip surfaces as wp_src_ip
    val root3 = modernProject()
    val port = {
      val ss = new java.net.ServerSocket(0)
      try ss.getLocalPort finally ss.close()
    }
    write(root3, "topology/sources/wpsrc.toml",
      s"""[[source_syslog]]
         |key = "sys_1"
         |addr = "0.0.0.0"
         |port = $port
         |protocol = "tcp"
         |enable = true
         |""".stripMargin)
    val q = ProjectRun.runStream(spark, Project.load(root3.toString), triggerMs = 100L)
    try {
      Thread.sleep(1500)
      val sock = new java.net.Socket("127.0.0.1", port)
      sock.getOutputStream.write("user=eve st=200 op=login\n".getBytes)
      sock.getOutputStream.flush()
      sock.close()
      val deadline = System.currentTimeMillis() + 15000
      var all = Seq.empty[String]
      while (all.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(300)
        q.processAllAvailable()
        all = ProjectRun.readSinkLines(root3.resolve("out/m_all.dat.d").toFile)
      }
      assert(all.exists(l => l.contains("wp_src_key=sys_1") &&
        l.contains("wp_src_ip=127.0.0.1")), all.take(3))
    } finally q.stop()
  }

  test("config-targeted stat dims: [[stat.*]] per-rule counts reach the monitor sink") {
    val root = modernProject()
    // two rules so a targeted dim can single one out
    write(root, "wpl/parse.wpl",
      """package /j { rule js { (json) } }
        |package /t { rule kv { (kvarr) } }
        |""".stripMargin)
    write(root, "src_dat/gen.dat", Seq(
      "user=alice st=200 op=read",
      "user=bob st=404 op=write",
      """{"k":1}""").mkString("\n"))
    write(root, "conf/wparse.toml",
      """version = "1.0"
        |[models]
        |wpl = "./wpl"
        |oml = "./oml"
        |[topology]
        |sources = "./topology/sources"
        |sinks = "./topology/sinks"
        |[stat]
        |[[stat.pick]]
        |key = "pick_stat"
        |target = "*"
        |[[stat.parse]]
        |key = "kv_only"
        |target = "/t/kv"
        |[[stat.sink]]
        |key = "sink_stat"
        |target = "/j/*"
        |""".stripMargin)
    val p = Project.load(root.toString)
    assert(p.conf.statDims == Vector(
      Project.StatDim("pick", "pick_stat", "*"),
      Project.StatDim("parse", "kv_only", "/t/kv"),
      Project.StatDim("sink", "sink_stat", "/j/*")))
    val q = ProjectRun.runStream(spark, p, triggerMs = 100L)
    try q.processAllAvailable() finally q.stop()
    val mon = ProjectRun.readSinkLines(root.resolve("out/monitor.dat").toFile)
    // pick dim counts every picked record per rule (any outcome)
    assert(mon.exists(l => l.contains("stat=pick_stat stage=pick rule=/t/kv") &&
      l.contains("count=2")), mon.mkString("\n"))
    // targeted parse dim reports ONLY the configured rule
    val kvOnly = mon.filter(_.contains("stat=kv_only"))
    assert(kvOnly.nonEmpty && kvOnly.forall(_.contains("rule=/t/kv")), mon.mkString("\n"))
    assert(kvOnly.exists(l => l.contains("dim=ok") && l.contains("count=2")), kvOnly)
    // sink dim with a rule wildcard counts the routed json record
    assert(mon.exists(l => l.contains("stat=sink_stat stage=sink rule=/j/js") &&
      l.contains("count=1")), mon.mkString("\n"))
  }

  test("wpgen project: gen_field scopes honored, generated lines parse back") {
    val root = modernProject()
    // reference example layout: wpl/<name>/{gen_rule.wpl, gen_field.toml}
    write(root, "wpl/simple/gen_rule.wpl",
      "package /t { rule gen { (ip:sip,digit:code,chars:msg) } }")
    write(root, "wpl/simple/gen_field.toml",
      """[items.sip]
        |gen_type = "ip"
        |[items.sip.scope.ip]
        |beg = "10.0.10.0"
        |end = "10.0.10.255"
        |[items.code]
        |gen_type = "digit"
        |[items.code.scope.digit]
        |min = 200
        |max = 299
        |""".stripMargin)
    write(root, "conf/wpgen.toml",
      """version = "2.0"
        |[generator]
        |mode = "rule"
        |count = 200
        |rule_root = "./wpl/simple"
        |[output]
        |connect = "file_raw_sink"
        |params = { base = "./src_dat", file = "gen_out.dat" }
        |""".stripMargin)
    val reports = WpGenProject.run(spark, root.toString, seed = 7)
    assert(reports.map(_.rows).sum == 200)
    // distributed write: out path is a part dir by default
    val lines = ProjectRun.readSinkLines(root.resolve("src_dat/gen_out.dat").toFile)
    assert(lines.size == 200)
    // field scopes: every sip in 10.0.10.0/24, every code in 200..299
    lines.foreach { l =>
      val parts = l.split(" ")
      assert(parts(0).startsWith("10.0.10."), l)
      val code = parts(1).toInt
      assert(code >= 200 && code <= 299, l)
    }
    // round trip: the generated corpus parses 100% through the project wpl
    val mp = graft.wpl.Runtime.compile(
      "package /t { rule gen { (ip:sip,digit:code,chars:msg) } }")
    lines.foreach { l =>
      assert(mp.parseLine(l).isInstanceOf[graft.wpl.PSuccess], l)
    }
  }

  test("wpgen project: legacy main_conf schema + sample mode replay") {
    val root = modernProject()
    write(root, "wpl/sampled/gen_rule.wpl",
      "package /t { rule s { (kvarr) } }")
    write(root, "wpl/sampled/sample.dat",
      "user=x st=1\nuser=y st=2\n")
    write(root, "conf/wpgen.toml",
      """version = "1.0"
        |[main_conf]
        |gen_ref = "sample_gen"
        |gen_speed = 1000
        |gen_count = 50
        |gen_parallel = 1
        |out_ref = "out_file"
        |[out_file]
        |name = "gen_file_sink"
        |fmt = "raw"
        |[out_file.target.file]
        |path = "./src_dat/replay.dat"
        |""".stripMargin)
    val conf = WpGenProject.loadConf(root.toFile)
    assert(conf.mode == "sample" && conf.count == 50)
    assert(conf.outPath == "./src_dat/replay.dat")
    val reports = WpGenProject.run(spark, root.toString)
    // one report per rule dir; only wpl/sampled has sample.dat
    val replay = ProjectRun.readSinkLines(root.resolve("src_dat/replay.dat").toFile)
    assert(replay.size == 50)
    replay.foreach(l => assert(l == "user=x st=1" || l == "user=y st=2", l))
    assert(reports.exists(r => r.ruleKey == "sampled" && r.rows == 50))
  }

  test("shipped reference instance: full wpgen -> wparse -> route lifecycle") {
    val ref = new java.io.File("/root/reference/tests/instance")
    assume(ref.isDirectory)
    // copy the instance to a writable root (generation + sink outputs
    // write into the work root)
    val root = Files.createTempDirectory("graft-instance")
    def copyRec(src: java.io.File, dst: Path): Unit = {
      if (src.isDirectory) {
        Files.createDirectories(dst)
        Option(src.listFiles()).getOrElse(Array.empty)
          .foreach(c => copyRec(c, dst.resolve(c.getName)))
      } else Files.copy(src.toPath, dst)
    }
    copyRec(ref, root)

    // 1. wpgen (legacy main_conf schema, sample mode): both rule dirs
    //    (benchmark, example/simple) replay their sample.dat pools
    val gen = WpGenProject.run(spark, root.toString)
    assert(gen.map(_.rows).sum == 2000, gen.toString) // 1000 per rule dir
    assert(ProjectRun.readSinkLines(root.resolve("src_dat/gen.dat").toFile).size == 2000)

    // 2. wparse batch over the instance: parse*.wpl rules + 3 oml models,
    //    route through the legacy sink.toml groups + infra.d connectors
    val p = Project.load(root.toString)
    assert(Project.check(p).isEmpty, Project.check(p).mkString("; "))
    val reports = ProjectRun.runBatch(spark, p)
    val byName = reports.map(r => s"${r.group}/${r.sink}" -> r).toMap
    // every record transforms (benchmark model matches /benchmark/*,
    // example/simple matches nginx) and lands in "other" (oml = ["*"]);
    // ignore_oml never wins first-match, so "ignore" stays empty
    assert(byName("other/other_file").rows == 2000)
    assert(byName("ignore/ignore_file").rows == 0)
    assert(byName.get("miss/miss").forall(_.rows == 0))
    val other = ProjectRun.readSinkLines(root.resolve("out/other.dat").toFile)
    assert(other.size == 2000)
    // kv fmt with the source tag merged and benchmark oml defaults applied
    assert(other.exists(_.contains("dev_src_ip=10.0.0.1")))
    assert(other.exists(_.contains("from_zone=work_zone")))
  }

  test("[rescue].path loop: engine captures failures, wprescue routes through sinks") {
    val root = modernProject()
    // enable the rescue section (reference tests/instance/conf shape)
    withRescue(root)
    ProjectRun.runBatch(spark, Project.load(root.toString))
    // the unparseable fixture line landed in the rescue corpus
    val missD = root.resolve("rescue/miss.d").toFile
    assert(missD.isDirectory, "rescue capture missing")
    // make the line parseable by swapping in a catch-all rule, then rescue
    write(root, "wpl/parse2.wpl", "package /t { rule anyline { (chars:payload{\\n}) } }")
    val reports = ProjectRun.runRescue(spark, Project.load(root.toString))
    assert(reports.nonEmpty)
    // the recovered record routed through the project's OWN sinks: the
    // catch-all rule matches the m model's /t/* matcher → m_all, which
    // now shows original ∪ rescued rows
    val mAll = ProjectRun.readSinkLines(root.resolve("out/m_all.dat").toFile)
    assert(mAll.exists(_.contains("unparseable")), mAll.take(5))
    assert(mAll.size == 4, mAll.size) // 3 original + 1 rescued
    // idempotent: a second rescue run does not duplicate rows
    ProjectRun.runRescue(spark, Project.load(root.toString))
    val again = ProjectRun.readSinkLines(root.resolve("out/m_all.dat").toFile)
    assert(again.size == mAll.size)
  }

  test("wprescue project: rescue channels re-ingest through the models") {
    val root = modernProject()
    ProjectRun.runBatch(spark, Project.load(root.toString))
    assert(ProjectRun.readSinkLines(root.resolve("out/miss.dat").toFile).size == 1)
    graft.cli.Cli.main(Array("wprescue", "project", root.toString))
    val rescuedMiss = root.resolve("out/rescued/miss").toFile
    val lines = Option(rescuedMiss.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part") && !f.getName.endsWith(".crc"))
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq)
    // the unparseable line is still a miss on re-ingest → miss channel again
    assert(lines.length == 1, lines.mkString("|"))
  }

  test("expect inheritance: defaults.toml group spec, route-file override wins") {
    val root = modernProject()
    // defaults provide the GROUP-level spec (basis/mode) — build.rs
    // apply_group_metadata:222-227
    write(root, "topology/sinks/defaults.toml",
      """[defaults]
        |tags = ["env : test"]
        |[defaults.expect]
        |basis = "total_input"
        |mode = "error"
        |""".stripMargin)
    // a second group with its OWN [sink_group.expect] — takes precedence
    write(root, "topology/sinks/business.d/n.toml",
      """version = "2.0"
        |[sink_group]
        |name = "n_group"
        |oml = ["m"]
        |[sink_group.expect]
        |basis = "group_input"
        |mode = "warn"
        |min_samples = 1000000
        |[[sink_group.sinks]]
        |name = "n_all"
        |use = "file_raw_sink"
        |params = { file = "n_all.dat" }
        |[sink_group.sinks.expect]
        |ratio = 0.0
        |tol = 0.0
        |""".stripMargin)
    val p = Project.load(root.toString)
    val m = p.business.find(_.name == "m_group").get
    val n = p.business.find(_.name == "n_group").get
    assert(m.expect.contains(Project.GroupExpect(basis = "total_input", mode = "error")))
    assert(n.expect.get.basis == "group_input" && n.expect.get.mode == "warn")
    assert(n.expect.get.minSamples.contains(1000000L))

    val reports = ProjectRun.runBatch(spark, p)
    val byName = reports.map(r => s"${r.group}/${r.sink}" -> r).toMap
    // m_err: basis total_input = 4 parsed records; share 1/4 vs ratio
    // 0.125 ± 0.01 → violation, and mode=error enforces it
    assert(!byName("m_group/m_err").expectOk && byName("m_group/m_err").expectEnforced)
    // n_all would violate ratio=0 (it receives rows), but min_samples
    // gates the check: basis 3 < 1000000 → skipped, and warn mode never
    // enforces
    assert(byName("n_group/n_all").expectOk && !byName("n_group/n_all").expectEnforced)
  }

  test("expect basis mdl:<name> and others_max cap (GroupExpectSpec semantics)") {
    val root = modernProject()
    write(root, "topology/sinks/business.d/m.toml",
      """version = "2.0"
        |[sink_group]
        |name = "m_group"
        |oml = ["m"]
        |[sink_group.expect]
        |basis = "mdl:m"
        |mode = "error"
        |others_max = 0.1
        |[[sink_group.sinks]]
        |name = "m_all"
        |use = "file_raw_sink"
        |params = { file = "m_all.dat", fmt = "kv" }
        |
        |[[sink_group.sinks]]
        |name = "m_err"
        |use = "file_raw_sink"
        |params = { file = "m_err.dat" }
        |filter = "$st == digit(404)"
        |[sink_group.sinks.expect]
        |ratio = 0.3333
        |tol = 0.01
        |""".stripMargin)
    val (reports, jobs) = jobsOf(ProjectRun.runBatch(spark, Project.load(root.toString)))
    assert(jobs == 1) // the mdl:m basis is counted by the sink write itself
    val byName = reports.map(r => s"${r.group}/${r.sink}" -> r).toMap
    // basis = records transformed by model m = 3; m_err keeps 1 of them
    // (two diverted) → share 1/3 within 0.3333±0.01 → ok
    assert(byName("m_group/m_err").expectOk)
    // m_all has NO expect and receives 3/3 = 100% > others_max 0.1 →
    // the expect-less sink is flagged
    assert(!byName("m_group/m_all").expectOk && byName("m_group/m_all").expectEnforced)
  }

  test("assemble_sink_tags: defaults ++ group ++ sink append order (build.rs:196-212)") {
    val root = modernProject()
    write(root, "topology/sinks/business.d/m.toml",
      """version = "2.0"
        |[sink_group]
        |name = "m_group"
        |oml = ["m"]
        |tags = ["layer : group"]
        |[[sink_group.sinks]]
        |name = "m_all"
        |use = "file_raw_sink"
        |params = { file = "m_all.dat", fmt = "kv" }
        |tags = ["layer_sink : sink"]
        |""".stripMargin)
    val p = Project.load(root.toString)
    val s = p.business.find(_.name == "m_group").get.sinks.head
    // defaults.toml has env:test; order: defaults, group, sink
    assert(s.tags == Vector("env : test", "layer : group", "layer_sink : sink"))
    // and the group keeps its own tags (apply_group_metadata:230-231)
    assert(p.business.find(_.name == "m_group").get.tags == Vector("layer : group"))
  }

  test("duplicate sink name in a group is rejected (build.rs ensure_unique_name)") {
    val root = modernProject()
    write(root, "topology/sinks/business.d/m.toml",
      """version = "2.0"
        |[sink_group]
        |name = "m_group"
        |oml = ["m"]
        |[[sink_group.sinks]]
        |name = "dup"
        |use = "file_raw_sink"
        |params = { file = "a.dat" }
        |[[sink_group.sinks]]
        |name = "dup"
        |use = "file_raw_sink"
        |params = { file = "b.dat" }
        |""".stripMargin)
    val e = intercept[IllegalArgumentException](Project.load(root.toString))
    assert(e.getMessage.contains("duplicate sink name 'dup'"))
  }

  test("expect validation: ratio/tol and min/max are mutually exclusive (expect.rs:20-56)") {
    val root = modernProject()
    write(root, "topology/sinks/business.d/m.toml",
      """version = "2.0"
        |[sink_group]
        |name = "m_group"
        |oml = ["m"]
        |[[sink_group.sinks]]
        |name = "m_all"
        |use = "file_raw_sink"
        |params = { file = "m_all.dat" }
        |[sink_group.sinks.expect]
        |ratio = 0.5
        |min = 0.1
        |""".stripMargin)
    val e = intercept[IllegalArgumentException](Project.load(root.toString))
    assert(e.getMessage.contains("cannot be combined"))
  }

  test("sum_tol: configured sink ratios must cover the basis (wproj check)") {
    val root = modernProject()
    write(root, "topology/sinks/business.d/m.toml",
      """version = "2.0"
        |[sink_group]
        |name = "m_group"
        |oml = ["m"]
        |[sink_group.expect]
        |sum_tol = 0.05
        |[[sink_group.sinks]]
        |name = "a"
        |use = "file_raw_sink"
        |params = { file = "a.dat" }
        |[sink_group.sinks.expect]
        |ratio = 0.5
        |[[sink_group.sinks]]
        |name = "b"
        |use = "file_raw_sink"
        |params = { file = "b.dat" }
        |[sink_group.sinks.expect]
        |ratio = 0.2
        |""".stripMargin)
    val problems = Project.check(Project.load(root.toString))
    assert(problems.exists(_.contains("sum_tol")), problems.mkString("; "))
  }

  test("wproj init: scaffold is loadable and runs the full demo lifecycle") {
    val root = Files.createTempDirectory("graft-init")
    val written = ProjectInit.init(root.toString, "full")
    assert(written.contains("conf/wparse.toml"))
    assert(written.contains("models/wpl/demo/parse.wpl"))
    assert(written.contains("connectors/sink.d/00-file.toml"))
    // re-init never overwrites
    assert(ProjectInit.init(root.toString, "full").isEmpty)

    // generation fills the demo source; project then loads, checks
    // clean, and routes every generated record to the demo sink
    WpGenProject.run(spark, root.toString)
    val p = Project.load(root.toString)
    assert(Project.check(p).isEmpty, Project.check(p).mkString("; "))
    val reports = ProjectRun.runBatch(spark, p)
    val demo = reports.find(r => r.group == "demo" && r.sink == "demo_file").get
    assert(demo.rows == 1000, reports.toString)
    assert(reports.filter(_.group == "miss").forall(_.rows == 0))

    // model list/validate over the scaffold
    val listing = ProjectInit.modelList(p)
    assert(listing.exists(_.contains("wpl rule /demo/kv")))
    assert(listing.exists(_.startsWith("oml model demo")))
    assert(ProjectInit.modelValidate(p).isEmpty)

    // data stat validates counts over the real outputs; data clean
    // removes them
    val stats = ProjectInit.dataStat(p)
    assert(stats.exists(s => s.sink == "demo_file" && s.rows == 1000 && s.expectOk))
    assert(ProjectInit.dataClean(root.toString).nonEmpty)
    assert(ProjectInit.dataStat(p).forall(_.rows == 0))
  }

  test("[performance] and [log_conf] engine-config keys parse and apply") {
    val root = Files.createTempDirectory("graft-perf-conf")
    Files.createDirectories(root.resolve("conf"))
    Files.writeString(root.resolve("conf/wparse.toml"),
      """version = "1.0"
        |[performance]
        |rate_limit_rps = 5000
        |parse_workers = 3
        |[log_conf]
        |output = "File"
        |level = "warn,ctrl=info"
        |""".stripMargin)
    val c = Project.loadEngineConf(root.toFile)
    assert(c.parseWorkers.contains(3))
    assert(c.rateLimitRps.contains(5000L))
    assert(c.logLevel.contains("warn"))
    // absent section → all None (no behavior change)
    val c0 = Project.loadEngineConf(Files.createTempDirectory("graft-noconf").toFile)
    assert(c0.parseWorkers.isEmpty && c0.rateLimitRps.isEmpty && c0.logLevel.isEmpty)
  }

  test("knowdb.toml directory loading: mapping, on_error, spec validation") {
    val base = Files.createTempDirectory("graft-knowdb")
    def table(dir: String, csv: String, withSql: Boolean = true): Unit = {
      Files.createDirectories(base.resolve(dir))
      if (withSql) {
        Files.writeString(base.resolve(s"$dir/create.sql"), "CREATE TABLE {table} (a, b);")
        Files.writeString(base.resolve(s"$dir/insert.sql"), "INSERT INTO {table} VALUES (?1, ?2);")
      }
      Files.writeString(base.resolve(s"$dir/data.csv"), csv)
    }
    table("example", "name,pinying,extra\nalice,al,1\nbob,bo,2\n")
    table("addr", "city,zip\nparis,75\nbad_row_only_one_cell\nnice,06\n")
    Files.writeString(base.resolve("knowdb.toml"),
      """version = 2
        |[[tables]]
        |name = "example"
        |columns.by_header = ["pinying", "name"]
        |[[tables]]
        |name = "address"
        |dir = "addr"
        |on_error = "skip"
        |""".stripMargin)
    val db = KnowDbLoader.loadFrom(base.toFile)
    // by_header selects + reorders
    val ex = db.table("example").get
    assert(ex.columns == Vector("pinying", "name"))
    assert(ex.rows == Vector(Vector("al", "alice"), Vector("bo", "bob")))
    // dir override + bad-row skip
    val ad = db.table("address").get
    assert(ad.rows == Vector(Vector("paris", "75"), Vector("nice", "06")))
    // on_error=fail (default) rejects the same bad row
    Files.writeString(base.resolve("knowdb.toml"),
      "version = 2\n[[tables]]\nname = \"address\"\ndir = \"addr\"\n")
    val e = intercept[IllegalArgumentException](KnowDbLoader.loadFrom(base.toFile))
    assert(e.getMessage.contains("bad row"))
    // missing create.sql violates the spec
    table("nosql", "a\n1\n", withSql = false)
    Files.writeString(base.resolve("knowdb.toml"),
      "version = 2\n[[tables]]\nname = \"nosql\"\n")
    val e2 = intercept[IllegalArgumentException](KnowDbLoader.loadFrom(base.toFile))
    assert(e2.getMessage.contains("create.sql"))
    // absent knowdb.toml → empty db (project loads unaffected)
    assert(KnowDbLoader.loadFrom(Files.createTempDirectory("none").toFile).tables.isEmpty)
  }

  test("wpgen conf init/check/clean + data clean lifecycle") {
    val root = Files.createTempDirectory("graft-wpgen-conf")
    // init writes the scaffold once, never overwrites
    assert(ProjectInit.wpgenConfInit(root.toString) == Vector("conf/wpgen.toml"))
    assert(ProjectInit.wpgenConfInit(root.toString).isEmpty)
    assert(ProjectInit.wpgenConfCheck(root.toString).isEmpty)
    // invalid configs are reported
    Files.writeString(root.resolve("conf/wpgen.toml"),
      "version = \"1.0\"\n[generator]\nmode = \"bogus\"\ncount = -1\n")
    val problems = ProjectInit.wpgenConfCheck(root.toString)
    assert(problems.exists(_.contains("bogus")) && problems.exists(_.contains("count")))
    // restore a valid conf, generate, then data clean removes the output
    assert(ProjectInit.wpgenConfClean(root.toString) == Vector("conf/wpgen.toml"))
    assert(ProjectInit.wpgenConfCheck(root.toString) == Vector("no conf/wpgen.toml"))
    ProjectInit.init(root.toString, "full")
    WpGenProject.run(spark, root.toString)
    assert(ProjectInit.wpgenDataClean(root.toString).nonEmpty)
    assert(ProjectInit.wpgenDataClean(root.toString).isEmpty)
  }

  test("wpgen -c/--conf: custom config filename across the lifecycle") {
    val root = Files.createTempDirectory("graft-wpgen-conf-c")
    // init/check/clean against a non-default filename
    assert(ProjectInit.wpgenConfInit(root.toString, "custom.toml") ==
      Vector("conf/custom.toml"))
    assert(ProjectInit.wpgenConfCheck(root.toString, "custom.toml").isEmpty)
    // the default filename does not exist → default-named check fails
    assert(ProjectInit.wpgenConfCheck(root.toString) == Vector("no conf/wpgen.toml"))
    // generation and data clean resolve the same custom conf
    ProjectInit.init(root.toString, "full")
    Files.move(root.resolve("conf/wpgen.toml"), root.resolve("conf/gen2.toml"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val reports = WpGenProject.run(spark, root.toString, confName = "gen2.toml")
    assert(reports.nonEmpty && reports.forall(_.rows > 0))
    assert(ProjectInit.wpgenDataClean(root.toString, "gen2.toml").nonEmpty)
    assert(ProjectInit.wpgenConfClean(root.toString, "custom.toml")
      .contains("conf/custom.toml"))
  }

  test("wproj rule parse: per-rule counts over the scaffold's generated data") {
    val root = Files.createTempDirectory("graft-rule-parse")
    ProjectInit.init(root.toString, "full")
    WpGenProject.run(spark, root.toString)
    val p = Project.load(root.toString)
    val src = p.fileSources.filter(_.enable)
      .map(s => Project.resolve(p.root, s.path).getPath)
    val lines = spark.read.text(src: _*).withColumnRenamed("value", "line")
    val parsed = graft.engine.WplEngine.parse(lines, "line", p.wplSource)
    val byRule = parsed.groupBy("status", "rule_key").count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(byRule.toSeq == Seq(("success", "/demo/kv", 1000L)), byRule.toSeq)
  }

  test("wproj init scoped modes materialize only their component families") {
    val root = Files.createTempDirectory("graft-init-scoped")
    ProjectInit.init(root.toString, "model")
    assert(root.resolve("models/wpl/demo/parse.wpl").toFile.isFile)
    assert(!root.resolve("conf/wparse.toml").toFile.exists)
    assert(!root.resolve("topology/sources/wpsrc.toml").toFile.exists)
    val root2 = Files.createTempDirectory("graft-init-conf")
    ProjectInit.init(root2.toString, "conf")
    assert(root2.resolve("conf/wparse.toml").toFile.isFile)
    assert(!root2.resolve("models/wpl/demo/parse.wpl").toFile.exists)
    // data mode: just the data dirs
    val root3 = Files.createTempDirectory("graft-init-data")
    ProjectInit.init(root3.toString, "data")
    assert(root3.resolve("src_dat").toFile.isDirectory)
    assert(root3.resolve("out").toFile.isDirectory)
    assert(!root3.resolve("conf").toFile.exists)
    intercept[IllegalArgumentException](ProjectInit.init(root3.toString, "bogus"))
  }

  test("infra group with parallel is rejected (reference build.rs:421-429)") {
    val root = modernProject()
    write(root, "topology/sinks/infra.d/bad.toml",
      """[sink_group]
        |name = "error"
        |parallel = 4
        |[[sink_group.sinks]]
        |name = "e"
        |use = "file_raw_sink"
        |params = { file = "error.dat" }
        |""".stripMargin)
    val e = intercept[IllegalArgumentException] { Project.load(root.toString) }
    assert(e.getMessage.contains("parallel"))
  }

  test("env interpolation: ${VAR} in TOML strings resolves via the lookup") {
    val root = modernProject()
    write(root, "topology/sinks/business.d/env.toml",
      """[sink_group]
        |name = "envgrp"
        |oml = ["m"]
        |[[sink_group.sinks]]
        |name = "e"
        |use = "file_raw_sink"
        |params = { base = "${OUT_BASE}/data", file = "e.dat" }
        |""".stripMargin)
    val env: Project.EnvLookup =
      k => if (k == "OUT_BASE") Some("/custom/out") else None
    val p = Project.load(root.toString, env)
    val sink = p.business.find(_.name == "envgrp").get.sinks.head
    assert(sink.path.contains("/custom/out/data/e.dat"))
    // unset variables keep their placeholder text (reference behavior)
    val p2 = Project.load(root.toString, _ => None)
    val sink2 = p2.business.find(_.name == "envgrp").get.sinks.head
    assert(sink2.path.contains("${OUT_BASE}/data/e.dat"))
  }

  test("glob wildcard matcher") {
    import Project.glob
    assert(glob("*", "anything"))
    assert(glob("m", "m") && !glob("m", "mm"))
    assert(glob("/t/*", "/t/kv") && !glob("/t/*", "/u/kv"))
    assert(glob("*_oml", "ignore_oml") && !glob("*_oml", "oml_x"))
    assert(glob("a*b*c", "aXbYc") && !glob("a*b*c", "aXcYb"))
  }
}
