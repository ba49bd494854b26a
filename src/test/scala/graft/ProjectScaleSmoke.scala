package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** End-to-end pipeline scale smoke over a project instance: wpgen →
  * text → parse + OML transform + group routing + sink format + write —
  * the BASELINE.md "end-to-end (parse + OML + sink format)" shape.
  * Run: sbt "Test/runMain graft.ProjectScaleSmoke [nLines]" */
object ProjectScaleSmoke {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(2000000L)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "12m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val root = Files.createTempDirectory("graft-proj-scale")
    def write(rel: String, content: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, content.getBytes("UTF-8"))
    }
    val wpl =
      """package /scale {
         rule r { (digit:id,ip:src,time:at,sn:dev,chars:name,http/status:st,float:v)\, }
        }"""
    write("conf/wparse.toml",
      """[models]
        |wpl = "./wpl"
        |oml = "./oml"
        |[topology]
        |sources = "./topology/sources"
        |sinks = "./topology/sinks"
        |""".stripMargin)
    write("wpl/parse.wpl", wpl)
    write("oml/m.oml",
      """name : m
        rule : /scale/*
        ---
        id : digit = take(option:[id]) ;
        src : ip = take(option:[src]) ;
        status : digit = take(option:[st]) { _ : digit(0) } ;
        * = take() ;
      """)
    write("topology/sources/wpsrc.toml",
      """[[source_file]]
        |key = "gen"
        |path = "./src_dat"
        |enable = true
        |""".stripMargin)
    write("topology/sinks/business.d/m.toml",
      """[sink_group]
        |name = "m"
        |oml = ["m"]
        |[[sink_group.sinks]]
        |name = "all"
        |fmt = "json"
        |target = "file"
        |path = "./out/all.dat"
        |""".stripMargin)

    val t0 = System.nanoTime()
    graft.gen.WpGen.dataset(spark, wpl, "/scale/r", n)
      .repartition(32).write.mode("overwrite").text(root.resolve("src_dat").toString)
    val tGen = (System.nanoTime() - t0) / 1e9
    println(f"PROJ-SCALE gen: $n lines in $tGen%.1f s")

    // stage attribution: parse+transform only (no routing/format/write)
    val tp0 = System.nanoTime()
    val parsedOnly = graft.engine.Pipeline.run(
      spark.read.text(root.resolve("src_dat").toString).withColumnRenamed("value", "raw_line"),
      "raw_line", wpl, Seq(Files.readString(root.resolve("oml/m.oml"))))
    val nOk = parsedOnly.filter(org.apache.spark.sql.functions.col("status") === "ok").count()
    val tParse = (System.nanoTime() - tp0) / 1e9
    println(f"PROJ-SCALE parse+oml: $n in $tParse%.1f s (${n / tParse / 1e6}%.2f M rec/s) ok=$nOk")

    val t1 = System.nanoTime()
    val p = graft.project.Project.load(root.toString)
    val reports = graft.project.ProjectRun.runBatch(spark, p) // part-dir per sink
    val tRun = (System.nanoTime() - t1) / 1e9
    val total = reports.map(_.rows).sum
    println(f"PROJ-SCALE e2e: $n lines in $tRun%.1f s (${n / tRun / 1e6}%.2f M rec/s, " +
      f"${n / tRun / 32 / 1000}%.0f k rec/s/core) " +
      reports.map(r => s"${r.group}/${r.sink}=${r.rows}").mkString(" "))
    assert(reports.find(r => r.group == "m").exists(_.rows == n),
      s"expected all $n records routed to m/all, got $reports")
    spark.stop()
  }
}
