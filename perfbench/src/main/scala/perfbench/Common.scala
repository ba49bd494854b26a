package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Command-line options the runner passes to the harness JVM. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: Path, launchNs: Long, sfDir: String, threads: Int,
                      resultFile: Path, instance: Path) {
  /** Seconds from the runner's launch of this JVM to now (wall clock). */
  def sinceLaunch: Double = (epochNs() - launchNs) / 1e9
  private def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath, need("launch-ns").toLong,
      m.getOrElse("sf", ""), need("threads").toInt, Paths.get(need("result")).toAbsolutePath,
      Paths.get(need("instance")).toAbsolutePath)
  }
}

/** Metrics and check outcome of one run, written as JSON for the runner. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val problems = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** Paths the runner checks itself (e.g. query outputs against DuckDB). */
  val extra = mutable.LinkedHashMap.empty[String, String]

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** The end-to-end figures every workload reports, from its own unit of
    * work (passes, files, queries). Latency is a median only: a batch run
    * has about 5 passes and the query set 30 queries, too few samples
    * for a tail percentile. A traced run reports them as `trace.*`: set
    * beside the untraced runs' figures, they give the tracing overhead. */
  def endToEnd(trace: Boolean, perS: Double, p50Ms: Double): Unit = {
    val pre = if (trace) "trace." else ""
    put(pre + "throughput_per_s", perS, "1/s")
    put(pre + "latency_p50_ms", p50Ms, "ms")
  }
  def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what

  def write(p: Path): Unit = {
    def q(s: String) = Common.jsonString(s)
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val ms = metrics.map { case (k, (v, u)) => s"${q(k)}: {\"value\": ${num(v)}, \"unit\": ${q(u)}}" }
    val json =
      s"""{"attempted": $attempted, "failed": $failed,
         |"problems": [${problems.take(50).map(q).mkString(", ")}],
         |"n_problems": ${problems.size},
         |"extra": {${extra.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString(", ")}},
         |"metrics": {${ms.mkString(",\n")}}}""".stripMargin
    Files.write(p, json.getBytes("UTF-8"))
  }
}

/** Nested wall-clock spans (name, start, end, parent) for the traced run. */
final class Spans(t0: Long) {
  private val out = mutable.ArrayBuffer.empty[(Int, String, Double, Double, Int)]
  private var stack = List(-1)
  def apply[T](name: String)(body: => T): T = {
    val id = out.size
    val start = (System.nanoTime() - t0) / 1e6
    out += ((id, name, start, Double.NaN, stack.head))
    stack = id :: stack
    try body finally {
      stack = stack.tail
      val (i, n, s, _, p) = out(id)
      out(id) = (i, n, s, (System.nanoTime() - t0) / 1e6, p)
    }
  }
  def write(p: Path): Unit = {
    val lines = out.map { case (i, n, s, e, par) =>
      f"""{"id": $i, "name": ${Common.jsonString(n)}, "start_ms": $s%.3f, "end_ms": $e%.3f, "parent": $par}"""
    }
    Files.write(p, lines.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}

/** A reading of [[StageTotals]]; the difference of two is an interval. */
final case class Snap(jobs: Long, tasks: Long, taskS: Double, gcS: Double,
                      written: Long, records: Long, shuffle: Long) {
  def -(o: Snap) = Snap(jobs - o.jobs, tasks - o.tasks, taskS - o.taskS, gcS - o.gcS,
    written - o.written, records - o.records, shuffle - o.shuffle)
}

/** SparkListener totals: jobs, tasks, task time, GC, bytes. */
final class StageTotals extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskNs = new AtomicLong
  val gcMs = new AtomicLong
  val bytesWritten = new AtomicLong
  val recordsWritten = new AtomicLong
  val shuffleBytes = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskNs.addAndGet(m.executorRunTime * 1000000L)
      gcMs.addAndGet(m.jvmGCTime)
      bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
      recordsWritten.addAndGet(m.outputMetrics.recordsWritten)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }
  def snap(): Snap = Snap(jobs.get, tasks.get, taskNs.get / 1e9, gcMs.get / 1e3,
    bytesWritten.get, recordsWritten.get, shuffleBytes.get)
}

object Common {
  /** One local session per run. Every scratch path Spark or the program
    * creates (local dirs, warehouse, java.io.tmpdir — set by the runner)
    * lives under the run's work directory, which the runner removes. */
  def session(o: Opts): SparkSession = {
    val local = o.work.resolve("spark-local")
    Files.createDirectories(local)
    val spark = SparkSession.builder()
      .master(s"local[${o.threads}]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", o.threads.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile, p in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
  }

  def deleteTree(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toVector.reverse.foreach(Files.delete)
  }

  /** Every `part-*` file under `dir`, recursively, in name order. */
  def partFiles(dir: File): Vector[File] =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).sortBy(_.getName).toVector.flatMap { f =>
      if (f.isDirectory) partFiles(f)
      else if (f.getName.startsWith("part") && !f.getName.endsWith(".crc")) Vector(f)
      else Vector.empty
    }

  /** Lines of every `part-*` file under `dir`, recursively. */
  def partLines(dir: File): Iterator[String] = partFiles(dir).iterator.flatMap(readLines)

  def readLines(f: File): Iterator[String] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(f.toPath).asScala.iterator
  }

  def writeFile(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes("UTF-8"))
  }

  /** Copy the project-instance template into the run's work dir. */
  def copyTree(from: Path, to: Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(from).iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else {
        Files.createDirectories(dst.getParent)
        Files.copy(src, dst, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }

  /** JSON string literal. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
}
