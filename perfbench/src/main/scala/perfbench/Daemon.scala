package perfbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** `wparse_daemon`: the batch workload's instance with its source on a
  * landing directory and the monitor sink on, run as `wparse daemon
  * <dir>` in-process (CLI default 1 s trigger). Files are dropped
  * open-loop on a schedule phase-locked to the trigger's epoch clock,
  * then a backlog is dropped at once and drained. The traced runs of the
  * other workloads run it as the streaming layer's probe, with a shorter
  * warm-up and backlog. */
object Daemon {
  val LinesPerFile = 800
  /** Open-loop offered rate, files per second (one file per 100 ms). */
  val FilesPerSecond = 10
  val MinScheduledFiles = 100
  /** Files per phase. Backlogs are multiples of the source's 16 files
    * per trigger. */
  final case class Sizes(warm: Int, scheduled: Int, backlog: Int)
  /** The workload's: a 6-batch warm-up, 8 backlog micro-batches. */
  def workload(o: Opts): Sizes =
    Sizes(96, math.max(MinScheduledFiles, (FilesPerSecond * o.seconds).round.toInt), 128)
  val Probe: Sizes = Sizes(32, MinScheduledFiles, 32)
  /** Drops sit this far after an epoch-second trigger boundary. */
  val PhaseMs = 50L

  /** One completed micro-batch, from its progress event. */
  final case class Batch(id: Long, startMs: Long, triggerMs: Long, addBatchMs: Long,
                         rows: Long) {
    def endMs: Long = startMs + triggerMs
  }

  final class Progress extends StreamingQueryListener {
    val batches = new ConcurrentHashMap[Long, Batch]()
    val rows = new java.util.concurrent.atomic.AtomicLong
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0 && !batches.containsKey(p.batchId)) {
        val d = p.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        batches.put(p.batchId, Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
          ms("triggerExecution"), ms("addBatch"), p.numInputRows))
        rows.addAndGet(p.numInputRows)
        println(s"[perfbench] batch ${p.batchId}: rows=${p.numInputRows} durations=${d}")
      }
    }
  }

  /** Jobs and task time per streaming batch (traced run). */
  final class PerBatch extends SparkListener {
    val jobs = new ConcurrentHashMap[Long, java.lang.Long]()
    val taskNs = new ConcurrentHashMap[Long, java.lang.Long]()
    private val stageBatch = new ConcurrentHashMap[Int, Long]()
    private def batchOf(props: java.util.Properties): Option[Long] =
      Option(props).flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      batchOf(e.properties).foreach(b => jobs.merge(b, 1L, (a, c) => a + c))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      batchOf(e.properties).foreach(b => stageBatch.put(e.stageInfo.stageId, b))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageBatch.get(e.stageId)).foreach { b =>
        if (e.taskMetrics != null)
          taskNs.merge(b, e.taskMetrics.executorRunTime * 1000000L, (a, c) => a + c)
      }
  }

  private def nowMs(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }

  private def sleepUntil(epochMs: Double): Unit = {
    var left = epochMs - nowMs()
    while (left > 0) {
      if (left > 2) Thread.sleep((left - 1).toLong) else Thread.onSpinWait()
      left = epochMs - nowMs()
    }
  }

  def run(o: Opts, spark: SparkSession, res: Result, spans: Option[Spans],
          probe: Boolean): Unit = {
    def span[T](n: String)(b: => T): T = spans.fold(b)(_(n)(b))
    val Sizes(warmFiles, scheduled, backlogFiles) = if (probe) Probe else workload(o)
    val inst = o.work.resolve("instance")
    Common.copyTree(o.instance, inst)
    Common.copyTree(o.instance.resolveSibling("instance-daemon"), inst)
    val landing = inst.resolve("landing")
    val staging = o.work.resolve("staging")
    Files.createDirectories(landing)
    val nFiles = warmFiles + scheduled + backlogFiles
    // every file is generated up front; a drop is one rename
    val want = new Truth.Acc
    val staged = span("generate")((0 until nFiles).map { f =>
      val p = staging.resolve(f"in-$f%05d.log")
      Gen.writeFile(p.toFile, o.seed, f.toLong * LinesPerFile, (f + 1L) * LinesPerFile)(want.add)
      p
    })
    def landed(f: Int) = landing.resolve(staged(f).getFileName)
    def drop(f: Int): Unit = Files.move(staged(f), landed(f), StandardCopyOption.ATOMIC_MOVE)
    // processed input files are removed between phases while they are
    // young: deleting files the kernel has already written back can be
    // slow (online discard), enough to dominate a run's clean-up
    def removeLanded(fs: Range): Unit = fs.foreach(f => Files.delete(landed(f)))

    val progress = new Progress
    spark.streams.addListener(progress)
    val perBatch = if (o.trace) Some(new PerBatch) else None
    perBatch.foreach(spark.sparkContext.addSparkListener)
    val daemonError = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val daemon = new Thread(() =>
      try graft.cli.Cli.main(Array("wparse", "daemon", inst.toString))
      catch { case e: Throwable => daemonError.set(e) }, "wparse-daemon")
    daemon.setDaemon(true)

    def awaitRows(n: Long, what: String): Unit = {
      val deadline = System.nanoTime() + 90L * 1000000000L
      while (progress.rows.get < n) {
        if (daemonError.get != null) throw new IllegalStateException("daemon failed", daemonError.get)
        if (System.nanoTime() > deadline)
          throw new IllegalStateException(s"$what: ${progress.rows.get} of $n lines processed")
        Thread.sleep(5)
      }
    }

    try {
      span("warmup") {
        daemon.start()
        (0 until warmFiles).foreach(drop)
        awaitRows(warmFiles.toLong * LinesPerFile, "warm-up")
      }
      removeLanded(0 until warmFiles)
      if (!probe) res.put("setup_s", o.sinceLaunch, "s")

      // open loop: drop i is due at t0 + i·period, t0 on the trigger clock
      val periodMs = 1000.0 / FilesPerSecond
      val t0 = (math.ceil(nowMs() / 1000) + 1) * 1000 + PhaseMs
      val due = (0 until scheduled).map(i => t0 + i * periodMs)
      val late = span("open_loop") {
        val l = due.indices.map { i =>
          sleepUntil(due(i))
          drop(warmFiles + i)
          nowMs() - due(i)
        }
        awaitRows((warmFiles + scheduled).toLong * LinesPerFile, "open loop")
        l
      }
      removeLanded(warmFiles until warmFiles + scheduled)

      // backlog: every remaining file at once
      span("backlog") {
        (warmFiles + scheduled until nFiles).foreach(drop)
        awaitRows(nFiles.toLong * LinesPerFile, "backlog")
      }
      spark.streams.active.foreach(_.stop())
      daemon.join(60000)
      spark.streams.removeListener(progress)
      perBatch.foreach(spark.sparkContext.removeSparkListener)
      if (daemonError.get != null) throw new IllegalStateException("daemon failed", daemonError.get)

      // which batch wrote each file: every record carrying a line id
      val fileBatches = span("check")(check(o, inst, want, nFiles, res))
      val batches = progress.batches.asScala.toMap
      def batchesOf(f: Int) = fileBatches.getOrElse(f, Set.empty[Long])
      val lat = due.indices.flatMap { i =>
        val bs = batchesOf(warmFiles + i).flatMap(batches.get)
        if (bs.isEmpty) None else Some(bs.map(_.endMs).max - due(i))
      }
      res.check(lat.size == scheduled, s"latency known for ${lat.size} of $scheduled files")
      val p50 = Common.median(lat)
      val p90 = Common.percentile(lat, 90)
      // the backlog must not grow during the open loop
      val tail = Common.median(lat.takeRight(10))
      res.check(tail <= p50 + 1000,
        f"open loop fell behind: last 10 files at $tail%.0f ms, median $p50%.0f ms")
      val backlog = (warmFiles + scheduled until nFiles).flatMap(batchesOf).toSet
        .flatMap(batches.get)
      // rows over the time the backlog's micro-batches ran
      // (triggerExecution), not over the backlog's span: a batch shorter
      // than the trigger interval would leave the span set by the trigger
      // clock, not by the program. Summed over the batches rather than a
      // median of per-batch rates: over the same five runs the run-to-run
      // spread was 0.04 against 0.07 for the median
      val drainLps = backlog.toSeq.map(_.rows).sum * 1000.0 / backlog.toSeq.map(_.triggerMs).sum
      // the unit of latency is one file; throughput is the drain rate
      if (!probe) {
        res.endToEnd(o.trace, drainLps, p50)
        res.attempted = nFiles
      }
      if (o.trace) {
        val open = batches.values.toVector.sortBy(_.id)
          .filter(b => b.startMs >= t0 - periodMs && b.endMs <= backlog.map(_.startMs).min)
        // the tail: at least 100 files, so ten or more lie beyond it
        res.put("streaming.latency_p90_ms", p90, "ms")
        res.put("streaming.batches", open.size, "count")
        res.put("streaming.rows_per_batch", Common.median(open.map(_.rows.toDouble)), "count")
        val trig = Common.median(open.map(_.triggerMs.toDouble))
        res.put("streaming.trigger_ms", trig, "ms")
        res.put("streaming.add_batch_ms", Common.median(open.map(_.addBatchMs.toDouble)), "ms")
        res.put("streaming.wait_ms", p50 - trig, "ms")
        val pb = perBatch.get
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        res.put("streaming.jobs_per_batch",
          Common.median(open.map(b => Option(pb.jobs.get(b.id)).map(_.toDouble).getOrElse(0.0))),
          "count")
        res.put("streaming.task_s_per_batch",
          Common.median(open.map(b =>
            Option(pb.taskNs.get(b.id)).map(_.toDouble / 1e9).getOrElse(0.0))), "s")
        res.put("streaming.gen_late_ms", Common.median(late), "ms")
        res.put("streaming.drain_batches", backlog.size, "count")
      }
      Seq(inst, staging).foreach(Common.deleteTree)
    } finally {
      spark.streams.active.foreach(_.stop())
    }
  }

  /** Exactly-once over the per-batch sink directories against the
    * generator's truth, the monitor totals, and the batch that wrote
    * each file (from the line ids its records carry). */
  def check(o: Opts, inst: Path, want: Truth.Acc, nFiles: Int,
            res: Result): Map[Int, Set[Long]] = {
    val out = inst.resolve("out").toFile
    Truth.compare(out, want, nFiles.toLong * LinesPerFile, o.threads, res)
    // monitor: per-batch status counts must add up to every line
    val monitored = Common.partLines(new File(out, "monitor.dat.d"))
      .filter(_.contains(" status=")).map(_.split("count=")(1).trim.toLong).sum
    res.check(monitored == nFiles.toLong * LinesPerFile,
      s"monitor counted $monitored lines, expected ${nFiles.toLong * LinesPerFile}")
    val seen = scala.collection.mutable.Map.empty[Int, Set[Long]]
    for (ch <- Truth.Primary; d <- Option(new File(out, ch + ".d").listFiles()).toSeq.flatten
         if d.isDirectory && d.getName.startsWith("batch=")) {
      val b = d.getName.stripPrefix("batch=").toLong
      Common.partLines(d).foreach { l =>
        val id = Truth.idOf(ch, l)
        if (id >= 0) {
          val f = (id / LinesPerFile).toInt
          seen(f) = seen.getOrElse(f, Set.empty) + b
        }
      }
    }
    val split = seen.count(_._2.size > 1)
    res.check(split == 0, s"$split files have records in more than one batch")
    seen.toMap
  }
}
