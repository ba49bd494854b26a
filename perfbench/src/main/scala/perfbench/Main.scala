package perfbench

/** Harness entry point; `perfbench/run.py` launches it once per run. */
object Main {
  def main(args: Array[String]): Unit = {
    val code = try { run(Opts.parse(args)); 0 } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    // the exit also ends any thread a failed run left behind
    System.exit(code)
  }

  def run(o: Opts): Unit = {
    val res = new Result
    val spans = if (o.trace) Some(new Spans(System.nanoTime())) else None
    val spark = Common.session(o)
    try {
      o.workload match {
        case "wparse_batch" => Batch.run(o, spark, res, spans)
        case "wparse_daemon" => Daemon.run(o, spark, res, spans, probe = false)
        case "analytics_queries" => Analytics.run(o, spark, res, spans, probe = false)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      // a traced run reports every layer: the layers its workload does
      // not go through are measured by the other workloads' code, at
      // probe size, after the workload's own measurements
      spans.foreach { s =>
        if (o.workload != "wparse_batch") Batch.probe(o, spark, res, s)
        if (o.workload != "wparse_daemon") Daemon.run(o, spark, res, spans, probe = true)
        if (o.workload != "analytics_queries") Analytics.run(o, spark, res, spans, probe = true)
      }
    } finally {
      spark.streams.active.foreach(_.stop())
      spark.stop()
    }
    spans.foreach(_.write(o.work.resolve("spans.json")))
    res.write(o.resultFile)
  }
}
