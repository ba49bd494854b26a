package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.collection.concurrent.TrieMap

/** Prometheus exporter sink (reference
  * `connectors/sink.d/40-prometheus.toml` + docs
  * 05-connectors/02-sinks/14-prometheus_sink.md): a SELF-EXPOSING
  * exporter — a local HTTP service publishing `/metrics` with the
  * reference's fixed Counter family:
  *
  *   wparse_receive_data   (records received, source labels)
  *   wparse_parse_success / wparse_parse_all
  *   wparse_send_to_sink   (records sent, sink labels)
  *
  * Pushgateway / custom metric names / non-counter types are out of
  * scope, matching the reference. Counters live on the driver; batch
  * counts arrive via `recordParse`/`recordSink` (one aggregation per
  * micro-batch — the same counts the monitor sink already computes). */
final class PrometheusSink(endpoint: String) {
  private val counters = TrieMap.empty[(String, Vector[(String, String)]), Long]
  @volatile private var server: com.sun.net.httpserver.HttpServer = _

  def inc(metric: String, labels: Vector[(String, String)], n: Long): Unit = {
    val k = (metric, labels.sortBy(_._1))
    counters.updateWith(k) { case v => Some(v.getOrElse(0L) + n) }
  }

  /** Count one parsed batch into the parse-stage counters. */
  def recordParse(batch: DataFrame): Unit = {
    val rows = batch.groupBy(col("rule_key"), col("status")).count().collect()
    rows.foreach { r =>
      val rule = Option(r.getString(0)).getOrElse("-")
      val status = r.getString(1)
      val n = r.getLong(2)
      inc("wparse_receive_data", Vector("rule" -> rule), n)
      inc("wparse_parse_all", Vector("rule" -> rule), n)
      if (status == "ok" || status == "default" || status == "residue-only")
        inc("wparse_parse_success", Vector("rule" -> rule), n)
    }
  }

  def recordSink(sinkKey: String, n: Long): Unit =
    inc("wparse_send_to_sink", Vector("sink" -> sinkKey), n)

  /** Prometheus text exposition format. */
  def render: String = {
    val byMetric = counters.toVector.groupBy(_._1._1).toVector.sortBy(_._1)
    byMetric.map { case (metric, entries) =>
      s"# TYPE $metric counter\n" + entries.sortBy(_._1._2.toString).map {
        case ((_, labels), v) =>
          val ls =
            if (labels.isEmpty) ""
            else labels.map { case (k, lv) => s"""$k="$lv"""" }.mkString("{", ",", "}")
          s"$metric$ls $v"
      }.mkString("\n")
    }.mkString("", "\n", "\n")
  }

  /** Start the exporter HTTP service on `endpoint` (host:port). */
  def start(): PrometheusSink = synchronized {
    if (server == null) {
      val Array(host, port) = endpoint.split(":", 2)
      server = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress(host, port.toInt), 0)
      server.createContext("/metrics", (ex: com.sun.net.httpserver.HttpExchange) => {
        val body = render.getBytes("UTF-8")
        ex.getResponseHeaders.set("Content-Type", "text/plain; version=0.0.4")
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body)
        ex.close()
      })
      server.setExecutor(null)
      server.start()
    }
    this
  }

  def stop(): Unit = synchronized {
    if (server != null) { server.stop(0); server = null }
  }
}

/** VictoriaLogs sink (reference docs
  * 05-connectors/02-sinks/16-victorialogs.md): each record becomes one
  * JSON line `{"_msg": <fmt-rendered record>, "_time": <ns>}` POSTed to
  * `endpoint + insert_path` — `_time` prefers the configured
  * `create_time_field` from the record (epoch-micros sval → ns),
  * falling back to ingestion time. The POST happens per PARTITION
  * (executor-side, batched) — no record ever routes through the
  * driver. */
object VictoriaLogsSink {

  /** Render the `fields` frame to the VictoriaLogs JSON-line `value`
    * column — fully native (the dtype-aware [[Formatters.line]], so a
    * json-fmt `_msg` carries TYPED values like every other sink
    * surface; the old shape rebuilt each field as a WChars inside a
    * per-row UDF). `_time` fallback is `current_timestamp()` — the
    * query-start instant, Spark's deterministic ingestion-time
    * analog of the old per-row wall clock. */
  def prepare(parsed: DataFrame, fmt: String = "json",
              createTimeField: Option[String] = None): DataFrame = {
    import graft.engine.WplEngine
    val ingestNs = unix_micros(current_timestamp()) * lit(1000L)
    val timeNs = createTimeField
      .map { name =>
        // digits-only guard BEFORE the cast: under Spark 4's default
        // ANSI mode a bare cast("long") THROWS on a non-numeric time
        // field — the contract is fall back to ingest time, not fail
        // the batch. ≤16 digits always fits a long (max 1e16−1 <
        // Long.MaxValue) so the cast itself can't throw; the inner
        // bound then keeps the ns multiply in range (a 16-digit micros
        // value above Long.MaxValue/1000 would overflow-throw under
        // ANSI — same fall-back contract, not a batch failure)
        val sval = WplEngine.fieldSval(name)
        val maxMicros = Long.MaxValue / 1000L
        coalesce(
          when(sval.rlike("^-?[0-9]{1,16}$"),
            when(sval.cast("long").between(-maxMicros, maxMicros),
              sval.cast("long") * lit(1000L))),
          ingestNs)
      }
      .getOrElse(ingestNs)
    // jsonQuote escapes every C0 control (an ANSI colour ESC, a BEL),
    // so the line is valid JSON whatever the record holds
    val msg = WplEngine.jsonQuote(Formatters.line(fmt, col("fields")))
    parsed.select(concat(
      lit("{\"_msg\":"), msg,
      lit(",\"_time\":"), timeNs.cast("string"), lit("}")).as("value"))
  }

  /** Batch write: JSON lines POSTed per partition in `postBatch`-sized
    * chunks. Returns the row count. */
  def write(parsed: DataFrame, endpoint: String,
            insertPath: String = "/insert/json", fmt: String = "json",
            createTimeField: Option[String] = None,
            postBatch: Int = 1000): Long = {
    val url = endpoint.stripSuffix("/") + insertPath
    val n = parsed.sparkSession.sparkContext.longAccumulator("vl_rows")
    prepare(parsed, fmt, createTimeField).foreachPartition { (it: Iterator[Row]) =>
      it.grouped(postBatch).foreach { chunk =>
        val body = chunk.map(_.getString(0)).mkString("\n")
        post(url, body)
        n.add(chunk.size)
      }
    }
    n.value
  }

  private[sinks] def post(url: String, body: String): Unit = {
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setRequestProperty("Content-Type", "application/stream+json")
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(10000)
    val bytes = body.getBytes("UTF-8")
    conn.getOutputStream.write(bytes)
    conn.getOutputStream.close()
    val code = conn.getResponseCode
    conn.getInputStream.close()
    require(code >= 200 && code < 300, s"victorialogs POST $url -> $code")
  }
}
