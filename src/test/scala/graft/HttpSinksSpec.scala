package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.sinks.{PrometheusSink, VictoriaLogsSink}

/** Prometheus exporter + VictoriaLogs sink, driven over real HTTP:
  * the exporter serves /metrics to an actual GET, and the VL sink
  * POSTs JSON lines to a live (stub) ingest server. */
class HttpSinksSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freePort(): Int = {
    val ss = new java.net.ServerSocket(0)
    try ss.getLocalPort finally ss.close()
  }

  private def httpGet(url: String): String = {
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    try new String(conn.getInputStream.readAllBytes(), "UTF-8")
    finally conn.disconnect()
  }

  test("prometheus exporter: fixed counter family over live /metrics") {
    import spark.implicits._
    val port = freePort()
    val sink = new PrometheusSink(s"127.0.0.1:$port").start()
    try {
      val batch = Seq(
        ("/t/kv", "ok"), ("/t/kv", "ok"), ("/t/kv", "miss"), ("/j/js", "ok")
      ).toDF("rule_key", "status")
      sink.recordParse(batch)
      sink.recordSink("all_file", 3L)
      val body = httpGet(s"http://127.0.0.1:$port/metrics")
      assert(body.contains("# TYPE wparse_parse_all counter"))
      assert(body.contains("""wparse_parse_all{rule="/t/kv"} 3"""))
      assert(body.contains("""wparse_parse_success{rule="/t/kv"} 2"""))
      assert(body.contains("""wparse_receive_data{rule="/j/js"} 1"""))
      assert(body.contains("""wparse_send_to_sink{sink="all_file"} 3"""))
      // counters accumulate across batches
      sink.recordParse(batch.filter(col("status") === "ok"))
      val body2 = httpGet(s"http://127.0.0.1:$port/metrics")
      assert(body2.contains("""wparse_parse_all{rule="/t/kv"} 5"""))
    } finally sink.stop()
  }

  test("victorialogs sink: per-partition JSON-line POSTs to a live ingest stub") {
    val port = freePort()
    val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/insert/json", (ex: com.sun.net.httpserver.HttpExchange) => {
      received.add(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
      ex.sendResponseHeaders(204, -1)
      ex.close()
    })
    server.start()
    try {
      val df = spark.range(4).select(array(
        struct(lit("user").as("name"), lit("chars").as("dtype"),
          concat(lit("u"), col("id")).as("sval")),
        struct(lit("ts").as("name"), lit("time").as("dtype"),
          lit("1700000000000000").as("sval"))).as("fields"))
      val n = VictoriaLogsSink.write(df, s"http://127.0.0.1:$port",
        fmt = "kv", createTimeField = Some("ts"), postBatch = 2)
      assert(n == 4)
      val lines = received.toArray(Array.empty[String]).flatMap(_.split("\n"))
      assert(lines.length == 4)
      // _msg carries the kv-rendered record, _time the field's micros→ns
      assert(lines.exists(_.contains("\"_msg\":\"user=u0 ts=1700000000000000\"")))
      assert(lines.forall(_.contains("\"_time\":1700000000000000000")))
    } finally server.stop(0)
  }

  test("victorialogs _msg escapes every C0 control: kv unchanged, json-fmt valid JSON inside") {
    val text = "a\u0007b\u001b[31mc\td"
    val df = spark.range(1).select(array(struct(lit("m").as("name"),
      lit("chars").as("dtype"), lit(text).as("sval"))).as("fields"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    // kv fmt: the same bytes as before the quoting kernel
    val kv = VictoriaLogsSink.prepare(df, fmt = "kv").head().getString(0)
    assert(kv.startsWith("{\"_msg\":\"m=a\\u0007b\\u001b[31mc\\td\",\"_time\":"), kv)
    assert(mapper.readTree(kv).get("_msg").asText == s"m=$text")
    // json fmt: the inner line is itself valid JSON holding the text
    val js = VictoriaLogsSink.prepare(df, fmt = "json").head().getString(0)
    val inner = mapper.readTree(js).get("_msg").asText
    assert(inner == "{\"m\":\"a\\u0007b\\u001b[31mc\\td\"}", inner)
    assert(mapper.readTree(inner).get("m").asText == text)
  }

  test("victorialogs _time guard: out-of-range numerics fall back to ingest time, never throw") {
    // r12 ADVICE (medium): a 17-18 digit numeric time field passed the
    // digits guard but overflowed the *1000 ns multiply under ANSI
    // mode, failing the whole batch — the contract is fall back to
    // ingest time. Three probes: a valid 16-digit epoch-micros value
    // passes through; a 16-digit value above Long.MaxValue/1000 and an
    // 18-digit value both fall back (and nothing throws).
    def timeOf(sval: String): String = {
      val df = spark.range(1).select(array(
        struct(lit("ts").as("name"), lit("time").as("dtype"),
          lit(sval).as("sval"))).as("fields"))
      val line = VictoriaLogsSink.prepare(df, fmt = "kv",
        createTimeField = Some("ts")).head().getString(0)
      line.split("\"_time\":")(1).stripSuffix("}")
    }
    assert(timeOf("1700000000000000") == "1700000000000000000")
    // 9999999999999999 micros (16 digits) * 1000 overflows a long
    val over16 = timeOf("9999999999999999")
    assert(over16.toLong != -1 && over16 != "9999999999999999000",
      s"must fall back to ingest time, got $over16")
    val over18 = timeOf("170000000000000000")
    assert(over18.toLong > 0 && over18 != "170000000000000000000",
      s"must fall back to ingest time, got $over18")
  }
}
