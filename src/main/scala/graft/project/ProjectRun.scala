package graft.project

import java.io.File
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Pipeline
import graft.oml.KnowDb
import graft.sinks.SinkRouter

/** Batch execution of a loaded project instance (reference `wparse
  * batch` over a wp-proj work root — `crates/wp-proj/src/wparse`):
  *
  *   enabled file sources → Pipeline.run (one codegen pass, per-source
  *   tags) → union → route:
  *     - business groups by `oml`/`rule` wildcard match (fanout: every
  *       matching group's sinks get the record — reference
  *       `route_with_transform`, src/sinks/routing/dispatcher/oml.rs:269-302);
  *     - per-sink `filter`/`filter_expect` diverts to the `intercept`
  *       infra channel;
  *     - unmatched ok/default records → `default` infra; miss → `miss`;
  *       error → `error`; non-empty residue → `residue` (additionally).
  *
  * The whole route stage is Column predicates over ONE persisted parsed
  * frame — each sink is a filtered projection written once by
  * [[writeSinks]], so the plan stays a scan→narrow-select per sink with
  * no shuffle and one job; at 100 TB this is the same shape as the
  * reference's per-sink channel fanout.
  *
  * Sink fmt rides the generic (name, dtype, sval) field triples; `time`
  * renders as epoch-micros and nested obj/array as their canonical JSON
  * (documented divergence: the reference re-renders from its typed
  * in-memory Value). */
object ProjectRun {

  /** `expectOk` is the raw share-of-basis validation result;
    * `expectEnforced` reflects the group's expect `mode` (warn → false:
    * violations are reported but don't fail the run — the reference's
    * ExpectMode default). */
  final case class SinkReport(group: String, sink: String, path: String,
                              rows: Long, intercepted: Long, expectOk: Boolean,
                              expectEnforced: Boolean = false)

  /** Format one record's fields for a sink. dtypes digit/float/bool and
    * the JSON-shaped obj/array embed unquoted in json fmt (matches
    * Formatters.json over live WValues for every scalar the corpus
    * emits). The expression lives in [[graft.sinks.Formatters.line]] so
    * the quick paths (wparse batch channels, kafka wrapper) emit the
    * same typed output. */
  private def fmtLine(fmt: String): Column =
    graft.sinks.Formatters.line(fmt, col("fields"))

  /** Rule-target wildcard → anchored regex for Column rlike. */
  private def globToRegex(pat: String): String =
    "^" + java.util.regex.Pattern.quote(pat).replace("*", "\\E.*\\Q") + "$"

  /** Read a sink's lines regardless of layout: its part-file directory
    * (`<path>.d`, with per-batch and `rescued` subdirectories), a bare
    * directory at `<path>`, or a single merged file at `<path>` (the
    * layout of older outputs). */
  def readSinkLines(base: File): Vector[String] = {
    def partLines(dir: File): Vector[String] = {
      val entries = Option(dir.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
      // streaming sinks nest per-batch subdirs (batch=<id>) — recurse
      entries.filter(_.isDirectory).toVector.flatMap(partLines) ++
        entries.filter(f => f.isFile && f.getName.startsWith("part") &&
            !f.getName.endsWith(".crc"))
          .flatMap { f =>
            val src = scala.io.Source.fromFile(f, "UTF-8")
            try src.getLines().toVector finally src.close()
          }.toVector
    }
    val sharded = new File(base.getPath + ".d")
    if (base.isFile) {
      val src = scala.io.Source.fromFile(base, "UTF-8")
      try src.getLines().toVector finally src.close()
    } else if (base.isDirectory) partLines(base)
    else if (sharded.isDirectory) partLines(sharded)
    else Vector.empty
  }

  /** Mechanism-field tag set: `wp_src_key` = the source's configured
    * key, merged under the user's own tags (an explicit tag with the
    * same name wins). Reference: parser.rs appends wp_src_key on every
    * successful parse (gen_msg_id is hard-coded true in the runtime);
    * docs/usage/en/05-connectors/01-sources/09-metadata.md. */
  private def metaTags(key: String, tags: Map[String, String]): Map[String, String] =
    if (key.isEmpty) tags else Map("wp_src_key" -> key) ++ tags

  /** Per-row mechanism fields (source metadata doc):
    *  - `wp_event_id`: unique ingest id column, String per the metadata
    *    doc (the reference's SourceEvent.event_id is a per-run counter;
    *    unique, not reproducible across runs in either engine — uuid()
    *    here because it is also legal in streaming plans, where
    *    monotonically_increasing_id is not);
    *  - `wp_src_ip`: for net sources, the client ip appended to the
    *    parsed fields (dtype ip) on every record that produced fields —
    *    miss/blank records carry none, matching the reference where the
    *    append happens on parse success.
    * Native expressions only (when/array_append), so the parse stage
    * stays a single codegen projection. */
  private def withMeta(parsed: DataFrame, ipCol: Option[String] = None): DataFrame = {
    val base = parsed.withColumn("wp_event_id", expr("uuid()"))
    ipCol match {
      case Some(c) =>
        base.withColumn("fields",
            when(col("status").isin("miss", "blank") || col(c).isNull, col("fields"))
              .otherwise(array_append(col("fields"),
                struct(lit("wp_src_ip").as("name"), lit("ip").as("dtype"),
                  col(c).as("sval")))))
          .drop(c)
      case None => base
    }
  }

  /** Run the project in batch over its enabled file sources: parse
    * once (persisted), then [[writeSinks]] writes every routed sink once
    * as a part-file directory `<path>.d`. Returns per-sink reports (rows,
    * intercepts, expect validation). A sink kind that is not delivered
    * ([[Project.undelivered]]) refuses the run before any job.
    *
    * `maxLines` = the reference's `-n/--max_line` picker cap (applies
    * per source, as each reference picker consumes its own budget);
    * `parseWorkers` = the `-w/--parse-workers` CLI override, which wins
    * over `[performance].parse_workers`; `statPrint` = `-p`: print
    * per-status parse counts at completion. */
  def runBatch(spark: SparkSession, p: Project.Loaded,
               knowDb: KnowDb = KnowDb.empty,
               enricher: graft.wpl.Enricher = graft.wpl.Enricher.empty,
               maxLines: Option[Long] = None,
               parseWorkers: Option[Int] = None,
               statPrint: Boolean = false): Vector[SinkReport] = {
    refuseUndelivered(p)
    p.conf.logLevel.foreach(l => spark.sparkContext.setLogLevel(l.toUpperCase))
    val sources = p.fileSources.filter(_.enable)
    require(sources.nonEmpty, "no enabled file sources")
    val workers = parseWorkers.orElse(p.conf.parseWorkers)
    val parsed = sources.map { s =>
      val path = Project.resolve(p.root, s.path)
      // keep the raw line: miss/residue/error infra sinks write original
      // payload text, not formatted fields (reference rescue semantics)
      val read = spark.read.text(path.getPath).withColumnRenamed("value", "raw_line")
      val capped = maxLines.fold(read)(n => read.limit(n.min(Int.MaxValue).toInt))
      // [performance].parse_workers / -w: explicit parse-stage
      // parallelism (the reference's worker-pool size; here = partitions)
      val lines = workers.fold(capped)(w => capped.repartition(w))
      withMeta(Pipeline.run(lines, "raw_line", p.wplSource, p.omlSources.map(_._2),
        keep = Seq("raw_line"), knowDb = knowDb, sourceTags = metaTags(s.key, s.tags),
        enricher = enricher,
        semanticEnabled = p.conf.semanticEnabled)) // [semantic].enabled, default off
    }.reduce(_ unionByName _).persist()
    try {
      val reports = validateExpects(p, parsed, writeSinks(p, routePlan(p, parsed), ""))
      // [rescue].path capture: failed payloads feed a later `wprescue`
      writeRescue(p, parsed)
      if (statPrint)
        parsed.groupBy(col("status")).count().orderBy(col("status"))
          .collect().foreach(r => println(s"[stat] status=${r.get(0)} count=${r.get(1)}"))
      reports
    } finally parsed.unpersist()
  }

  /** One routed sink: the frame it writes (its group's input, observed,
    * then kept by the sink's filter), the line-formatting column, and
    * the observation of that input — `input` records entered, `rows`
    * kept — which the sink's own write fills. */
  final case class RoutedSink(group: String, sink: String, kind: String,
                              path: String, line: Column, df: DataFrame,
                              counts: Observation)

  /** Build the full routing plan over a parsed frame — shared by batch,
    * streaming (per micro-batch) and rescue. Pure plan construction:
    * every entry is a filtered projection of `parsed`, no actions. */
  def routePlan(p: Project.Loaded, parsed: DataFrame): Vector[RoutedSink] = {
    val out = Vector.newBuilder[RoutedSink]
    val routable = col("status").isin("ok", "default", "residue-only")

    // group match predicate over (oml_model, rule_key) wildcards
    def matchCol(g: Project.SinkGroup): Column = {
      def pats(ps: Vector[String], c: Column): Column =
        ps.map {
          case "*" => c.isNotNull
          case pat if pat.contains("*") => c.like(pat.replace("%", "\\%").replace('*', '%'))
          case exact => c === exact
        }.reduceOption(_ || _).getOrElse(lit(false))
      pats(g.omlPatterns, col("oml_model")) || pats(g.rulePatterns, col("rule_key"))
    }

    // a NULL match (no oml_model, no rule matchers) is no match
    val anyBizMatch: Column =
      coalesce(p.business.map(matchCol).reduceOption(_ || _).getOrElse(lit(false)), lit(false))
    val interceptFrames = Vector.newBuilder[DataFrame]

    // counted on the group input, before the keep filter: the write
    // that fills the observation also yields intercepted = input - rows
    def observed(input: DataFrame, keep: Column): (DataFrame, Observation) = {
      val obs = Observation()
      (input.observe(obs, count(lit(1)).as("input"), count(when(keep, 1)).as("rows"))
        .filter(keep), obs)
    }

    p.business.foreach { g =>
      val groupDf = parsed.filter(routable && matchCol(g))
      g.sinks.foreach { s =>
        val keep = SinkRouter.keep(s.filter, s.filterExpect)
        if (s.filter.isDefined) interceptFrames += groupDf.filter(!keep)
        val (kept, obs) = observed(groupDf, keep)
        // pre_tags become fields on the record (append as FieldOut structs)
        val biz = Project.parseTags(s.tags).foldLeft(kept) { case (df, (k, v)) =>
          df.withColumn("fields", concat(col("fields"),
            array(struct(lit(k).as("name"), lit("chars").as("dtype"), lit(v).as("sval")))))
        }
        val path = s.path.getOrElse(s"out/${g.name}-${s.name}.dat")
        out += RoutedSink(g.name, s.name, s.kind, path, fmtLine(s.fmt), biz, obs)
      }
    }

    // infra channels: `raw` fmt emits the channel's raw payload
    // (original line for miss/error, residue text for residue) —
    // reference infra sinks feed wprescue re-ingest with raw text
    def infra(name: String, df: DataFrame, rawCol: Option[Column] = None): Unit =
      p.infra.get(name).foreach { g =>
        g.sinks.foreach { s =>
          val line = if (s.fmt == "raw" && rawCol.isDefined) rawCol.get else fmtLine(s.fmt)
          val path = s.path.getOrElse(s"out/$name.dat")
          val (all, obs) = observed(df, lit(true))
          out += RoutedSink(name, s.name, s.kind, path, line, all, obs)
        }
      }

    infra("default", parsed.filter(routable && !anyBizMatch))
    infra("miss", parsed.filter(col("status") === "miss"), Some(col("raw_line")))
    infra("error", parsed.filter(col("status") === "error"), Some(col("raw_line")))
    infra("residue", parsed.filter(col("residue").isNotNull && col("residue") =!= ""),
      Some(col("residue")))
    val icpts = interceptFrames.result()
    if (icpts.nonEmpty) infra("intercept", icpts.reduce(_ unionByName _))
    out.result()
  }

  /** The one sink write, shared by batch (`sub = ""`), each daemon
    * micro-batch (`sub = "/batch=<id>"`) and wprescue (`sub =
    * "/rescued"`): every routed sink is written exactly once, as the
    * part-file directory `<path>.d<sub>` (a blackhole sink through
    * Spark's `noop` writer), and its report reads the counts that write
    * observed — one job per sink. Overwrite makes a replayed `sub`
    * directory idempotent (a daemon batch re-run after a checkpoint
    * restart, a repeated rescue). */
  private def writeSinks(p: Project.Loaded, plan: Vector[RoutedSink],
                         sub: String): Vector[SinkReport] = {
    plan.foreach { r =>
      val w = r.df.select(r.line.as("value")).write.mode("overwrite")
      if (r.kind == "blackhole") w.format("noop").save()
      else w.text(Project.resolve(p.root, r.path + ".d" + sub).getPath)
    }
    // read after every write: the listener bus fills each observation
    // while the later writes run, so no write waits on it
    plan.map { r =>
      val c = r.counts.get
      val (input, rows) = (c("input").asInstanceOf[Long], c("rows").asInstanceOf[Long])
      SinkReport(r.group, r.sink, r.path, rows, input - rows, expectOk = true)
    }
  }

  /** Sinks the engine does not deliver fail the run before any job
    * (`wproj check` reports the same problems). */
  private def refuseUndelivered(p: Project.Loaded): Unit = {
    val refused = Project.undelivered(p)
    require(refused.isEmpty, refused.mkString("; "))
  }

  /** `wproj data check`: source connectivity — enabled file paths must
    * exist and be readable, net ports must be bindable (the daemon
    * binds them as servers); kafka needs a live broker, so it is
    * reported as unverifiable rather than failed. Returns problems. */
  def dataCheck(p: Project.Loaded): (Vector[String], Vector[String]) = {
    val problems = Vector.newBuilder[String]
    val skipped = Vector.newBuilder[String]
    p.fileSources.filter(_.enable).foreach { s =>
      val f = Project.resolve(p.root, s.path)
      if (!f.exists) problems += s"file source '${s.key}': path not found: ${s.path}"
      else if (!f.canRead) problems += s"file source '${s.key}': not readable: ${s.path}"
    }
    def tcpBind(port: Int): Option[String] =
      try { new java.net.ServerSocket(port).close(); None }
      catch { case e: Exception => Some(e.getMessage) }
    def udpBind(port: Int): Option[String] =
      try { new java.net.DatagramSocket(port).close(); None }
      catch { case e: Exception => Some(e.getMessage) }
    (p.syslogSources.filter(_.enable)
        .map(s => (s"syslog source '${s.key}'", s.port, s.protocol)) ++
      p.tcpSources.filter(_.enable)
        .map(s => (s"tcp source '${s.key}'", s.port, "tcp")))
      .foreach { case (who, port, proto) =>
        val err = if (proto == "udp") udpBind(port) else tcpBind(port)
        err.foreach(m => problems += s"$who: port $port not bindable: $m")
      }
    p.kafkaSources.filter(_.enable).foreach(s =>
      skipped += s"kafka source '${s.key}': unverifiable without a broker")
    (problems.result(), skipped.result())
  }

  /** `wproj data validate [--input-cnt N]`: post-hoc share-of-basis
    * validation over the sink OUTPUT files — the offline companion to
    * the write-time expect checks. `inputCnt` supplies the total_input
    * denominator; without it the group's own output sum stands in as
    * group_input. Honors min_samples gating. */
  def dataValidate(p: Project.Loaded, inputCnt: Option[Long] = None): Vector[String] = {
    val problems = Vector.newBuilder[String]
    p.business.foreach { g =>
      val counts = g.sinks.map { s =>
        val rows = s.path.map(pp =>
          readSinkLines(Project.resolve(p.root, pp)).size.toLong).getOrElse(0L)
        s -> rows
      }
      val ge = g.expect.getOrElse(Project.GroupExpect())
      val basis =
        if (ge.basis == "total_input") inputCnt.getOrElse(counts.map(_._2).sum)
        else counts.map(_._2).sum
      if (basis >= ge.minSamples.getOrElse(0L)) {
        counts.foreach { case (s, rows) =>
          s.expect.foreach { e =>
            if (!e.ok(rows, basis)) {
              val share = if (basis > 0) rows.toDouble / basis else 0.0
              problems += f"sink '${g.name}/${s.name}': rows=$rows " +
                f"share=$share%.4f of basis=$basis violates expect"
            }
          }
        }
      }
    }
    problems.result()
  }

  /** Engine-side rescue capture (reference `[rescue].path` in
    * wparse.toml): failed records' raw payloads land under
    * `<path>/<channel>.d` — the corpus `wprescue` re-ingests. No-op
    * when the engine config has no rescue section. */
  private def writeRescue(p: Project.Loaded, parsed: DataFrame,
                          sub: String = ""): Unit =
    p.conf.rescuePath.foreach { rp =>
      val base = Project.resolve(p.root, rp)
      def w(name: String, df: DataFrame, c: Column): Unit =
        df.select(c.as("value")).write.mode("overwrite")
          .text(new File(base, name + ".d" + sub).getPath)
      w("miss", parsed.filter(col("status") === "miss"), col("raw_line"))
      w("error", parsed.filter(col("status") === "error"), col("raw_line"))
      w("residue", parsed.filter(col("residue").isNotNull && col("residue") =!= ""),
        col("residue"))
    }

  /** `wprescue` re-run: parse the rescue corpus with the project's
    * models and route the results through the PROJECT'S OWN sink
    * routing (reference wprescue: "output to targets according to the
    * configured sink routing"). [[writeSinks]] appends via a `rescued`
    * subdir inside each sink's part dir — `readSinkLines` recurses, so
    * the sink's view is original ∪ rescued, while re-running the
    * rescue stays idempotent (the subdir overwrites itself). */
  def runRescue(spark: SparkSession, p: Project.Loaded,
                knowDb: KnowDb = KnowDb.empty): Vector[SinkReport] = {
    refuseUndelivered(p)
    val base = Project.resolve(p.root, p.conf.rescuePath.getOrElse("./rescue"))
    val dirs = Seq("miss", "error", "residue").map(n => new File(base, n + ".d"))
      .filter(_.isDirectory).map(_.getPath)
    if (dirs.isEmpty) return Vector.empty
    val lines = spark.read.text(dirs: _*).withColumnRenamed("value", "raw_line")
    val parsed = Pipeline.run(lines, "raw_line", p.wplSource, p.omlSources.map(_._2),
      keep = Seq("raw_line"), knowDb = knowDb,
      semanticEnabled = p.conf.semanticEnabled).persist()
    try writeSinks(p, routePlan(p, parsed), "/rescued")
    finally parsed.unpersist()
  }

  /** Share-of-basis expect validation (reference GroupExpectSpec +
    * SinkExpectOverride): the group's expect spec (own
    * `[sink_group.expect]`, else inherited from defaults.toml) fixes
    * the denominator basis — `group_input` (default, records entering
    * the group), `total_input` (all parsed records), or `mdl:<name>`
    * (records transformed by that model) — gates on `min_samples`, and
    * caps the total share of expect-less sinks via `others_max`.
    * `mode` decides enforcement (warn = report only). The group_input
    * basis is the input every sink of the group observed while it was
    * written (`rows + intercepted`); `total_input` and `mdl:` run a
    * count only when an expect needs them. */
  private def validateExpects(p: Project.Loaded, parsed: DataFrame,
                              reports: Vector[SinkReport]): Vector[SinkReport] = {
    val groups = (p.business ++ p.infra.values).map(g => g.name -> g).toMap
    val groupInput = reports.groupBy(_.group).map { case (g, rs) =>
      g -> (rs.head.rows + rs.head.intercepted)
    }
    lazy val totalInput = parsed.count()
    val modelCache = scala.collection.mutable.Map.empty[String, Long]
    def basisOf(gName: String, ge: Project.GroupExpect): Long = ge.basis match {
      case "total_input" => totalInput
      case b if b.startsWith("mdl:") =>
        val m = b.drop(4).trim
        modelCache.getOrElseUpdate(m, parsed.filter(col("oml_model") === m).count())
      case _ => groupInput.getOrElse(gName, 0L)
    }
    // others_max: per group, total share of sinks WITHOUT their own
    // expect must stay within the cap
    val othersViolated: Set[String] = groups.values.flatMap { g =>
      for {
        ge <- g.expect
        cap <- ge.othersMax
        basis = basisOf(g.name, ge)
        if basis > 0 && ge.minSamples.forall(basis >= _)
        others = reports.filter(r => r.group == g.name &&
          g.sinks.find(_.name == r.sink).forall(_.expect.isEmpty))
        if others.map(_.rows).sum.toDouble / basis > cap + 1e-9
      } yield g.name
    }.toSet
    reports.map { r =>
      val group = groups.get(r.group)
      val ge = group.flatMap(_.expect).getOrElse(Project.GroupExpect())
      val sinkExpect = group.flatMap(_.sinks.find(_.name == r.sink)).flatMap(_.expect)
      lazy val basis = basisOf(r.group, ge)
      val skip = ge.minSamples.exists(basis < _)
      val shareOk = skip || sinkExpect.forall(_.ok(r.rows, basis))
      val othersOk = skip || sinkExpect.isDefined || !othersViolated(r.group)
      r.copy(expectOk = shareOk && othersOk, expectEnforced = ge.enforce)
    }
  }

  // ---- streaming (wparse daemon over a project dir) -----------------

  /** Run the project as a streaming daemon (reference `wparse daemon`):
    * every enabled source becomes a stream (file tail, syslog DSv2
    * socket source, kafka), parsed with per-source tags, unioned, and
    * routed per micro-batch through the SAME `routePlan` and
    * [[writeSinks]] as batch.
    *
    * Each micro-batch writes every sink's `<path>.d/batch=<id>`
    * directory (the reference appends to a single file — a
    * single-writer shape that doesn't scale past one node, so the
    * directory form is the distributed equivalent). A batch replayed
    * after a checkpoint restart overwrites its own directory instead of
    * appending duplicates: effective exactly-once on the file sink (the
    * standard idempotent-foreachBatch shape).
    *
    * `statPrint` = the reference's `-p/--print_stat`: per-micro-batch
    * status counts echo to the console alongside the monitor sink. */
  def runStream(spark: SparkSession, p: Project.Loaded,
                knowDb: KnowDb = KnowDb.empty,
                enricher: graft.wpl.Enricher = graft.wpl.Enricher.empty,
                checkpoint: Option[String] = None,
                triggerMs: Long = 1000L,
                statPrint: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.streaming.StreamingPipeline
    refuseUndelivered(p)
    val fileStreams = p.fileSources.filter(_.enable).map { s =>
      val f = Project.resolve(p.root, s.path)
      // the streaming file source wants a directory: watch the parent,
      // glob-filtered to the configured file name (reference file
      // sources tail one path)
      val (dir, filter) =
        if (f.isDirectory) (f.getPath, None) else (f.getParent, Some(f.getName))
      val reader = spark.readStream.option("maxFilesPerTrigger", 16)
      filter.foreach(g => reader.option("pathGlobFilter", g))
      (reader.text(dir).withColumnRenamed("value", "raw_line"),
        metaTags(s.key, s.tags), None)
    }
    val syslogStreams = p.syslogSources.filter(_.enable).map { s =>
      val fmt = if (s.protocol == "tcp") "graft-syslog-tcp" else "graft-syslog-udp"
      // DSv2 sources bind 0.0.0.0; schema is (value, client_ip) — the
      // client ip becomes the wp_src_ip mechanism field
      (spark.readStream.format(fmt).option("port", s.port.toString).load()
        .withColumnRenamed("value", "raw_line"),
        metaTags(s.key, s.tags), Some("client_ip"))
    }
    val kafkaStreams = p.kafkaSources.filter(_.enable).map { s =>
      // [performance].rate_limit_rps → per-trigger record cap
      val cap = p.conf.rateLimitRps
        .map(r => math.max(1L, r * triggerMs / 1000L)).getOrElse(100000L)
      (StreamingPipeline.kafkaLines(spark, s.brokers, s.topics.mkString(","),
          maxOffsetsPerTrigger = cap)
        .withColumnRenamed("line", "raw_line"),
        metaTags(s.key, s.tags), None)
    }
    val tcpStreams = p.tcpSources.filter(_.enable).map { s =>
      // plain tcp source connector (connectors/source.d/12-tcp.toml):
      // auto|line|len framing, client ip → wp_src_ip
      (spark.readStream.format("graft-tcp")
        .option("port", s.port.toString).option("framing", s.framing).load()
        .withColumnRenamed("value", "raw_line"),
        metaTags(s.key, s.tags), Some("client_ip"))
    }
    val streams = fileStreams ++ syslogStreams ++ kafkaStreams ++ tcpStreams
    require(streams.nonEmpty, "no enabled sources")
    val parsedStream = streams.map { case (lines, tags, ipCol) =>
      withMeta(Pipeline.run(lines, "raw_line", p.wplSource, p.omlSources.map(_._2),
        keep = Seq("raw_line") ++ ipCol, knowDb = knowDb, sourceTags = tags,
        enricher = enricher,
        semanticEnabled = p.conf.semanticEnabled), ipCol)
    }.reduce(_ unionByName _)

    parsedStream.writeStream
      .option("checkpointLocation",
        checkpoint.getOrElse(new File(p.root, "out/_checkpoint").getPath))
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        try {
          writeSinks(p, routePlan(p, batch), s"/batch=$batchId")
          if (statPrint)
            batch.groupBy(col("status")).count().orderBy(col("status"))
              .collect().foreach(r =>
                println(s"[stat] batch=$batchId status=${r.get(0)} count=${r.get(1)}"))
          // [rescue].path capture per micro-batch (idempotent batch= dir)
          writeRescue(p, batch, sub = s"/batch=$batchId")
          // monitor sink: per-batch parse stats (reference wp-stats
          // windowed counters → monitor infra group; the micro-batch IS
          // the processing-time window here)
          p.infra.get("monitor").foreach { g =>
            val stats = batch.groupBy(col("status"), col("rule_key")).count()
              .select(concat(lit(s"batch=$batchId status="), col("status"),
                lit(" rule="), coalesce(col("rule_key"), lit("-")),
                lit(" count="), col("count")).as("value"))
            // config-targeted dimensions ([[stat.pick/parse/sink]] with
            // key + target rule wildcard — 01-wparse.md:33-41): each dim
            // adds its own keyed per-rule count lines
            val dimStats = p.conf.statDims.map { d =>
              val targeted =
                if (d.target == "*") batch
                else batch.filter(coalesce(col("rule_key"), lit(""))
                  .rlike(globToRegex(d.target)))
              val counted = d.stage match {
                case "pick" => // records picked up, any parse outcome
                  targeted.groupBy(col("rule_key")).count()
                    .select(col("rule_key"), lit("-").as("dim"), col("count"))
                case "sink" => // records that route to business sinks
                  targeted.filter(col("status").isin("ok", "default", "residue-only"))
                    .groupBy(col("rule_key")).count()
                    .select(col("rule_key"), lit("-").as("dim"), col("count"))
                case _ => // parse: per rule × outcome
                  targeted.groupBy(col("rule_key"), col("status")).count()
                    .select(col("rule_key"), col("status").as("dim"), col("count"))
              }
              counted.select(concat(
                lit(s"batch=$batchId stat=${d.key} stage=${d.stage} rule="),
                coalesce(col("rule_key"), lit("-")),
                lit(" dim="), col("dim"), lit(" count="), col("count")).as("value"))
            }
            val allStats = dimStats.foldLeft(stats)(_ unionByName _)
            g.sinks.filter(_.kind == "file").foreach { s =>
              val dir = Project.resolve(p.root,
                s.path.getOrElse("out/monitor.dat") + s".d/batch=$batchId")
              allStats.write.mode("overwrite").text(dir.getPath)
            }
          }
        } finally batch.unpersist()
        ()
      }
      .start()
  }
}
