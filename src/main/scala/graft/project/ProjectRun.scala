package graft.project

import java.io.File
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.engine.Pipeline
import graft.oml.KnowDb
import graft.sinks.{Formatters, SinkRouter}

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
  * The whole route stage is Column predicates over the parsed record:
  * [[writeSinks]] explodes each record into the lines of the sinks it
  * reaches, all written and counted in ONE pass (no persist, no
  * shuffle, one job per run and per daemon micro-batch) — at 100 TB
  * the same shape as the reference's per-record channel fanout.
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

  /** Rule-target wildcard → anchored regex. */
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

  /** Run the project in batch over its enabled file sources: one
    * [[writeSinks]] pass parses once and writes every routed sink as a
    * part-file directory `<path>.d` (plus the `[rescue].path` capture).
    * Returns per-sink reports (rows, intercepts, expect validation). A
    * sink kind that is not delivered ([[Project.undelivered]]) refuses
    * the run before any job.
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
    }.reduce(_ unionByName _)
    val w = writeSinks(p, parsed, "", rescue = true, statusCounts = statPrint)
    if (statPrint)
      w.byStatus.foreach { case (st, n) => println(s"[stat] status=$st count=$n") }
    validateExpects(p, w)
  }

  /** One routed sink: its line, the conditions under which a record
    * emits it (intercept has one per filtered sink) and, for a filtered
    * business sink, the condition of a record it diverts. */
  final case class RoutedSink(group: String, sink: String, kind: String,
                              path: String, line: Column, emits: Vector[Column],
                              diverted: Option[Column] = None)

  /** The full routing plan — shared by batch, streaming (per
    * micro-batch) and rescue: Column predicates only, no action. */
  def routePlan(p: Project.Loaded): Vector[RoutedSink] = {
    val out = Vector.newBuilder[RoutedSink]
    val routable = col("status").isin(Routable: _*)

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
    val diverts = Vector.newBuilder[Column]

    p.business.foreach { g =>
      val member = routable && matchCol(g)
      g.sinks.foreach { s =>
        val keep = SinkRouter.keep(s.filter, s.filterExpect)
        val diverted = s.filter.map(_ => member && !keep)
        diverted.foreach(diverts += _)
        // pre_tags become fields on the record (appended FieldOut structs)
        val fields = Project.parseTags(s.tags).foldLeft(col("fields")) { case (fs, (k, v)) =>
          concat(fs, array(struct(lit(k).as("name"), lit("chars").as("dtype"), lit(v).as("sval"))))
        }
        val path = s.path.getOrElse(s"out/${g.name}-${s.name}.dat")
        out += RoutedSink(g.name, s.name, s.kind, path,
          Formatters.line(s.fmt, fields), Vector(member && keep), diverted)
      }
    }

    // infra channels: `raw` fmt emits the channel's raw payload
    // (original line for miss/error, residue text for residue) —
    // reference infra sinks feed wprescue re-ingest with raw text
    def infra(name: String, emits: Vector[Column], rawCol: Option[Column] = None): Unit =
      p.infra.get(name).foreach { g =>
        g.sinks.foreach { s =>
          val line = rawCol.filter(_ => s.fmt == "raw").getOrElse(Formatters.line(s.fmt, col("fields")))
          out += RoutedSink(name, s.name, s.kind, s.path.getOrElse(s"out/$name.dat"), line, emits)
        }
      }

    infra("default", Vector(routable && !anyBizMatch))
    infra("miss", Vector(isMiss), Some(col("raw_line")))
    infra("error", Vector(isError), Some(col("raw_line")))
    infra("residue", Vector(hasResidue), Some(col("residue")))
    val icpts = diverts.result()
    if (icpts.nonEmpty) infra("intercept", icpts)
    out.result()
  }

  private val Routable = Seq("ok", "default", "residue-only")
  private val isMiss = col("status") === "miss"
  private val isError = col("status") === "error"
  private val hasResidue = col("residue").isNotNull && col("residue") =!= ""

  /** Records per (status, rule_key) — the monitor's, `[[stat]]`'s and
    * `-p`'s counts — as one observed aggregate (statuses × rules). */
  private object StatusRuleCounts
      extends Aggregator[(String, String), Map[(String, String), Long], Map[(String, String), Long]] {
    type Counts = Map[(String, String), Long]
    def zero: Counts = Map.empty
    def reduce(b: Counts, k: (String, String)): Counts = b.updated(k, b.getOrElse(k, 0L) + 1)
    def merge(a: Counts, b: Counts): Counts =
      b.foldLeft(a) { case (m, (k, n)) => m.updated(k, m.getOrElse(k, 0L) + n) }
    def finish(b: Counts): Counts = b
    def bufferEncoder: Encoder[Counts] = ExpressionEncoder[Counts]()
    def outputEncoder: Encoder[Counts] = ExpressionEncoder[Counts]()
  }

  /** What one [[writeSinks]] pass observed: per-sink reports and the
    * `total_input`, `mdl:<model>` and (if asked for) per-(status,
    * rule_key) counts. */
  private final case class Written(reports: Vector[SinkReport], observed: Map[String, Any]) {
    def count(k: String): Long = observed(k).asInstanceOf[Long]
    def byStatusRule: Map[(String, String), Long] = observed.get("by_status_rule").toSeq
      .flatMap(_.asInstanceOf[scala.collection.Map[Row, Long]])
      .map { case (k, n) => (k.getString(0), k.getString(1)) -> n }.toMap
    def byStatus = byStatusRule.groupMapReduce(_._1._1)(_._2)(_ + _).toVector.sortBy(_._1)
  }

  /** The one sink write, shared by batch (`sub = ""`), each daemon
    * micro-batch (`sub = "/batch=<id>"`) and wprescue (`sub =
    * "/rescued"`): ONE [[SinkRouter.writeFanout]] job over the
    * unpersisted parse writes every routed sink's `<path>.d<sub>` (a
    * blackhole sink is only counted) and, with `rescue`, the
    * `<[rescue].path>/<ch>.d<sub>` channels; every count is one
    * observation on that pass. A replayed `sub` is replaced. */
  private def writeSinks(p: Project.Loaded, parsed: DataFrame, sub: String,
                         rescue: Boolean = false,
                         statusCounts: Boolean = false): Written = {
    val plan = routePlan(p)
    def n(c: Column): Column = count(when(c, 1))
    val models = (p.business ++ p.infra.values).flatMap(_.expect).map(_.basis)
      .filter(_.startsWith("mdl:")).map(_.drop(4).trim).distinct
    val statusRule = udaf(StatusRuleCounts, Encoders.tuple(Encoders.STRING, Encoders.STRING))
    val metrics = count(lit(1)).as("total_input") +: (plan.zipWithIndex.flatMap { case (r, k) =>
      r.emits.map(n).reduce(_ + _).as(s"rows$k") +: r.diverted.map(n(_).as(s"diverted$k")).toSeq
    } ++ models.map(m => n(col("oml_model") === m).as(s"mdl:$m")) ++
      Option.when(statusCounts)(statusRule(col("status"), col("rule_key")).as("by_status_rule")))
    val obs = Observation()
    def dir(path: String): String = Project.resolve(p.root, path + sub).getPath
    val rescueChannels = for {
      rp <- p.conf.rescuePath.filter(_ => rescue).toSeq
      (ch, line, w) <- Seq(("miss", col("raw_line"), isMiss),
        ("error", col("raw_line"), isError), ("residue", col("residue"), hasResidue))
    } yield SinkRouter.Channel(dir(s"$rp/$ch.d"), line, Seq(w))
    SinkRouter.writeFanout(parsed.observe(obs, metrics.head, metrics.tail: _*),
      Project.resolve(p.root, s"out/_fanout-${java.util.UUID.randomUUID}").getPath,
      plan.filter(_.kind != "blackhole").map(r =>
        SinkRouter.Channel(dir(r.path + ".d"), r.line, r.emits)) ++ rescueChannels)
    val observed = obs.get
    def got(k: String): Long = observed(k).asInstanceOf[Long]
    Written(plan.zipWithIndex.map { case (r, k) =>
      SinkReport(r.group, r.sink, r.path, got(s"rows$k"),
        r.diverted.fold(0L)(_ => got(s"diverted$k")), expectOk = true)
    }, observed)
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

  /** `wprescue` re-run: parse the rescue corpus with the project's
    * models and route the results through the PROJECT'S OWN sink
    * routing (reference wprescue: "output to targets according to the
    * configured sink routing"). [[writeSinks]] adds a `rescued`
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
      semanticEnabled = p.conf.semanticEnabled)
    writeSinks(p, parsed, "/rescued").reports
  }

  /** Share-of-basis expect validation (reference GroupExpectSpec +
    * SinkExpectOverride): the group's expect spec (own
    * `[sink_group.expect]`, else inherited from defaults.toml) fixes
    * the denominator basis — `group_input` (default, records entering
    * the group), `total_input` (all parsed records), or `mdl:<name>`
    * (records transformed by that model) — gates on `min_samples`, and
    * caps the total share of expect-less sinks via `others_max`.
    * `mode` decides enforcement (warn = report only). Every basis is a
    * count the sink write observed: group_input is what each sink of
    * the group saw (`rows + intercepted`), `total_input` all parsed
    * records, `mdl:<name>` that model's records. */
  private def validateExpects(p: Project.Loaded, w: Written): Vector[SinkReport] = {
    val reports = w.reports
    val groups = (p.business ++ p.infra.values).map(g => g.name -> g).toMap
    val groupInput = reports.groupBy(_.group).map { case (g, rs) =>
      g -> (rs.head.rows + rs.head.intercepted)
    }
    def basisOf(gName: String, ge: Project.GroupExpect): Long = ge.basis match {
      case "total_input" => w.count("total_input")
      case b if b.startsWith("mdl:") => w.count("mdl:" + b.drop(4).trim)
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
    * Each micro-batch is ONE job writing every sink's
    * `<path>.d/batch=<id>` directory (the reference appends to a single
    * file — a single-writer shape that doesn't scale past one node, so the
    * directory form is the distributed equivalent). A batch replayed
    * after a checkpoint restart overwrites its own directory instead of
    * appending duplicates: effective exactly-once on the file sink (the
    * standard idempotent-foreachBatch shape).
    *
    * `statPrint` = the reference's `-p/--print_stat`: per-micro-batch
    * status counts (the write's observed ones) echo to the console. */
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
        // exactly ONE action over the unpersisted micro-batch: a second
        // one would re-read the source (and double its numInputRows)
        val monitor = p.infra.get("monitor")
        val w = writeSinks(p, batch, s"/batch=$batchId", rescue = true,
          statusCounts = statPrint || monitor.isDefined)
        if (statPrint)
          w.byStatus.foreach { case (st, n) => println(s"[stat] batch=$batchId status=$st count=$n") }
        // monitor sink: per-batch parse stats (reference wp-stats
        // windowed counters → monitor infra group; the micro-batch IS
        // the processing-time window here), written from the driver
        monitor.foreach { g =>
          val lines = monitorLines(p, batchId, w.byStatusRule)
          g.sinks.filter(_.kind == "file").foreach { s =>
            writeDriverLines(spark, Project.resolve(p.root,
              s.path.getOrElse("out/monitor.dat") + s".d/batch=$batchId").getPath, lines)
          }
        }
      }
      .start()
  }

  /** A micro-batch's monitor lines from its (status, rule_key) counts:
    * one per pair, then the config-targeted dimensions
    * (`[[stat.pick/parse/sink]]` key + target rule wildcard —
    * 01-wparse.md:33-41) as keyed per-rule lines (`dim` = the status
    * for `parse`, else `-`; `sink` counts routable records only). */
  private def monitorLines(p: Project.Loaded, batchId: Long,
                           counts: Map[(String, String), Long]): Vector[String] = {
    def rule(r: String): String = Option(r).getOrElse("-")
    val stats = counts.toVector.sortBy { case ((st, r), _) => (rule(r), st) }
      .map { case ((st, r), n) => s"batch=$batchId status=$st rule=${rule(r)} count=$n" }
    val dims = p.conf.statDims.flatMap { d =>
      val target = globToRegex(d.target).r
      counts.toVector.collect { case ((st, r), n) if
          (d.target == "*" || target.matches(Option(r).getOrElse(""))) &&
            (d.stage != "sink" || Routable.contains(st)) =>
        (rule(r), if (d.stage == "parse") st else "-") -> n
      }.groupMapReduce(_._1)(_._2)(_ + _).toVector.sortBy(_._1).map { case ((r, dim), n) =>
        s"batch=$batchId stat=${d.key} stage=${d.stage} rule=$r dim=$dim count=$n"
      }
    }
    stats ++ dims
  }

  /** Replace directory `dir` with one part file of `lines`, from the
    * driver: no Spark job. */
  private def writeDriverLines(spark: SparkSession, dir: String, lines: Seq[String]): Unit = {
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(d, true)
    val out = fs.create(new org.apache.hadoop.fs.Path(d, "part-00000"))
    try out.write(lines.map(_ + "\n").mkString.getBytes("UTF-8")) finally out.close()
  }
}
