package graft.project

import java.io.File
import java.nio.file.{Files, Paths}
import graft.project.Toml.TTab
import graft.sinks.SinkRouter

/** Project-instance loader (reference wp-proj / wp-config):
  *
  *  - engine config `conf/wparse.toml` (models/topology/rescue/semantic
  *    sections — reference `crates/wp-config/src/engine.rs` via
  *    `EngineConfig`);
  *  - sources `topology/sources/wpsrc.toml` (`[[source_file]]`,
  *    `[[source_kafka]]`, `[[source_syslog]]` arrays — reference
  *    `crates/wp-config/src/sources`);
  *  - sink routes from every .toml under `<sink_root>/business.d` and
  *    `<sink_root>/infra.d` (reference
  *    `crates/wp-config/src/sinks/io.rs:36-72`), with connector
  *    resolution from the nearest `connectors/sink.d` walking up from
  *    the sink root (`io_locate.rs:6-29`), `defaults.toml` tag/expect
  *    merge (`io.rs:74-85`), and allow_override whitelist enforcement
  *    on params (`build.rs:118-160`);
  *  - legacy layout fallback: instances predating business.d/infra.d
  *    (like the reference's own tests/instance) keep business groups in
  *    any .toml under `<sink_root>` with inline `fmt/target/path` sinks and
  *    infra groups in `framework.toml` — both still load here (the
  *    reference dropped framework.toml support in `infra.rs:121`; we
  *    keep reading it so the reference's shipped fixtures run as-is).
  */
object Project {

  // ---- model ---------------------------------------------------------

  /** `[[connectors]]` entry from connectors/sink.d (reference
    * `crates/wp-config/src/connectors/toml.rs:26-50`). */
  final case class ConnectorDef(
      id: String,
      kind: String,                         // `type` in TOML: file|kafka|tcp|syslog|blackhole
      allowOverride: Vector[String],
      defaultParams: Map[String, String])

  /** One resolved sink instance (reference `SinkInstanceConf`,
    * `build.rs:22-49`): params are connector defaults + whitelisted
    * overrides; fmt comes from params for file-kind sinks, else json
    * (`build.rs:82-89`). */
  final case class SinkInstance(
      name: String,
      kind: String,
      fmt: String,
      params: Map[String, String],
      filter: Option[String],
      filterExpect: Boolean,
      tags: Vector[String],
      expect: Option[ExpectSpec],
      connectorId: Option[String]) {
    def path: Option[String] = params.get("path").orElse(
      for (b <- params.get("base"); f <- params.get("file")) yield s"$b/$f")
  }

  /** A sink group: `oml`/`rule` wildcard matchers select which
    * transformed records the group receives (reference `RouteGroup`,
    * `types.rs:31-54`). */
  final case class SinkGroup(
      name: String,
      scope: String, // biz | infra
      omlPatterns: Vector[String],
      rulePatterns: Vector[String],
      tags: Vector[String],
      sinks: Vector[SinkInstance],
      expect: Option[GroupExpect] = None) {
    /** Does a transformed record (oml model name, wpl rule key) belong
      * to this group? Empty matcher lists never match (reference
      * `FlexGroup::matches` — a group with no matchers receives
      * nothing; infra groups are routed by status instead). */
    def matches(omlModel: String, ruleKey: String): Boolean =
      omlPatterns.exists(glob(_, omlModel)) || rulePatterns.exists(glob(_, ruleKey))
  }

  /** Share-of-basis expectation (reference `SinkExpectOverride`,
    * structure/sink/expect.rs:4-17 — ratio/tol/min/max are all RATIOS
    * of the group basis, not counts). */
  final case class ExpectSpec(ratio: Option[Double], tol: Option[Double],
                              min: Option[Double], max: Option[Double]) {
    def ok(rows: Long, basis: Long): Boolean = {
      if (basis == 0) return rows == 0
      val share = rows.toDouble / basis
      ratio.forall(r => math.abs(share - r) <= tol.getOrElse(0.05) + 1e-9) &&
        min.forall(share >= _ - 1e-9) && max.forall(share <= _ + 1e-9)
    }
    /** Reference SinkExpectOverride::validate (expect.rs:20-56): range
      * checks plus ratio/tol and min/max mutual exclusion. */
    def validate(where: String): Unit = {
      def inRange(v: Double, what: String): Unit =
        require(v >= 0 && v <= 1000 && !v.isNaN,
          s"expect $what must be in [0,1000], got $v ($where)")
      ratio.foreach(inRange(_, "ratio"))
      tol.foreach(t => require(t >= 0, s"expect tol must be >= 0, got $t ($where)"))
      min.foreach(inRange(_, "min"))
      max.foreach(inRange(_, "max"))
      for (mn <- min; mx <- max)
        require(mn <= mx, s"expect min must be <= max ($mn > $mx) ($where)")
      require(!((ratio.isDefined || tol.isDefined) && (min.isDefined || max.isDefined)),
        s"expect: ratio/tol cannot be combined with min/max ($where)")
    }
  }

  /** Group-level expectation SPEC (reference `GroupExpectSpec`,
    * structure/group.rs:63-107): the shared denominator basis
    * (`group_input` default | `total_input` | `mdl:<name>`), the
    * violation mode (warn default | error | panic), an optional
    * tolerance on the sum of configured sink ratios, a share cap for
    * sinks WITHOUT their own expect, and online-window gating
    * (window/min_samples; window is ignored by offline validation).
    * A route file's `[sink_group.expect]` wins; groups without one
    * inherit defaults.toml's `[defaults.expect]`
    * (build.rs apply_group_metadata:222-227). */
  final case class GroupExpect(
      basis: String = "group_input",
      mode: String = "warn",
      window: Option[String] = None,
      minSamples: Option[Long] = None,
      sumTol: Option[Double] = None,
      othersMax: Option[Double] = None) {
    def enforce: Boolean = mode != "warn"
  }

  final case class SourceFile(key: String, path: String, enable: Boolean,
                              encode: String, tags: Map[String, String])
  final case class SourceKafka(key: String, brokers: String, topics: Vector[String],
                               enable: Boolean, tags: Map[String, String])
  final case class SourceSyslog(key: String, addr: String, port: Int, protocol: String,
                                enable: Boolean, tags: Map[String, String])
  final case class SourceTcp(key: String, addr: String, port: Int, framing: String,
                             enable: Boolean, tags: Map[String, String])

  /** One configured statistics dimension (reference `[[stat.pick/
    * parse/sink]]` blocks, docs/usage/en/02-config/01-wparse.md:33-41,
    * wp-stats StatDim{target, dimension}): `target` is "*" or a rule
    * wildcard; counts for the stage are reported per matching rule. */
  final case class StatDim(stage: String, key: String, target: String)

  final case class EngineConf(
      version: String,
      wplDir: String,
      omlDir: String,
      sourcesDir: String,
      sinksDir: String,
      rescuePath: Option[String],
      semanticEnabled: Boolean,
      statDims: Vector[StatDim] = Vector.empty,
      // [performance] (docs/usage/en/02-config/01-wparse.md:16-18):
      // parse_workers → parse-stage partition count; rate_limit_rps →
      // daemon per-trigger record cap (kafka maxOffsetsPerTrigger)
      parseWorkers: Option[Int] = None,
      rateLimitRps: Option[Long] = None,
      // [log_conf].level first segment (e.g. "warn,ctrl=info" → warn)
      logLevel: Option[String] = None)

  final case class Loaded(
      root: File,
      conf: EngineConf,
      wplSource: String,                    // all loadable .wpl files concatenated
      omlSources: Vector[(String, String)], // (file stem, source)
      fileSources: Vector[SourceFile],
      kafkaSources: Vector[SourceKafka],
      syslogSources: Vector[SourceSyslog],
      connectors: Map[String, ConnectorDef],
      business: Vector[SinkGroup],
      infra: Map[String, SinkGroup],        // default/miss/residue/intercept/monitor/error
      wplLoadErrors: Vector[String] = Vector.empty, // skipped files: "path: error"
      tcpSources: Vector[SourceTcp] = Vector.empty)

  /** `*` wildcard match (reference WildMatch — the only metachar the
    * corpus uses). */
  def glob(pat: String, s: String): Boolean = {
    if (s == null) return false
    if (pat == "*") return true
    val parts = pat.split("\\*", -1)
    if (parts.length == 1) return pat == s
    var pos = 0
    if (parts.head.nonEmpty) {
      if (!s.startsWith(parts.head)) return false
      pos = parts.head.length
    }
    var i = 1
    while (i < parts.length - 1) {
      val p = parts(i)
      if (p.nonEmpty) {
        val at = s.indexOf(p, pos)
        if (at < 0) return false
        pos = at + p.length
      }
      i += 1
    }
    val last = parts.last
    last.isEmpty || (s.length - pos >= last.length && s.endsWith(last))
  }

  // ---- loading -------------------------------------------------------

  private def readFile(f: File): String =
    new String(Files.readAllBytes(f.toPath), "UTF-8")

  /** `${NAME}` lookup used for TOML string interpolation (reference
    * EnvDict); defaults to the process environment. */
  type EnvLookup = String => Option[String]
  val SysEnv: EnvLookup = k => sys.env.get(k)

  private def parseToml(f: File, env: EnvLookup): Toml.TTab =
    Toml.envEval(Toml.parse(readFile(f)), env)

  private def tomlFilesUnder(dir: File): Vector[File] = {
    if (!dir.isDirectory) return Vector.empty
    val out = Vector.newBuilder[File]
    def walk(d: File): Unit = {
      val fs = Option(d.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
      fs.foreach { f =>
        if (f.isDirectory) walk(f)
        else if (f.getName.endsWith(".toml")) out += f
      }
    }
    walk(dir)
    out.result()
  }

  private def filesUnder(dir: File, ext: String): Vector[File] = {
    if (!dir.isDirectory) return Vector.empty
    val out = Vector.newBuilder[File]
    def walk(d: File): Unit =
      Option(d.listFiles()).getOrElse(Array.empty).sortBy(_.getName).foreach { f =>
        if (f.isDirectory) walk(f) else if (f.getName.endsWith(ext)) out += f
      }
    walk(dir)
    out.result()
  }

  /** Parse `"k : v"` tag strings (reference source tags notation,
    * tests/instance wpsrc.toml). */
  def parseTags(raw: Vector[String]): Map[String, String] =
    raw.iterator.map { t =>
      val i = t.indexOf(':')
      require(i > 0, s"bad tag '$t' (want 'key : value')")
      t.substring(0, i).trim -> t.substring(i + 1).trim
    }.toMap

  def loadEngineConf(root: File, env: EnvLookup = SysEnv): EngineConf = {
    val f = new File(root, "conf/wparse.toml")
    val t = if (f.isFile) parseToml(f, env) else new TTab
    EngineConf(
      version = t.str("version").getOrElse("1.0"),
      wplDir = t.str("models", "wpl").getOrElse("./wpl"),
      omlDir = t.str("models", "oml").getOrElse("./oml"),
      sourcesDir = t.str("topology", "sources").getOrElse("./topology/sources"),
      sinksDir = t.str("topology", "sinks").getOrElse("./topology/sinks"),
      rescuePath = t.str("rescue", "path"),
      semanticEnabled = t.bool("semantic", "enabled").getOrElse(false),
      statDims = loadStatDims(t),
      parseWorkers = t.long("performance", "parse_workers").map(_.toInt),
      rateLimitRps = t.long("performance", "rate_limit_rps"),
      logLevel = t.str("log_conf", "level").map(_.split(',').head.trim)
        .filter(Set("trace", "debug", "info", "warn", "error")))
  }

  private def loadStatDims(t: TTab): Vector[StatDim] =
    t.get("stat").map(_.tab).map { st =>
      Vector("pick", "parse", "sink").flatMap { stage =>
        st.tables(stage).map { d =>
          StatDim(stage,
            key = d.str("key").getOrElse(s"${stage}_stat"),
            target = d.str("target").getOrElse("*"))
        }
      }
    }.getOrElse(Vector.empty)

  def resolve(root: File, p: String): File = {
    val f = new File(p)
    if (f.isAbsolute) f else new File(root, p.stripPrefix("./"))
  }

  def loadSources(dir: File, env: EnvLookup = SysEnv): (Vector[SourceFile], Vector[SourceKafka], Vector[SourceSyslog], Vector[SourceTcp]) = {
    val files = Vector.newBuilder[SourceFile]
    val kafka = Vector.newBuilder[SourceKafka]
    val syslog = Vector.newBuilder[SourceSyslog]
    val tcp = Vector.newBuilder[SourceTcp]
    // connector-based `[[sources]]` entries resolve ids from
    // connectors/source.d (walk-up, same rule as sink.d — reference
    // sources_basics.md + connectors/source.d/*.toml)
    lazy val srcConnectors = loadSourceConnectors(dir, env)
    tomlFilesUnder(dir).foreach { f =>
      val t = parseToml(f, env)
      t.tables("source_file").foreach { s =>
        files += SourceFile(s.str("key").getOrElse(""), s.str("path").getOrElse(""),
          s.bool("enable").getOrElse(true), s.str("encode").getOrElse("text"),
          parseTags(s.strings("tags")))
      }
      t.tables("source_kafka").foreach { s =>
        kafka += SourceKafka(s.str("key").getOrElse(""), s.str("brokers").getOrElse(""),
          s.strings("topic"), s.bool("enable").getOrElse(true), parseTags(s.strings("tags")))
      }
      t.tables("source_syslog").foreach { s =>
        syslog += SourceSyslog(s.str("key").getOrElse(""), s.str("addr").getOrElse("0.0.0.0"),
          s.long("port").getOrElse(514L).toInt, s.str("protocol").getOrElse("udp"),
          s.bool("enable").getOrElse(true), parseTags(s.strings("tags")))
      }
      // unified format: key/enable/tags + connect + params override
      // (only allow_override keys; both [sources.params] and the
      // [[sources.params]] array-of-one shape the docs show). The
      // reference's `instances` param (file-range / per-connection
      // parallel readers) has no explicit mapping: Spark already
      // splits file scans by range and parallelizes per input split,
      // which is the same mechanism the param hand-configures.
      t.tables("sources").foreach { s =>
        val key = s.str("key").getOrElse("")
        val connect = s.str("connect").getOrElse(
          throw new IllegalArgumentException(s"source '$key' missing connect (file $f)"))
        val conn = srcConnectors.getOrElse(connect,
          throw new IllegalArgumentException(
            s"source '$key': unknown connector '$connect' (file $f)"))
        val overrides =
          (s.get("params").map(_.tab).toVector ++ s.tables("params"))
            .flatMap(_.m.toMap.map { case (k, v) => k -> v.str }).toMap
        val params = mergeParams(conn, overrides, s"source '$key' (file $f)")
        val enable = s.bool("enable").getOrElse(true)
        val tags = parseTags(s.strings("tags"))
        conn.kind match {
          case "file" =>
            val path = (params.get("base"), params.get("file")) match {
              case (Some(b), Some(nm)) => s"$b/$nm"
              case _ => params.getOrElse("path",
                throw new IllegalArgumentException(
                  s"source '$key': file connector needs base+file (file $f)"))
            }
            files += SourceFile(key, path, enable,
              params.getOrElse("encode", "text"), tags)
          case "kafka" =>
            kafka += SourceKafka(key, params.getOrElse("brokers", ""),
              params.get("topic").toVector, enable, tags)
          case "syslog" =>
            syslog += SourceSyslog(key, params.getOrElse("addr", "0.0.0.0"),
              params.getOrElse("port", "514").toInt,
              params.getOrElse("protocol", "udp"), enable, tags)
          case "tcp" =>
            tcp += SourceTcp(key, params.getOrElse("addr", "0.0.0.0"),
              params.getOrElse("port", "9000").toInt,
              params.getOrElse("framing", "auto"), enable, tags)
          case other =>
            throw new IllegalArgumentException(
              s"source '$key': unsupported connector type '$other' (file $f)")
        }
      }
    }
    (files.result(), kafka.result(), syslog.result(), tcp.result())
  }

  /** Walk up from the sources dir for `connectors/source.d` (mirrors
    * the sink-side walk); absent dir = empty registry. */
  def loadSourceConnectors(sourcesDir: File, env: EnvLookup = SysEnv): Map[String, ConnectorDef] = {
    var cur: File = sourcesDir.getAbsoluteFile
    var found: Option[File] = None
    var i = 0
    while (cur != null && i < 32 && found.isEmpty) {
      val cand = new File(cur, "connectors/source.d")
      if (cand.isDirectory) found = Some(cand)
      cur = cur.getParentFile
      i += 1
    }
    found.map { d =>
      val m = scala.collection.mutable.LinkedHashMap.empty[String, ConnectorDef]
      tomlFilesUnder(d).foreach { f =>
        parseToml(f, env).tables("connectors").foreach { c =>
          val id = c.str("id").getOrElse(
            throw new IllegalArgumentException(s"connector missing id in $f"))
          require(!m.contains(id), s"duplicate source connector id '$id' (file $f)")
          m(id) = ConnectorDef(id,
            c.str("type").getOrElse("file"),
            c.strings("allow_override"),
            c.get("params").map(_.tab.m.toMap.map { case (k, v) => k -> v.str })
              .getOrElse(Map.empty))
        }
      }
      m.toMap
    }.getOrElse(Map.empty)
  }

  /** Walk up from sinkRoot looking for `connectors/sink.d` (reference
    * `io_locate.rs:6-29`, 32-level cap). */
  def findConnectorsDir(sinkRoot: File): Option[File] = {
    var cur: File = sinkRoot.getAbsoluteFile
    var i = 0
    while (cur != null && i < 32) {
      val cand = new File(cur, "connectors/sink.d")
      if (cand.isDirectory) return Some(cand)
      cur = cur.getParentFile
      i += 1
    }
    None
  }

  def loadConnectors(sinkRoot: File, env: EnvLookup = SysEnv): Map[String, ConnectorDef] =
    findConnectorsDir(sinkRoot).map { dir =>
      val m = scala.collection.mutable.LinkedHashMap.empty[String, ConnectorDef]
      tomlFilesUnder(dir).foreach { f =>
        parseToml(f, env).tables("connectors").foreach { c =>
          val id = c.str("id").getOrElse(
            throw new IllegalArgumentException(s"connector missing id in $f"))
          require(!m.contains(id), s"duplicate connector id '$id' (file $f)")
          m(id) = ConnectorDef(id,
            c.str("type").getOrElse("file"),
            c.strings("allow_override"),
            c.get("params").map(_.tab.m.toMap.map { case (k, v) => k -> v.str })
              .getOrElse(Map.empty))
        }
      }
      m.toMap
    }.getOrElse(Map.empty)

  /** defaults.toml body (reference `DefaultsBody`, sinks/types.rs:149-153):
    * tags merge below every group, expect is the GROUP-level spec that
    * groups without their own `[sink_group.expect]` inherit. */
  final case class Defaults(tags: Vector[String], expect: Option[GroupExpect])

  def loadDefaults(sinkRoot: File, env: EnvLookup = SysEnv): Defaults = {
    val f = new File(sinkRoot, "defaults.toml")
    if (!f.isFile) return Defaults(Vector.empty, None)
    val d = parseToml(f, env).get("defaults").map(_.tab).getOrElse(new TTab)
    Defaults(d.strings("tags"), groupExpectOf(d))
  }

  private def expectOf(t: TTab): Option[ExpectSpec] =
    t.get("expect").map(_.tab).map { e =>
      ExpectSpec(
        ratio = e.get("ratio").map(_.str.toDouble),
        tol = e.get("tol").map(_.str.toDouble),
        min = e.get("min").map(_.str.toDouble),
        max = e.get("max").map(_.str.toDouble))
    }

  private def groupExpectOf(t: TTab): Option[GroupExpect] =
    t.get("expect").map(_.tab).map { e =>
      val basis = e.str("basis").getOrElse("group_input").trim.toLowerCase
      require(basis == "group_input" || basis == "total_input" ||
        (basis.startsWith("mdl:") && basis.length > 4),
        s"invalid basis: $basis (group_input | total_input | mdl:<name>)")
      val mode = e.str("mode").getOrElse("warn").trim.toLowerCase
      require(Set("warn", "error", "panic")(mode), s"invalid expect mode: $mode")
      GroupExpect(basis, mode,
        window = e.str("window"),
        minSamples = e.long("min_samples"),
        sumTol = e.get("sum_tol").map(_.str.toDouble),
        othersMax = e.get("others_max").map(_.str.toDouble))
    }

  /** Merge connector defaults with whitelisted overrides (reference
    * `merge_params_with_allowlist`, build.rs:118-160): a key outside
    * `allow_override` raises; nested `params` tables are rejected. */
  def mergeParams(conn: ConnectorDef, overrides: Map[String, String],
                  where: String): Map[String, String] = {
    overrides.keys.foreach { k =>
      require(k != "params" && k != "params_override",
        s"invalid nested table '$k' in params ($where)")
      require(conn.allowOverride.contains(k),
        s"param '$k' not in allow_override of connector '${conn.id}' ($where)")
    }
    conn.defaultParams ++ overrides
  }

  private def decideFmt(kind: String, params: Map[String, String]): String =
    if (kind == "file" || kind == "test_rescue") params.getOrElse("fmt", "json")
    else "json"

  /** Build one sink instance from a route-file `[[sink_group.sinks]]`
    * entry: v2 (`use = connector` + params) or legacy inline
    * (`fmt/target/path`). */
  private def buildSink(s: TTab, idx: Int, groupName: String,
                        connectors: Map[String, ConnectorDef], where: String): SinkInstance = {
    val name = s.str("name").getOrElse(s"[$idx]")
    val filter = s.str("filter")
    val filterExpect = s.bool("filter_expect").getOrElse(true)
    val tags = s.strings("tags")
    val expect = expectOf(s)
    s.str("use").orElse(s.str("connect")).orElse(s.str("connector")) match {
      case Some(connId) =>
        val conn = connectors.getOrElse(connId, throw new IllegalArgumentException(
          s"connector '$connId' not found (group '$groupName', $where)"))
        val overrides = s.get("params").map(_.tab.m.toMap.map { case (k, v) => k -> v.str })
          .getOrElse(Map.empty)
        val params = mergeParams(conn, overrides, s"group '$groupName' sink '$name' $where")
        SinkInstance(name, conn.kind, decideFmt(conn.kind, params), params,
          filter, filterExpect, tags, expect, Some(connId))
      case None =>
        val kind = s.str("target").getOrElse("file")
        val params = s.m.toMap.collect {
          case (k, v) if !Set("name", "filter", "filter_expect", "tags", "expect",
            "target", "fmt").contains(k) && !v.isInstanceOf[TTab] => k -> v.str
        }
        // legacy fmt aliases: proto-text ≡ proto_text
        val fmt = s.str("fmt").getOrElse("json").replace('-', '_')
        SinkInstance(name, kind, fmt, params, filter, filterExpect, tags, expect, None)
    }
  }

  private def buildGroup(g: TTab, scope: String, connectors: Map[String, ConnectorDef],
                         defaults: Defaults, where: String): SinkGroup = {
    val name = g.str("name").getOrElse(
      throw new IllegalArgumentException(s"sink_group missing name ($where)"))
    val sinks = g.tables("sinks").zipWithIndex.map { case (s, i) =>
      val inst = buildSink(s, i, name, connectors, where)
      inst.expect.foreach(_.validate(s"group '$name' sink '${inst.name}' $where"))
      // assemble_sink_tags (build.rs:196-212): defaults ++ group ++ sink,
      // appended in that order (sink entries land last). Per-sink expect
      // is the sink's own — defaults contribute the GROUP-level spec
      // only, never a per-sink override.
      inst.copy(tags = defaults.tags ++ g.strings("tags") ++ inst.tags)
    }
    require(sinks.nonEmpty, s"group '$name' has no sinks ($where)")
    // ensure_unique_name (build.rs:304-317)
    sinks.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }.headOption
      .foreach(n => throw new IllegalArgumentException(
        s"duplicate sink name '$n' in group '$name' ($where)"))
    SinkGroup(name, scope, g.strings("oml"), g.strings("rule"), g.strings("tags"), sinks,
      expect = groupExpectOf(g).orElse(defaults.expect))
  }

  private val InfraNames = Vector("default", "miss", "residue", "intercept", "monitor", "error")

  def loadSinkRoutes(sinkRoot: File, connectors: Map[String, ConnectorDef],
                     defaults: Defaults,
                     env: EnvLookup = SysEnv): (Vector[SinkGroup], Map[String, SinkGroup]) = {
    val businessDir = new File(sinkRoot, "business.d")
    val infraDir = new File(sinkRoot, "infra.d")

    def routeGroups(files: Vector[File], scope: String): Vector[SinkGroup] =
      files.map { f =>
        val t = parseToml(f, env)
        val g = t.get("sink_group").map(_.tab).getOrElse(
          throw new IllegalArgumentException(s"no [sink_group] in $f"))
        buildGroup(g, scope, connectors, defaults, f.getPath)
      }

    val business: Vector[SinkGroup] =
      if (businessDir.isDirectory) routeGroups(tomlFilesUnder(businessDir), "biz")
      else {
        // legacy layout: every *.toml under sink root with a [sink_group],
        // except framework/defaults and the infra.d tree
        val legacy = tomlFilesUnder(sinkRoot).filter { f =>
          f.getName != "framework.toml" && f.getName != "defaults.toml" &&
            !f.getPath.contains("infra.d")
        }.filter(f => parseToml(f, env).get("sink_group").isDefined)
        routeGroups(legacy, "biz")
      }

    val infra: Map[String, SinkGroup] =
      if (infraDir.isDirectory) {
        // infra groups have a single consumer; `parallel` is rejected
        // (reference build.rs:421-429 — misleading no-op otherwise)
        tomlFilesUnder(infraDir).foreach { f =>
          val g = parseToml(f, env).get("sink_group").map(_.tab)
          require(!g.exists(_.get("parallel").isDefined),
            s"infra group does not support [sink_group].parallel ($f); " +
              "use business.d parallel for throughput")
        }
        routeGroups(tomlFilesUnder(infraDir), "infra").map(g => g.name -> g).toMap
      } else {
        val fw = new File(sinkRoot, "framework.toml")
        if (!fw.isFile) Map.empty
        else {
          val t = parseToml(fw, env)
          InfraNames.flatMap { n =>
            t.get(n).map(_.tab).map(g => n -> buildGroup(g, "infra", connectors, defaults, fw.getPath))
          }.toMap
        }
      }
    (business, infra)
  }

  /** `wplDirOverride` mirrors the reference's `--wpl` CLI flag: an
    * explicit rules directory that takes precedence over
    * wparse.toml [models].wpl (facade/args.rs ParseArgs.wpl_dir). */
  def load(rootPath: String, env: EnvLookup = SysEnv,
           wplDirOverride: Option[String] = None): Loaded = {
    val root = new File(rootPath)
    require(root.isDirectory, s"project root not a directory: $rootPath")
    val conf = loadEngineConf(root, env)
    // the parse model is `parse*.wpl` only (reference wp-proj
    // tests.rs:157 "系统查找的是 parse*.wpl 文件") — gen_rule.wpl in the
    // same tree belongs to wpgen, not the parser; fall back to all .wpl
    // when no parse*.wpl exists
    val allWpl = filesUnder(
      resolve(root, wplDirOverride.getOrElse(conf.wplDir)), ".wpl")
    val parseWpl = allWpl.filter(_.getName.startsWith("parse"))
    val wplFiles = if (parseWpl.nonEmpty) parseWpl else allWpl
    // tolerant per-file load (reference repo.rs:62 — every robustness
    // mode maps a WPL syntax error to Ignore: skip the bad package with
    // a report, keep the loadable ones; `wproj check` surfaces the list)
    val attempts = wplFiles.map { f =>
      val src = readFile(f)
      try { graft.wpl.Runtime.parseAny(src); Right(src) }
      catch { case e: Exception =>
        System.err.println(s"[wpl] load failed, skipping ${f.getPath}: ${e.getMessage}")
        Left(s"${f.getPath}: ${e.getMessage}")
      }
    }
    val wplLoadErrors = attempts.collect { case Left(m) => m }
    val wplSource = attempts.collect { case Right(s) => s }.mkString("\n")
    val omlSources = filesUnder(resolve(root, conf.omlDir), ".oml")
      .map(f => f.getName.stripSuffix(".oml") -> readFile(f))
    val (fs, ks, ss, ts) = loadSources(resolve(root, conf.sourcesDir), env)
    val sinkRoot = resolve(root, conf.sinksDir)
    val connectors = loadConnectors(sinkRoot, env)
    val defaults = loadDefaults(sinkRoot, env)
    val (business, infra) = loadSinkRoutes(sinkRoot, connectors, defaults, env)
    Loaded(root, conf, wplSource, omlSources, fs, ks, ss, connectors, business, infra,
      wplLoadErrors, ts)
  }

  // ---- check ---------------------------------------------------------

  /** Sinks of a kind the engine does not deliver: only `file` (part-file
    * directories) and `blackhole` (records dropped) are written, so a
    * kafka/tcp/syslog sink is refused rather than reported as written. */
  def undelivered(p: Loaded): Vector[String] =
    for {
      g <- p.business ++ p.infra.values
      s <- g.sinks if s.kind != "file" && s.kind != "blackhole"
    } yield s"sink '${g.name}/${s.name}': kind '${s.kind}' is not delivered " +
      "(only file and blackhole sinks are written)"

  /** Static project validation (reference `wproj check` /
    * `crates/wp-proj/src/project/checker`): parse all models, verify
    * route targets exist, verify oml matchers reference loaded models,
    * verify file-source paths. Returns human-readable problems (empty =
    * healthy). */
  def check(p: Loaded): Vector[String] = {
    val problems = Vector.newBuilder[String]
    // files the tolerant loader skipped are problems check must surface
    p.wplLoadErrors.foreach(m => problems += s"wpl: $m")
    val ruleKeys: Vector[String] =
      try graft.wpl.Runtime.parseAny(p.wplSource).map(_.key).toVector
      catch { case e: Exception => problems += s"wpl: ${e.getMessage}"; Vector.empty }
    val modelNames: Vector[String] = p.omlSources.flatMap { case (stem, src) =>
      try {
        val m = graft.oml.OmlText.parse(src)
        // model rule matchers should reference an existing wpl rule
        // (wildcards match against the loaded key inventory)
        m.rules.filter(r => r != "*" && !ruleKeys.exists(k => glob(r, k))).foreach { r =>
          problems += s"oml '$stem': rule matcher '$r' matches no wpl rule"
        }
        Some(m.name)
      } catch { case e: Exception => problems += s"oml '$stem': ${e.getMessage}"; None }
    }
    p.fileSources.filter(_.enable).foreach { s =>
      val f = resolve(p.root, s.path)
      // a source path may be a single file or a part-file directory (the
      // sharded writer's default output shape)
      if (!f.isFile && !f.isDirectory)
        problems += s"source_file '${s.key}': path not found: ${s.path}"
    }
    p.business.foreach { g =>
      g.omlPatterns.filter(pat => pat != "*" && !modelNames.exists(glob(pat, _))).foreach { pat =>
        problems += s"sink group '${g.name}': oml matcher '$pat' matches no loaded model"
      }
      if (g.omlPatterns.isEmpty && g.rulePatterns.isEmpty)
        problems += s"sink group '${g.name}': no oml/rule matchers (receives nothing)"
    }
    problems ++= undelivered(p)
    (p.business ++ p.infra.values).foreach { g =>
      g.sinks.foreach { s =>
        if (s.kind == "file" && s.path.isEmpty)
          problems += s"sink '${g.name}/${s.name}': file sink without path/base+file"
        s.filter.foreach { f =>
          try SinkRouter.parseCond(f)
          catch { case e: Exception => problems += s"sink '${g.name}/${s.name}': bad filter: ${e.getMessage}" }
        }
      }
      // GroupExpectSpec.sum_tol: when several sinks declare ratios, their
      // sum is expected to cover the basis within the tolerance
      for (ge <- g.expect; st <- ge.sumTol) {
        val ratios = g.sinks.flatMap(_.expect).flatMap(_.ratio)
        if (ratios.nonEmpty && math.abs(ratios.sum - 1.0) > st + 1e-9)
          problems += f"sink group '${g.name}': sink ratios sum to ${ratios.sum}%.3f, " +
            f"outside 1±${st}%.3f (sum_tol)"
      }
    }
    problems.result()
  }
}
