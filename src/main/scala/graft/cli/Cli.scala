package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Pipeline
import graft.oml.KnowDb
import graft.sinks.{Formatters, SinkRouter}
import graft.gen.WpGen
import graft.streaming.StreamingPipeline

/** CLI entry points mirroring the reference's four binaries
  * (docs/usage/en/01-cli): wparse batch|daemon, wpgen rule, wprescue
  * batch, wproj check. Run via spark-submit --class graft.cli.Cli.
  *
  *   wparse  batch  <inDir> <outDir> <rules.wpl> [models.oml ...] [--knowdb <dir>]
  *   wparse  daemon <inDir> <outDir> <rules.wpl> [models.oml ...]
  *   wpgen   rule   <rules.wpl> <ruleKey> <n> <outDir>
  *   wpgen   sample <pool.dat> <n> <outDir> [--seed s]
  *   wprescue batch <rescueDir> <outDir> <rules.wpl> [models.oml ...]
  *   wproj   check  <rules.wpl> [models.oml ...]
  *   wproj   stat   <outDir> [channel=ratio:R[:tol]|min:N|max:N ...]
  *   wproj   init   <dir> [--mode full|normal|model|conf|topology|data]
  *   wproj   model  list|validate <dir>
  *   wproj   data   clean|stat <dir>
  *
  * Plus the index layer (no reference analogue — the training-data
  * side's persisted dedup/ANN artifacts, operable like everything
  * else):
  *
  *   wpindex build  neardup|emb|ann|drift|lm|bm25|dsir|substr|lr|bpe|card|freq|member <corpus.parquet> <indexDir> [--dim D]
  *   wpindex append neardup|emb|ann|drift|lm|bm25|dsir|substr|lr|bpe|card|freq|member <new.parquet> <indexDir>
  *   wpindex probe  neardup|emb     <batch.parquet> <indexDir> <outDir> [--threshold T]
  *   wpindex probe  ann             <queries.parquet> <indexDir> <outDir> [--nprobe N] [--topk K]
  *   wpindex probe  drift           <batch.parquet> <indexDir> <outDir> [--grp-col G --val-col V]
  *   wpindex probe  lm              <batch.parquet> <indexDir> <outDir> [--text-col C]
  *   wpindex probe  bm25            <queries.parquet> <indexDir> <outDir> [--topk K] [--max-df-frac F|--exact]
  *   wpindex probe  lr              <batch.parquet> <indexDir> <outDir> [--text-col C]
  *   wpindex probe  bpe             <batch.parquet> <indexDir> <outDir> [--topn N]
  */
object Cli {

  private def session(): SparkSession = SparkSession.builder()
    .appName("graft")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .getOrCreate()

  /** Signature expression for the mediasig index kinds: which 64-bit
    * perceptual hash to derive from the binary column. */
  private def mediaSigCol(kind: String, binCol: String): org.apache.spark.sql.Column =
    kind match {
      case "image" => graft.functions.MediaDHash.media_dhash(
        org.apache.spark.sql.functions.col(binCol))
      case "audio" => graft.functions.MediaAudioFp.media_audio_fp(
        org.apache.spark.sql.functions.col(binCol))
      case "video" => graft.functions.MediaVideoFp.media_video_fp(
        org.apache.spark.sql.functions.col(binCol))
      case other => throw new IllegalArgumentException(
        s"--sig must be image|audio|video, got $other")
    }

  /** Blocklist file: one phrase per line, blank lines and '#' comments
    * skipped. Loaded driver-side once — the phrase list is a plan-time
    * constant inside the Aho–Corasick expression. */
  private def loadBlocklist(path: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).asScala
      .toSeq.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
  }

  private def read(path: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")

  /** Extract the reference's `-c/--conf <name>` custom-config-filename
    * flag (wpgen surface, default wpgen.toml); returns (name, rest). */
  private def confFlag(args: List[String]): (String, List[String]) = {
    val i = args.indexWhere(a => a == "-c" || a == "--conf")
    if (i < 0 || i + 1 >= args.length) ("wpgen.toml", args)
    else (args(i + 1), args.patch(i, Nil, 2))
  }

  /** Reference ParseArgs flags on the wparse surface (facade/args.rs):
    * -n/--max_line, -w/--parse-workers, -p/--print_stat, --wpl <dir>.
    * Unrecognized args pass through in `rest`. */
  private final case class ParseFlags(maxLines: Option[Long], workers: Option[Int],
                                      statPrint: Boolean, wplDir: Option[String],
                                      rest: List[String])
  private def parseFlags(args: List[String]): ParseFlags = {
    def go(a: List[String], acc: ParseFlags): ParseFlags = a match {
      case ("-n" | "--max_line") :: v :: t => go(t, acc.copy(maxLines = Some(v.toLong)))
      case ("-w" | "--parse-workers") :: v :: t => go(t, acc.copy(workers = Some(v.toInt)))
      case ("-p" | "--print_stat") :: t => go(t, acc.copy(statPrint = true))
      case "--wpl" :: v :: t => go(t, acc.copy(wplDir = Some(v)))
      case h :: t => go(t, acc.copy(rest = acc.rest :+ h))
      case Nil => acc
    }
    go(args, ParseFlags(None, None, statPrint = false, None, Nil))
  }

  /** `--knowdb <dir>` loads every `<table>.csv` in dir into KnowDb
    * (header row, comma-separated — reference loader.rs); tables named
    * geo/zone (ip_beg,ip_end,value rows) and device (key,value rows)
    * additionally feed the parse-time Enricher for `+geo()/+zone()/
    * +device()`. */
  private def loadKnow(args: List[String]): (List[String], KnowDb, graft.wpl.Enricher) = {
    val i = args.indexOf("--knowdb")
    if (i < 0) return (args, KnowDb.empty, graft.wpl.Enricher.empty)
    val dir = args(i + 1)
    val rest = args.take(i) ++ args.drop(i + 2)
    val csvs = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".csv"))
    if (csvs.isEmpty)
      System.err.println(s"warning: --knowdb $dir contains no .csv tables" +
        (if (!new java.io.File(dir).isDirectory) " (not a directory)" else ""))
    val tables = csvs.map { f =>
      KnowDb.fromCsv(f.getName.stripSuffix(".csv"), read(f.getPath))
    }.toMap
    val enrichTables: Map[String, graft.wpl.Enricher.Table] = tables.flatMap {
      case (name @ ("geo" | "zone"), t) =>
        val rows = t.rows.map(r => (r(0).toLong, r(1).toLong, r(2)))
        Some(name -> new graft.wpl.Enricher.IpRangeTable(rows))
      case ("device", t) =>
        Some("device" -> new graft.wpl.Enricher.ExactTable(
          t.rows.map(r => r(0) -> r(1)).toMap))
      case _ => None
    }
    (rest, new KnowDb(tables), new graft.wpl.Enricher(enrichTables))
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "wparse" :: "batch" :: in :: out :: wpl :: rest =>
      val spark = session()
      val (omls, db, enricher) = loadKnow(rest)
      val lines = spark.read.text(in).withColumnRenamed("value", "line")
      // no persist: writeChannels is a single partitioned pass now —
      // the parse runs exactly once with no corpus-sized cache
      val parsed = Pipeline.run(lines, "line", read(wpl), omls.map(read),
        knowDb = db, enricher = enricher)
      writeChannels(parsed, out)
    case "wparse" :: "daemon" :: in :: out :: wpl :: omls =>
      val spark = session()
      val q = StreamingPipeline.start(
        StreamingPipeline.fileLines(spark, in), "line",
        StreamingPipeline.Config(read(wpl), omls.map(read),
          sinks = Seq(SinkRouter.SinkSpec("main")),
          checkpoint = s"$out/_checkpoint")) { (sink, channel, df) =>
        if (!df.isEmpty) df.write.mode("append").json(s"$out/$sink-$channel")
      }
      q.awaitTermination()
    case "wpgen" :: "project" :: dir :: rest0
        if { val (c, x) = confFlag(rest0); parseFlags(x).rest.forall(_ == "--merged") } =>
      // project-driven generation (conf/<name> over a work root). Flags
      // mirror the reference wpgen CLI: -c/--conf config filename,
      // -n line-count override, --wpl rules-dir override; --merged
      // concatenates parts into one file (single-writer opt-in)
      val (confName, rest1) = confFlag(rest0)
      val pa = parseFlags(rest1)
      val spark = session()
      graft.project.WpGenProject.run(spark, dir, merged = pa.rest.nonEmpty,
          confName = confName, countOverride = pa.maxLines,
          wplDir = pa.wplDir).foreach { r =>
        println(s"gen ${r.ruleKey}: rows=${r.rows} -> ${r.outPath}")
      }
    case "wpgen" :: "rule" :: wpl :: ruleKey :: n :: out :: Nil =>
      val spark = session()
      WpGen.dataset(spark, read(wpl), ruleKey, n.toLong).write.mode("overwrite").text(out)
    case "wpgen" :: "sample" :: sample :: n :: out :: rest =>
      // standalone sample replay (reference `wpgen sample`): resample n
      // lines from the pool file, distributed write
      val seed = rest match {
        case Nil => 42L
        case "--seed" :: s :: Nil => s.toLong
        case other =>
          System.err.println("usage: wpgen sample <pool.dat> <n> <outDir> [--seed s]")
          sys.exit(2)
      }
      val spark = session()
      import spark.implicits._
      val pool = spark.read.textFile(sample).filter((l: String) => l.nonEmpty)
      WpGen.fromSample(spark, pool, n.toLong, seed).write.mode("overwrite").text(out)
    case "wprescue" :: "project" :: dir :: Nil
        if graft.project.Project.load(dir).conf.rescuePath.isDefined =>
      // full reference semantics when [rescue].path is configured:
      // re-parse the rescue corpus and route results through the
      // project's OWN sink routing (appended via rescued/ subdirs)
      val spark = session()
      val p = graft.project.Project.load(dir)
      val reports = graft.project.ProjectRun.runRescue(spark, p,
        knowDb = graft.project.KnowDbLoader.load(p.root))
      if (reports.isEmpty) println("nothing to rescue")
      else reports.foreach { r =>
        println(s"rescued ${r.group}/${r.sink} -> ${r.path}: rows=${r.rows}")
      }
    case "wprescue" :: "project" :: dir :: Nil =>
      // fallback (no [rescue] section): re-ingest the infra sink
      // outputs (miss/error/residue hold raw payload text): parse
      // again with the project's models, write channel outputs under
      // out/rescued/
      val spark = session()
      val p = graft.project.Project.load(dir)
      val rescueFiles = p.infra.view.filterKeys(Set("miss", "error", "residue"))
        .values.flatMap(_.sinks).flatMap(_.path)
        .map(graft.project.Project.resolve(p.root, _))
        .flatMap { f => // merged file, or the sharded <path>.d directory
          if (f.isFile || f.isDirectory) Some(f)
          else Some(new java.io.File(f.getPath + ".d")).filter(_.isDirectory)
        }
        .map(_.getPath).toSeq
      if (rescueFiles.isEmpty) { println("nothing to rescue"); sys.exit(0) }
      val lines = spark.read.text(rescueFiles: _*).withColumnRenamed("value", "line")
      val parsed = graft.engine.Pipeline.run(lines, "line", p.wplSource,
        p.omlSources.map(_._2), semanticEnabled = p.conf.semanticEnabled)
      writeChannels(parsed, new java.io.File(p.root, "out/rescued").getPath)
    case "wprescue" :: "batch" :: rescueDir :: out :: wpl :: omls =>
      // re-ingest failed raw data (reference walks rescue/*.dat with a
      // recover.lock offset file; Spark's file source tracks offsets via
      // the checkpoint instead)
      main(Array("wparse", "batch", rescueDir, out, wpl) ++ omls)
    case "wparse" :: "daemon" :: dir :: rest0 if new java.io.File(dir).isDirectory =>
      // streaming daemon over a project instance dir; reference flags:
      // -p/--print_stat (echo per-batch counts), --wpl <dir> override
      val pa = parseFlags(rest0)
      val spark = session()
      val pd = graft.project.Project.load(dir, wplDirOverride = pa.wplDir)
      val q = graft.project.ProjectRun.runStream(spark, pd,
        knowDb = graft.project.KnowDbLoader.load(pd.root),
        statPrint = pa.statPrint)
      q.awaitTermination()
    case "wparse" :: "project" :: dir :: rest0 if parseFlags(rest0).rest.isEmpty =>
      // run a whole wp-proj-style instance dir (conf/wparse.toml +
      // topology + connectors) in batch; every routed sink is written
      // once, as a part-file directory <path>.d.
      // Reference ParseArgs flags: -n/--max_line, -w/--parse-workers,
      // -p/--print_stat, --wpl <dir> override
      val pa = parseFlags(rest0)
      val spark = session()
      val p = graft.project.Project.load(dir, wplDirOverride = pa.wplDir)
      // models/knowledge/knowdb.toml (if present) backs OML `select …`
      // lookups for the whole instance
      val reports = graft.project.ProjectRun.runBatch(spark, p,
        knowDb = graft.project.KnowDbLoader.load(p.root),
        maxLines = pa.maxLines, parseWorkers = pa.workers,
        statPrint = pa.statPrint)
      reports.foreach { r =>
        println(s"sink ${r.group}/${r.sink} -> ${r.path}: rows=${r.rows}" +
          (if (r.intercepted > 0) s" intercepted=${r.intercepted}" else "") +
          (if (r.expectOk) "" else " EXPECT-VIOLATION"))
      }
      // expect mode=warn (the default) reports violations without
      // failing the run; error/panic make them fatal (reference
      // ExpectMode semantics)
      if (reports.exists(r => !r.expectOk && r.expectEnforced)) sys.exit(1)
    case "wproj" :: "init" :: dir :: rest =>
      // scaffold a loadable instance (reference wproj init --mode,
      // crates/wp-proj/src/project/init.rs); never overwrites files
      val mode = rest match {
        case Nil => "full"
        case ("--mode" | "-m") :: m :: Nil => m
        case m :: Nil => m
        case other => System.err.println(s"usage: wproj init <dir> [-m|--mode full|normal|model|conf|topology|data]"); sys.exit(2)
      }
      val written = graft.project.ProjectInit.init(dir, mode)
      written.foreach(p => println(s"+ $p"))
      println(s"initialized $dir (mode=$mode, ${written.size} files)")
    case "wproj" :: "model" :: "list" :: dir :: Nil =>
      graft.project.ProjectInit.modelList(graft.project.Project.load(dir)).foreach(println)
    case "wproj" :: "model" :: "validate" :: dir :: Nil =>
      val problems = graft.project.ProjectInit.modelValidate(graft.project.Project.load(dir))
      problems.foreach(m => println(s"PROBLEM: $m"))
      if (problems.nonEmpty) sys.exit(1) else println("models OK")
    case "wproj" :: "data" :: "clean" :: dir :: Nil =>
      val deleted = graft.project.ProjectInit.dataClean(dir)
      println(s"cleaned ${deleted.size} paths under $dir/out,rescue")
    case "wproj" :: "data" :: "check" :: dir :: Nil =>
      // source connectivity (reference `wproj data check`): file paths
      // readable, net ports bindable; kafka reported unverifiable
      val (problems, skipped) =
        graft.project.ProjectRun.dataCheck(graft.project.Project.load(dir))
      problems.foreach(m => println(s"PROBLEM: $m"))
      skipped.foreach(m => println(s"SKIPPED: $m"))
      if (problems.nonEmpty) sys.exit(1) else println("data sources OK")
    case "wproj" :: "data" :: "validate" :: dir :: rest =>
      // post-hoc expect validation over sink outputs; --input-cnt N
      // supplies the total_input denominator
      val inputCnt = rest.sliding(2).collectFirst {
        case List("--input-cnt", n) => n.toLong
      }
      val problems = graft.project.ProjectRun.dataValidate(
        graft.project.Project.load(dir), inputCnt)
      problems.foreach(m => println(s"PROBLEM: $m"))
      if (problems.nonEmpty) sys.exit(1) else println("data distribution OK")
    case "wproj" :: "data" :: "stat" :: dir :: Nil =>
      val stats = graft.project.ProjectInit.dataStat(graft.project.Project.load(dir))
      stats.foreach { s =>
        println(s"${s.group}/${s.sink} ${s.path}: rows=${s.rows}" +
          (if (s.expectOk) "" else " EXPECT-VIOLATION"))
      }
      if (stats.exists(!_.expectOk)) sys.exit(1)
    case "wproj" :: "check" :: dir :: rest if new java.io.File(dir).isDirectory =>
      // whole-project validation (reference wproj check over a work
      // root). Doc flags (02-wproj.md): --what conf,wpl,... filters the
      // report categories; --json machine output; --only-fail skips the
      // summary line; --fail-fast stops at the first problem
      val what = rest.sliding(2).collectFirst {
        case List("--what", w) => w.split(',').map(_.trim).toSet
      }.getOrElse(Set("all"))
      val json = rest.contains("--json")
      val onlyFail = rest.contains("--only-fail")
      val failFast = rest.contains("--fail-fast")
      val p = graft.project.Project.load(dir)
      if (!onlyFail && !json)
        println(s"project ${p.root}: wpl=${p.wplSource.count(_ == '\n')} lines " +
          s"oml=${p.omlSources.size} models sources=${p.fileSources.size} file/" +
          s"${p.kafkaSources.size} kafka/${p.syslogSources.size} syslog/" +
          s"${p.tcpSources.size} tcp " +
          s"groups=${p.business.size} biz/${p.infra.size} infra " +
          s"connectors=${p.connectors.size}")
      val catPrefix = Map("wpl" -> "wpl", "oml" -> "oml", "sources" -> "source",
        "sinks" -> "sink", "conf" -> "conf", "connectors" -> "connector")
      val all = graft.project.Project.check(p)
      val selected0 =
        if (what("all")) all
        else all.filter(m => what.exists(w => catPrefix.get(w).exists(m.startsWith)))
      val selected = if (failFast) selected0.take(1) else selected0
      if (json) {
        def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
        println(s"""{"ok":${selected.isEmpty},"problems":[${selected.map(q).mkString(",")}]}""")
      } else selected.foreach(m => println(s"PROBLEM: $m"))
      if (selected.nonEmpty) sys.exit(1)
    case "wproj" :: "check" :: wpl :: omls =>
      // config validation: parse everything, report rule/model inventory
      val rules = graft.wpl.Runtime.parseAny(read(wpl))
      println(s"wpl: ${rules.size} rules: ${rules.map(_.key).mkString(", ")}")
      omls.foreach { p =>
        val m = graft.oml.OmlText.parse(read(p))
        println(s"oml: ${m.name} rules=${m.rules.mkString(",")} items=${m.items.size}")
      }
    case "wproj" :: "stat" :: out :: expects =>
      if (wprojStat(out, expects) > 0) sys.exit(1)
    case "wproj" :: "rule" :: "parse" :: dir :: files =>
      // offline rule test (reference `wproj rule parse`,
      // docs/usage/en/01-cli/02-wproj.md:166): run the project's WPL
      // over its enabled file sources (or explicit sample files) and
      // report per-(status, rule) counts — no OML, no sinks.
      val spark = session()
      val p = graft.project.Project.load(dir)
      val inputs =
        if (files.nonEmpty) files
        else p.fileSources.filter(_.enable)
          .map(s => graft.project.Project.resolve(p.root, s.path).getPath)
          .filter(f => new java.io.File(f).exists)
      if (inputs.isEmpty) { System.err.println("no file sources to test"); sys.exit(2) }
      val lines = spark.read.text(inputs: _*).withColumnRenamed("value", "line")
      val parsed = graft.engine.WplEngine.parse(lines, "line", p.wplSource).persist()
      parsed.groupBy(col("status"), col("rule_key")).count()
        .orderBy(col("status"), col("rule_key")).collect()
        .foreach(r => println(s"${r.getString(0)} rule=${Option(r.getString(1)).getOrElse("-")} " +
          s"n=${r.getLong(2)}"))
      val total = parsed.count()
      val ok = parsed.filter(col("status").isin("success", "partial")).count()
      println(f"total=$total parsed=$ok (${if (total > 0) 100.0 * ok / total else 0.0}%.1f%%)")
      parsed.unpersist()
      if (ok == 0) sys.exit(1)
    // Curation front door — the training-data twin of `wparse batch`:
    // quality-ensemble gate → in-batch exact dedup → optional persisted
    // near-dup index probe → optional persisted-LM perplexity gate →
    // train-ready shard write (deterministic per-shard example order).
    // Every stage is one of the library operators; the CLI only wires
    // the on-disk artifacts (indexes) to the composition.
    case "wpcurate" :: "batch" :: in :: out :: rest =>
      import graft.operators.{Dedup, Lm, Sampling, TextAnalysis}
      def flag(name: String, default: String): String = {
        val i = rest.indexOf(name); if (i >= 0 && i + 1 < rest.length) rest(i + 1) else default
      }
      val spark = session()
      val textCol = flag("--text-col", "text")
      val idCol = flag("--id-col", "doc_id")
      val batch = spark.read.parquet(in)
      // every Gopher rule bound is a flag: --min-stopwords 0 lets a
      // non-English corpus through, --max-symbol-ratio 1 a code corpus,
      // without abandoning the rest of the battery
      val verdict = TextAnalysis.qualityEnsemble(batch, textCol, idCol,
        flag("--min-words", "10").toInt, flag("--max-words", "100000").toInt,
        flag("--min-entropy", "3.5").toDouble, flag("--min-score", "0.5").toDouble,
        minStopwords = flag("--min-stopwords", "2").toInt,
        maxSymbolRatio = flag("--max-symbol-ratio", "0.1").toDouble,
        minAlphaFrac = flag("--min-alpha-frac", "0.8").toDouble,
        minMeanWordLen = flag("--min-word-len", "3.0").toDouble,
        maxMeanWordLen = flag("--max-word-len", "10.0").toDouble)
      val passed0 = batch.join(
        verdict.filter(org.apache.spark.sql.functions.col("keep"))
          .select(org.apache.spark.sql.functions.col(idCol)), Seq(idCol))
      // --blocklist <file>: phrase blocklist gate (one phrase per line;
      // '#' comments) — a pure map-side filter, so it slots in before
      // the join gates at zero exchange cost
      val passed1 = flag("--blocklist", "") match {
        case "" => passed0
        case f => graft.streaming.StreamingCuration.blocklistGate(
          passed0, textCol, loadBlocklist(f))
      }
      // --encclean: encoding-damage gate — like the blocklist, a pure
      // map-side filter (plan-time constant patterns, zero exchanges)
      val passed = if (rest.contains("--encclean"))
        graft.streaming.StreamingCuration.encGate(passed1, textCol)
      else passed1
      // in-batch exact dedup: first occurrence per content hash (the
      // StreamingCuration stage-2 shape — groupBy-min + join, no window)
      // each gate is a self-join (batch ⋈ f(batch)) — localCheckpoint
      // after every ACTIVE gate so the plan tree stays O(gates), not
      // 2^gates (the everything-on scale rehearsal caught task closures
      // carrying 2^7 copies of the chain and spending minutes in
      // deserialization; same fix as the daemon path)
      val uniq = {
        import org.apache.spark.sql.functions.{col, min}
        val hashed = passed.withColumn("__h",
          graft.functions.Fnv1a64Expr.fnv1a64(col(textCol)))
        hashed.join(hashed.groupBy(col("__h"))
            .agg(min(col(idCol)).as("__keep_id")), "__h")
          .filter(col(idCol) === col("__keep_id"))
          .drop("__h", "__keep_id")
          .localCheckpoint()
      }
      val afterNd = flag("--index", "") match {
        case "" => uniq
        case p => Dedup.dropNearDupsOfCorpus(uniq, textCol, idCol,
          Dedup.NearDupCorpusIndex.load(spark, p),
          flag("--threshold", "0.5").toDouble).localCheckpoint()
      }
      val afterLm = flag("--lm", "") match {
        case "" => afterNd
        case p => graft.streaming.StreamingCuration.lmGate(afterNd, textCol,
          idCol, Lm.LmRef.load(spark, p),
          flag("--min-logprob", "-8.0").toDouble).localCheckpoint()
      }
      val afterDsir = flag("--dsir", "") match {
        case "" => afterLm
        case p => graft.streaming.StreamingCuration.dsirGate(afterLm, textCol,
          idCol, graft.operators.Dsir.DsirRef.load(spark, p),
          flag("--min-logw", "0.0").toDouble).localCheckpoint()
      }
      val afterSubstr = flag("--substr", "") match {
        case "" => afterDsir
        case p => graft.streaming.StreamingCuration.substrGate(afterDsir,
          textCol, idCol, Dedup.SubstrCorpusIndex.load(spark, p),
          flag("--max-dupfrac", "0.5").toDouble).localCheckpoint()
      }
      // --mediasig <idx>: perceptual media gate — drop rows whose
      // media column is a re-encode of anything in the signature index
      // (the multimodal counterpart of the near-dup text gate)
      val afterMedia = flag("--mediasig", "") match {
        case "" => afterSubstr
        case p =>
          val (kept, degen) = graft.operators.Multimodal.MediaSigIndex
            .load(spark, p)
            .dropKnownAudited(afterSubstr, idCol,
              mediaSigCol(flag("--sig", "image"), flag("--media-col", "media")),
              maxDist = flag("--max-dist", "3").toInt,
              hotBudget = flag("--hot-budget", "1024").toInt)
          // audit the silent half of the gate: degenerate-signature
          // rows drop as "known" (template/solid-color masses) — make
          // the drop visible so a mis-sized --hot-budget can't
          // silently discard a novel corpus slice
          val nDegen = degen.count()
          if (nDegen > 0)
            println(s"wpcurate: MEDIA-DEGENERATE $nDegen rows dropped as known" +
              " (>hot-budget block mass; raise --hot-budget or probe" +
              " via wpindex probe mediasig to inspect)")
          kept.localCheckpoint()
      }
      // --freq <idx>: CMS frequency-cap gate — drop rows whose
      // (--freq-grp, --freq-key) the corpus has already seen
      // >= --freq-cap times (per-key rate limit / source budget)
      val afterFreq = flag("--freq", "") match {
        case "" => afterMedia
        case p => graft.streaming.StreamingCuration.freqGate(afterMedia,
          flag("--freq-grp", "lang"), flag("--freq-key", "source"),
          graft.operators.FreqIndex.FreqRef.load(spark, p),
          flag("--freq-cap", "1000").toLong).localCheckpoint()
      }
      // --member <idx>: exact corpus-membership gate — drop rows whose
      // --member-key the corpus already holds verbatim (bloom-negative
      // rows short-circuit map-side; only candidates pay the confirm)
      val afterMember = flag("--member", "") match {
        case "" => afterFreq
        case p => graft.operators.MemberIndex.MemberRef.load(spark, p)
          .novelOf(afterFreq,
            org.apache.spark.sql.functions.col(flag("--member-key", textCol)))
          .localCheckpoint()
      }
      // --lr <modelDir>: trained-classifier gate (wpindex lr) — keep
      // rows whose LR margin clears --lr-threshold (log-odds)
      val afterLrGate = flag("--lr", "") match {
        case "" => afterMember
        case p => graft.operators.Classifier.LrModel.load(spark, p)
          .gate(afterMember, textCol, idCol,
            flag("--lr-threshold", "0.0").toDouble)
      }
      // --fim: rewrite surviving docs as fill-in-the-middle training
      // examples (PSM render) before sharding — the final-format step.
      // Not combinable with --split: the leakage-safe split mines
      // near-dup clusters on the ORIGINAL text; rewrite after splitting
      // instead (run batch --fim on each side dir).
      require(!(rest.contains("--fim") && flag("--split", "").nonEmpty),
        "wpcurate: --fim and --split do not compose; split first, then " +
          "run batch --fim per side")
      val afterLr = if (rest.contains("--fim")) {
        val keep = afterLrGate.columns.filterNot(c =>
          c == textCol || c == idCol)
        graft.operators.Packing.fimTransform(afterLrGate, textCol, idCol,
            minChars = flag("--fim-min-chars", "20").toInt)
          .select(org.apache.spark.sql.functions.col(idCol),
            org.apache.spark.sql.functions.col("fim_text").as(textCol))
          .join(afterLrGate.select(idCol, keep: _*), Seq(idCol))
      } else afterLrGate
      // --split <evalRate>: leakage-safe train/eval split BEFORE
      // sharding — near-dup clusters mined within the curated batch
      // draw one splitmix side per cluster, so a doc and its near-twin
      // can never end up on opposite sides of the boundary
      flag("--split", "") match {
        case "" =>
          Sampling.writeTrainingShards(afterLr, idCol, out,
            flag("--shards", "8").toInt)
          println(s"wpcurate: curated shards written to $out")
        case rate =>
          import org.apache.spark.sql.functions.col
          val pairs = Dedup.ngramJaccardPairs(afterLr, textCol, idCol,
            n = 3, threshold = flag("--threshold", "0.5").toDouble)
          val clusters = graft.operators.Clustering.dupClusters(
            pairs, "id_a", "id_b")
          val withSplit = Sampling.clusterSafeSplit(afterLr, idCol,
            clusters, "doc_id", "cluster_id", rate.toDouble)
          for (side <- Seq("train", "eval"))
            Sampling.writeTrainingShards(
              withSplit.filter(col("split") === side)
                .drop("cluster_id", "split"),
              idCol, s"$out/$side", flag("--shards", "8").toInt)
          println(s"wpcurate: curated $rate-eval split shards written to $out")
      }

    // Publication card for a (curated) corpus dir: per source×lang
    // docs/tokens/dup-rate — the dataset_card rollup as a CLI step.
    // table maintenance: small-file compaction, range-sorted layout, or
    // Z-order layout (rectangle pruning on both key columns)
    //   wpcurate compact <in> <out> [--target-bytes N]
    //                              [--sort c1[,c2...] --files N]
    //                              [--zorder a,b --files N]
    case "wpcurate" :: "compact" :: in :: out :: rest =>
      import graft.operators.Maintenance
      def flag(name: String, default: String): String = {
        val i = rest.indexOf(name); if (i >= 0 && i + 1 < rest.length) rest(i + 1) else default
      }
      val spark = session()
      val nFiles = flag("--files", "8").toInt
      (flag("--zorder", ""), flag("--sort", "")) match {
        case (zc, _) if zc.nonEmpty =>
          val Array(a, b) = zc.split(',')
          Maintenance.zOrderWrite(spark.read.parquet(in), a, b, nFiles, out)
          println(s"wpcurate: z-ordered ($a, $b) layout written to $out")
        case (_, sc) if sc.nonEmpty =>
          Maintenance.writeSorted(spark.read.parquet(in),
            sc.split(',').toSeq, nFiles, out)
          println(s"wpcurate: sorted ($sc) layout written to $out")
        case _ =>
          Maintenance.compactParquet(spark, in, out,
            flag("--target-bytes", (128L * 1024 * 1024).toString).toLong)
          println(s"wpcurate: compacted layout written to $out")
      }
    case "wpcurate" :: "stats" :: in :: out :: rest =>
      import graft.operators.TextAnalysis
      def flag(name: String, default: String): String = {
        val i = rest.indexOf(name); if (i >= 0 && i + 1 < rest.length) rest(i + 1) else default
      }
      val spark = session()
      val corpus = spark.read.parquet(in)
      TextAnalysis.datasetCard(corpus,
          flag("--text-col", "text"),
          flag("--source-col", "source"), flag("--lang-col", "lang"))
        .write.mode("overwrite").parquet(out)
      println(s"wpcurate: dataset card written to $out")
      // optional length-quantile profile per language via the mergeable
      // sketch — summaries, not rows, through the exchange
      flag("--quantile-col", "") match {
        case "" => ()
        case qc =>
          graft.stats.Stats.quantileProfile(
              corpus.filter(org.apache.spark.sql.functions.col(qc).isNotNull),
              flag("--lang-col", "lang"), qc,
              qs = Seq(0.5, 0.9, 0.99),
              capacity = flag("--quantile-capacity", "4096").toInt)
            .write.mode("overwrite").parquet(s"$out/_quantiles")
          println(s"wpcurate: $qc quantiles written to $out/_quantiles")
      }

    // Continual-ingest curation daemon — parquet files landing in <in>
    // stream through the same stage chain per micro-batch (schema taken
    // from the files already present); accepted rows append under
    // <out>/accepted. `--once` drains what is there and exits (the
    // testable form; omit for a long-running daemon). Exactly-once via
    // the streaming checkpoint, like wparse daemon.
    case "wpcurate" :: "daemon" :: in :: out :: rest =>
      import graft.operators.{Dedup, Lm}
      def flag(name: String, default: String): String = {
        val i = rest.indexOf(name); if (i >= 0 && i + 1 < rest.length) rest(i + 1) else default
      }
      val spark = session()
      // auto-compaction threshold for every per-batch index append
      // below (Maintenance.autoCompact reads this conf); 0 disables
      spark.conf.set(graft.operators.Maintenance.AutoCompactConf,
        flag("--compact-max-files", "256"))
      // delta-log fold threshold for the near-dup index's per-batch
      // appends (NearDupCorpusIndex.foldDeltas reads this conf):
      // appends accumulate as unpartitioned delta files and fold into
      // the partitioned base past this many files — per-batch append
      // cost tracks DELTA size, never index size
      spark.conf.set(graft.operators.Dedup.NearDupCorpusIndex.DeltaFoldConf,
        flag("--fold-max-files", "64"))
      // --compact-budget N (daemon default 16; 0 = whole-sub rewrite):
      // per-batch maintenance is BOUNDED — autoCompact rewrites at most
      // N over-full leaf dirs per append instead of whole base subdirs,
      // spreading a fold's file fan-out cleanup across batches (the r12
      // soak's 2.4× p99 batch-wall spikes were base-sized compactions
      // landing inside single batches)
      spark.conf.set(graft.operators.Maintenance.CompactDirBudgetConf,
        flag("--compact-budget", "16"))
      val textCol = flag("--text-col", "text")
      val idCol = flag("--id-col", "doc_id")
      val schema = spark.read.parquet(in).schema
      val ndIdxPath = flag("--index", "")
      val ndIdx = ndIdxPath match {
        case "" => None
        case p => Some(Dedup.NearDupCorpusIndex.load(spark, p))
      }
      // --append-index: close the continual-ingest loop — each batch's
      // ACCEPTED docs band into the near-dup index, so the NEXT batch's
      // probe sees them (appendTo auto-compacts past the threshold)
      val appendIndex = rest.contains("--append-index")
      val lmRef = flag("--lm", "") match {
        case "" => None
        case p => Some(Lm.LmRef.load(spark, p))
      }
      val minLp = flag("--min-logprob", "-8.0").toDouble
      val dsirRef = flag("--dsir", "") match {
        case "" => None
        case p => Some(graft.operators.Dsir.DsirRef.load(spark, p))
      }
      val minLogw = flag("--min-logw", "0.0").toDouble
      val substrIdx = flag("--substr", "") match {
        case "" => None
        case p => Some(Dedup.SubstrCorpusIndex.load(spark, p))
      }
      val maxDupFrac = flag("--max-dupfrac", "0.5").toDouble
      // optional drift watch: PSI of each ACCEPTED batch's value
      // distribution vs a persisted drift reference (wpindex drift) —
      // an alert line prints per drifting group; curation keeps flowing
      val driftRef = flag("--drift", "") match {
        case "" => None
        case p => Some(graft.operators.Drift.DriftRef.load(spark, p))
      }
      val driftGrp = flag("--drift-grp", "lang")
      val driftVal = flag("--drift-val", "n_chars")
      val driftMax = flag("--drift-max", "0.2").toDouble
      // --drift-cusum <h>: CUSUM drift walk at micro-batch cadence
      // (Page 1954) — the daemon surface of the streaming cusumAlarms
      // gate. Per batch, each group's mean(driftVal) deviation from
      // the PERSISTED reference's (μ, σ) (histogram midpoints —
      // DriftRef.moments; the stream never judges itself) folds into
      //   S ← max(0, S + (x̄ − μ − kσ)),  alarm when S > hσ —
      // catching a sustained small shift the per-batch PSI/KS
      // thresholds each individually miss. The deviation quantizes to
      // a long at 1e-6 before the fold (the cusumAlarms discipline),
      // so the walk replays exactly across restarts of the same batch
      // sequence. k fixed at the standard 0.5; h from the flag.
      val cusumH = flag("--drift-cusum", "")
      val cusumMoments: Map[String, (Double, Double)] =
        if (cusumH.nonEmpty && driftRef.isDefined) {
          // a constant-valued reference group has sigma=0 → slack and
          // alarm limit both collapse to 0 and ANY positive deviation
          // alarms from the first batch (a noisy per-batch gate, not a
          // CUSUM walk) — exclude such groups up front and say so once
          val (degenerate, usable) =
            driftRef.get.moments.partition(_._2._2 <= 0.0)
          if (degenerate.nonEmpty)
            println("wpcurate: DRIFT-CUSUM excluding sigma=0 group(s) " +
              degenerate.keys.toSeq.sorted.mkString(",") +
              " (constant reference distribution - no scale for the walk)")
          usable
        } else Map.empty
      val cusumWalk = scala.collection.mutable.Map.empty[String, Long]
      // perceptual media gate, stream-static per micro-batch (the
      // daemon twin of batch --mediasig)
      val mediaIdx = flag("--mediasig", "") match {
        case "" => None
        case p => Some(graft.operators.Multimodal.MediaSigIndex.load(spark, p))
      }
      val mediaSig = mediaSigCol(flag("--sig", "image"),
        flag("--media-col", "media"))
      val mediaMaxDist = flag("--max-dist", "3").toInt
      // degenerate-signature candidate budget (0 disables; see
      // MediaSigIndex.matchesOf) — degenerate rows count as known
      val mediaHotBudget = flag("--hot-budget", "1024").toInt
      // trained-classifier gate, stream-static per micro-batch (the
      // daemon twin of batch --lr): weights load once, broadcast per
      // batch
      val lrModel = flag("--lr", "") match {
        case "" => None
        case p => Some(graft.operators.Classifier.LrModel.load(spark, p))
      }
      val lrThreshold = flag("--lr-threshold", "0.0").toDouble
      // frequency-cap gate config (the ref itself reloads per batch so
      // wpindex append between batches is seen)
      val freqIdxPath = flag("--freq", "")
      val freqGrp = flag("--freq-grp", "lang")
      val freqKey = flag("--freq-key", "source")
      val freqCap = flag("--freq-cap", "1000").toLong
      // exact corpus-membership gate, stream-static per micro-batch
      // (the daemon twin of batch --member)
      val memberIdx = flag("--member", "") match {
        case "" => None
        case p => Some(graft.operators.MemberIndex.MemberRef.load(spark, p))
      }
      val memberKeyCol = flag("--member-key", textCol)
      // phrase blocklist, loaded once (plan-time constant in the AC
      // expression) — the daemon twin of batch --blocklist
      val blPatterns = flag("--blocklist", "") match {
        case "" => Seq.empty[String]
        case f => loadBlocklist(f)
      }
      val encCleanOn = rest.contains("--encclean")
      // --max-files: micro-batch pacing (AvailableNow honors it too,
      // draining the landing dir in max-files-sized batches — the
      // scale-rehearsal lever for "does per-batch latency stay flat
      // while --append-index grows the corpus index")
      val reader0 = spark.readStream.schema(schema)
      val reader = flag("--max-files", "") match {
        case "" => reader0
        case n => reader0.option("maxFilesPerTrigger", n.toInt)
      }
      val monitorBatch = rest.contains("--monitor-batch")
      val q = reader.parquet(in)
        .writeStream
        .option("checkpointLocation", s"$out/_checkpoint")
        .trigger(if (rest.contains("--once"))
          org.apache.spark.sql.streaming.Trigger.AvailableNow()
        else org.apache.spark.sql.streaming.Trigger.ProcessingTime(
          flag("--trigger-ms", "1000").toLong))
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, bid: Long) =>
          val tBatch0 = System.nanoTime()
          // under --append-index the index GROWS (and compacts) between
          // batches — reload per batch so the probe's file listing sees
          // the appended files and never references compacted-away ones
          val batchNdIdx =
            if (appendIndex && ndIdxPath.nonEmpty)
              Some(Dedup.NearDupCorpusIndex.load(spark, ndIdxPath))
            else ndIdx
          // every gate below is a SELF-join — batch ⋈ f(batch) — so an
          // untruncated chain doubles the plan tree per gate: with all
          // seven gates on, every task closure carries 2^7 copies of
          // the upstream plan, and the everything-on scale rehearsal
          // measured tasks spending MINUTES deserializing closures
          // before doing any work. localCheckpoint after each active
          // gate keeps every gate's plan O(gate): the next gate reads
          // a materialized scan, not the whole chain twice.
          // map-side filters, no self-join: no lineage truncation needed
          val bBl = graft.streaming.StreamingCuration.blocklistGate(
            b, textCol, blPatterns)
          val b0 = if (encCleanOn)
            graft.streaming.StreamingCuration.encGate(bBl, textCol)
          else bBl
          val gated = batchNdIdx match {
            case Some(idx) => graft.streaming.StreamingCuration.curateBatch(
              b0, textCol, idCol, idx,
              minWords = flag("--min-words", "10").toInt,
              maxWords = flag("--max-words", "100000").toInt,
              minEntropy = flag("--min-entropy", "3.5").toDouble,
              minScore = flag("--min-score", "0.5").toDouble,
              nearDupThreshold = flag("--threshold", "0.5").toDouble,
              minStopwords = flag("--min-stopwords", "2").toInt,
              maxSymbolRatio = flag("--max-symbol-ratio", "0.1").toDouble,
              minAlphaFrac = flag("--min-alpha-frac", "0.8").toDouble,
              minMeanWordLen = flag("--min-word-len", "3.0").toDouble,
              maxMeanWordLen = flag("--max-word-len", "10.0").toDouble)
              .localCheckpoint()
            case None => b0
          }
          val lmGated = lmRef match {
            case Some(ref) => graft.streaming.StreamingCuration.lmGate(
              gated, textCol, idCol, ref, minLp).localCheckpoint()
            case None => gated
          }
          val dsirGated = dsirRef match {
            case Some(ref) => graft.streaming.StreamingCuration.dsirGate(
              lmGated, textCol, idCol, ref, minLogw).localCheckpoint()
            case None => lmGated
          }
          val substrGated = substrIdx match {
            case Some(idx) => graft.streaming.StreamingCuration.substrGate(
              dsirGated, textCol, idCol, idx, maxDupFrac).localCheckpoint()
            case None => dsirGated
          }
          val mediaGated = mediaIdx match {
            case Some(idx) =>
              val (kept, degen) = idx.dropKnownAudited(substrGated, idCol,
                mediaSig, mediaMaxDist, hotBudget = mediaHotBudget)
              // per-batch audit line (alongside DRIFT/BATCH monitor
              // lines): degenerate rows drop as "known" — without
              // this a >hot-budget block mass in the corpus silently
              // discards novel batch rows at daemon cadence
              val nDegen = degen.count()
              if (nDegen > 0)
                println(s"wpcurate: MEDIA-DEGENERATE $nDegen rows " +
                  "dropped as known (>hot-budget block mass)")
              kept.localCheckpoint()
            case None => substrGated
          }
          // --freq: per-key rate limit vs the persisted CMS sketch
          // (daemon twin of batch --freq); reload per batch when the
          // index grows between batches
          val freqGated = freqIdxPath match {
            case "" => mediaGated
            case p => graft.streaming.StreamingCuration.freqGate(mediaGated,
              freqGrp, freqKey,
              graft.operators.FreqIndex.FreqRef.load(spark, p), freqCap)
              .localCheckpoint()
          }
          val memberGated = memberIdx match {
            case Some(m) =>
              m.novelOf(freqGated,
                org.apache.spark.sql.functions.col(memberKeyCol))
                .localCheckpoint()
            case None => freqGated
          }
          val acceptedPlan = lrModel match {
            case Some(m) => m.gate(memberGated, textCol, idCol, lrThreshold)
            case None => memberGated
          }
          // the full gate chain (dedup probes, media decode+dHash, LR
          // scoring) feeds up to five consumers per micro-batch — the
          // parquet write, the index append, the monitor agg, the
          // novelty probe+append, the drift probe. Materialize it ONCE,
          // and with localCheckpoint rather than persist: the appends
          // write into the very paths the gate plan reads, and Spark's
          // cache manager invalidates (and silently RE-EVALUATES) a
          // persisted plan whose source files changed — against the
          // already-appended index every doc is a dup and the later
          // consumers would see an empty batch. Checkpointing truncates
          // the lineage so the materialized rows can't be re-derived.
          // (Block cleanup: the checkpoint RDD is released by the
          // context cleaner once the batch's reference drops.)
          val accepted = acceptedPlan.localCheckpoint()
          accepted.write.mode("append").parquet(s"$out/accepted")
          if (appendIndex) batchNdIdx.foreach { idx =>
            idx.appendTo(ndIdxPath, accepted, textCol, idCol)
          }
          // --monitor-key <col>: per-batch cardinality line via the HLL
          // sketch — 512 B of state per aggregate regardless of key
          // count, so the monitor never becomes the memory bound the
          // gates were built to avoid
          flag("--monitor-key", "") match {
            case "" => ()
            case mk =>
              import org.apache.spark.sql.functions.{col, count, lit}
              val r = accepted.agg(count(lit(1)),
                graft.functions.HllSketch.hll_distinct(
                  col(mk).cast("string"), 9)).head()
              val est = r.getStruct(1).getDouble(0)
              println(f"wpcurate: MONITOR accepted=${r.getLong(0)} " +
                f"distinct_$mk%s=$est%.1f")
          }
          // --monitor-hot <col>: per-batch heavy-hitter line via the
          // SpaceSaving sketch — capacity-bounded state like the HLL
          // monitor, so a skewed landing batch (one domain flooding
          // the ingest) is visible the batch it happens
          flag("--monitor-hot", "") match {
            case "" => ()
            case hk =>
              import org.apache.spark.sql.functions.col
              graft.operators.Skew.hotKeys(
                  accepted.select(col(hk)), hk, k = 3, capacity = 1024)
                .collect() // k rows
                .foreach(r => println(
                  s"wpcurate: HOT $hk=${r.getString(0)} " +
                  s"count=[${r.getLong(1)},${r.getLong(2)}]"))
          }
          // --card <indexDir>: continual novelty watch — each accepted
          // batch probes the persisted cardinality profile (NOVELTY
          // lines per group), then folds its registers in, so the
          // profile tracks the full ingested history in 512 B/group
          // and the novelty rate is always measured against everything
          // seen before this batch
          flag("--card", "") match {
            case "" => ()
            case cp =>
              val ref = graft.operators.Cardinality.CardRef.load(spark, cp)
              ref.noveltyOf(accepted,
                  flag("--card-grp", "lang"), flag("--card-key", textCol))
                .collect() // groups-sized frame
                .foreach(r => println(
                  f"wpcurate: NOVELTY ${r.getString(0)}%s " +
                  f"new=${r.getDouble(4)}%.1f of=${r.getDouble(2)}%.1f"))
              ref.appendTo(cp, accepted,
                flag("--card-grp", "lang"), flag("--card-key", textCol))
          }
          driftRef.foreach { ref =>
            ref.psiOf(accepted, driftGrp, driftVal)
              .filter(org.apache.spark.sql.functions.col("psi") > driftMax)
              .collect() // bins-sized frame: a handful of groups
              .foreach(r => println(
                s"wpcurate: DRIFT ${r.getString(0)} psi=${r.getDouble(2)}"))
            // --drift-ks <maxD>: KS sup-gap companion — catches a CDF
            // shift PSI's per-bin share ratios can miss (and vice versa)
            flag("--drift-ks", "") match {
              case "" => ()
              case maxD =>
                ref.ksOf(accepted, driftGrp, driftVal)
                  .filter(org.apache.spark.sql.functions.col("ks_d") >
                    maxD.toDouble)
                  .collect()
                  .foreach(r => println(
                    s"wpcurate: DRIFT-KS ${r.getString(0)} ks_d=${r.getDouble(3)}"))
            }
            if (cusumH.nonEmpty) {
              import org.apache.spark.sql.functions.{avg, col}
              val h = cusumH.toDouble
              // groups-sized collect (one mean per drift group)
              accepted.groupBy(col(driftGrp).cast("string").as("grp"))
                .agg(avg(col(driftVal).cast("double")).as("x"))
                .collect()
                // all-null driftVal in a group → avg is null: skip the
                // fold rather than NPE the daemon (matches PSI/KS,
                // which simply bin nothing for such rows)
                .filter(r => !r.isNullAt(1) && r.getString(0) != null)
                .foreach { r =>
                  cusumMoments.get(r.getString(0)).foreach { case (mu, sig) =>
                    val zq = math.floor(
                      (r.getDouble(1) - mu - 0.5 * sig) * 1e6 + 0.5).toLong
                    val s = math.max(0L, cusumWalk.getOrElse(r.getString(0), 0L) + zq)
                    cusumWalk(r.getString(0)) = s
                    if (s.toDouble / 1e6 > h * sig)
                      println(f"wpcurate: DRIFT-CUSUM ${r.getString(0)}%s " +
                        f"cusum=${s.toDouble / 1e6}%.3f limit=${h * sig}%.3f")
                  }
                }
            }
          }
          // --monitor-batch: one ops line per micro-batch — wall secs
          // and accepted rows (a count on the checkpointed frame, no
          // recompute) so a latency trend under --append-index growth
          // is visible in the daemon log itself
          if (monitorBatch) {
            val secs = (System.nanoTime() - tBatch0) / 1e9
            println(f"wpcurate: BATCH id=$bid accepted=${accepted.count()}%d secs=$secs%.2f")
          }
          // release batch-scoped scratch caches (e.g. the media gate's
          // hot-bucket frame) — the CacheScope harness contract; a
          // long-running daemon would otherwise accrete one cached
          // frame per micro-batch
          graft.operators.CacheScope.drain()
          ()
        }.start()
      q.awaitTermination()

    case "wpindex" :: sub :: kind :: rest =>
      import graft.operators.{Dedup, Similarity}
      def flag(name: String, default: String): String = {
        val i = rest.indexOf(name); if (i >= 0 && i + 1 < rest.length) rest(i + 1) else default
      }
      val spark = session()
      (sub, kind, rest) match {
        // `wpindex ls <root>`: one line per artifact directly under (or
        // at) root — kind / format version / builder fingerprint /
        // params, from each meta.properties
        case ("ls", root, _) =>
          val lines = graft.operators.ArtifactMeta.ls(root)
          if (lines.isEmpty) println(s"wpindex: no artifacts under $root")
          else lines.foreach(l => println(s"wpindex: $l"))
        // `wpindex compact <indexDir>`: layout-preserving compaction of
        // an appended artifact's over-threshold subdirs
        case ("compact", path, _) =>
          val done = graft.operators.Maintenance.compactArtifact(spark, path,
            flag("--max-files", "64").toInt)
          if (done.isEmpty) println(s"wpindex: nothing over threshold at $path")
          else println(s"wpindex: compacted ${done.mkString(",")} at $path")
        case ("build", "neardup", corpus :: path :: _) =>
          Dedup.nearDupCorpusIndex(spark.read.parquet(corpus),
            flag("--text-col", "text"), flag("--id-col", "doc_id")).save(path)
          println(s"wpindex: built neardup index at $path")
        case ("build", "emb", corpus :: path :: _) =>
          // --nbits is the probe-cost knob: expected candidate volume
          // per probe vector is corpus / 2^nbits per table, so nbits
          // should grow ~log2(corpus) to keep probes flat (measured in
          // the r11 scale rehearsal: nbits=2 defaults make the probe
          // linear in corpus size)
          Similarity.embCorpusIndex(spark.read.parquet(corpus),
            flag("--vec-col", "embedding"), flag("--id-col", "vec_id"),
            dim = flag("--dim", "64").toInt,
            nBits = flag("--nbits", "2").toInt,
            tables = flag("--tables", "8").toInt).save(path)
          println(s"wpindex: built emb index at $path")
        case ("build", "ann", corpus :: path :: _) =>
          Similarity.AnnIndex.build(spark.read.parquet(corpus),
            flag("--vec-col", "embedding"), flag("--id-col", "vec_id"),
            dim = flag("--dim", "64").toInt,
            coarseK = flag("--coarse-k", "8").toInt, coarseIters = 2,
            m = flag("--m", "4").toInt, k = flag("--k", "16").toInt,
            iters = 2).save(path)
          println(s"wpindex: built ann index at $path")
        case ("append", "neardup", newData :: path :: _) =>
          Dedup.NearDupCorpusIndex.load(spark, path).appendTo(path,
            spark.read.parquet(newData),
            flag("--text-col", "text"), flag("--id-col", "doc_id"))
          println(s"wpindex: appended to neardup index at $path")
        case ("append", "emb", newData :: path :: _) =>
          Similarity.EmbCorpusIndex.load(spark, path).appendTo(path,
            spark.read.parquet(newData),
            flag("--vec-col", "embedding"), flag("--id-col", "vec_id"))
          println(s"wpindex: appended to emb index at $path")
        case ("append", "ann", newData :: path :: _) =>
          Similarity.AnnIndex.load(spark, path).appendTo(path,
            spark.read.parquet(newData),
            flag("--vec-col", "embedding"), flag("--id-col", "vec_id"))
          println(s"wpindex: appended to ann index at $path")
        case ("probe", "neardup", batch :: path :: out :: _) =>
          val idx = Dedup.NearDupCorpusIndex.load(spark, path)
          Dedup.dropNearDupsOfCorpus(spark.read.parquet(batch),
              flag("--text-col", "text"), flag("--id-col", "doc_id"), idx,
              flag("--threshold", "0.5").toDouble)
            .write.mode("overwrite").parquet(out)
          println(s"wpindex: survivors written to $out")
        case ("probe", "emb", batch :: path :: out :: _) =>
          val idx = Similarity.EmbCorpusIndex.load(spark, path)
          Similarity.dropNearDupsOfEmbCorpus(spark.read.parquet(batch),
              flag("--vec-col", "embedding"), flag("--id-col", "vec_id"), idx,
              flag("--threshold", "0.95").toDouble)
            .write.mode("overwrite").parquet(out)
          println(s"wpindex: survivors written to $out")
        case ("probe", "ann", queries :: path :: out :: _) =>
          val idx = Similarity.AnnIndex.load(spark, path)
          idx.probe(spark.read.parquet(queries),
              flag("--vec-col", "embedding"), flag("--id-col", "vec_id"),
              nprobe = flag("--nprobe", "2").toInt,
              topK = flag("--topk", "10").toInt)
            .write.mode("overwrite").parquet(out)
          println(s"wpindex: top-k written to $out")
        case ("build", "drift", corpus :: path :: _) =>
          graft.operators.Drift.DriftRef.build(spark.read.parquet(corpus),
              flag("--grp-col", "event_type"), flag("--val-col", "value"),
              flag("--bin-width", "20.0").toDouble)
            .save(path)
          println(s"wpindex: built drift reference at $path")
        case ("append", "drift", newData :: path :: _) =>
          graft.operators.Drift.DriftRef.load(spark, path).appendTo(path,
            spark.read.parquet(newData),
            flag("--grp-col", "event_type"), flag("--val-col", "value"))
          println(s"wpindex: appended to drift reference at $path")
        case ("probe", "drift", batch :: path :: out :: _) =>
          graft.operators.Drift.DriftRef.load(spark, path)
            .psiOf(spark.read.parquet(batch),
              flag("--grp-col", "event_type"), flag("--val-col", "value"))
            .write.mode("overwrite").parquet(out)
          println(s"wpindex: psi written to $out")
        case ("build", "lm", corpus :: path :: _) =>
          graft.operators.Lm.LmRef.build(spark.read.parquet(corpus),
              flag("--text-col", "text"),
              flag("--lambda", "0.7").toDouble,
              flag("--residual", "0.3").toDouble)
            .save(path)
          println(s"wpindex: built lm reference at $path")
        case ("append", "lm", newData :: path :: _) =>
          graft.operators.Lm.LmRef.load(spark, path).appendTo(path,
            spark.read.parquet(newData), flag("--text-col", "text"))
          println(s"wpindex: appended to lm reference at $path")
        case ("probe", "lm", batch :: path :: out :: _) =>
          graft.operators.Lm.LmRef.load(spark, path)
            .scoreOf(spark.read.parquet(batch),
              flag("--text-col", "text"), flag("--id-col", "doc_id"))
            .write.mode("overwrite").parquet(out)
          println(s"wpindex: lm scores written to $out")
        case ("build", "bpe", corpus :: path :: _) =>
          graft.operators.Tokenizer.TokenizerRef
            .train(spark.read.parquet(corpus), flag("--text-col", "text"))
            .save(path)
          println(s"wpindex: built bpe tokenizer at $path")
        case ("append", "bpe", newData :: path :: _) =>
          graft.operators.Tokenizer.TokenizerRef.load(spark, path)
            .appendTo(path, spark.read.parquet(newData),
              flag("--text-col", "text"))
          println(s"wpindex: appended to bpe tokenizer at $path")
        case ("probe", "bpe", batch :: path :: out :: _) =>
          graft.operators.Tokenizer.TokenizerRef.load(spark, path)
            .encode(spark.read.parquet(batch),
              flag("--text-col", "text"), flag("--id-col", "doc_id"),
              topN = flag("--topn", "50").toInt)
            .write.mode("overwrite").parquet(out)
          println(s"wpindex: bpe encodings written to $out")
        case ("build", "lr", corpus :: path :: _) =>
          // label = (--target-col == --target-val), the dsir convention
          graft.operators.Classifier.LrModel.train(spark.read.parquet(corpus),
              flag("--text-col", "text"), flag("--id-col", "doc_id"),
              org.apache.spark.sql.functions.col(flag("--target-col", "lang"))
                === flag("--target-val", "en"),
              nBuckets = flag("--buckets", "64").toInt,
              iters = flag("--iters", "3").toInt,
              lr = flag("--lr-rate", "1.0").toDouble)
            .save(path)
          println(s"wpindex: built lr model at $path")
        case ("append", "lr", newData :: path :: _) =>
          // online refinement: warm-start steps on the new labeled batch
          graft.operators.Classifier.LrModel.load(spark, path).refine(path,
            spark.read.parquet(newData),
            flag("--text-col", "text"), flag("--id-col", "doc_id"),
            org.apache.spark.sql.functions.col(flag("--target-col", "lang"))
              === flag("--target-val", "en"),
            iters = flag("--iters", "1").toInt,
            lr = flag("--lr-rate", "1.0").toDouble)
          println(s"wpindex: refined lr model at $path")
        case ("probe", "lr", batch :: path :: out :: _) =>
          graft.operators.Classifier.LrModel.load(spark, path)
            .scoreOf(spark.read.parquet(batch),
              flag("--text-col", "text"), flag("--id-col", "doc_id"))
            .write.mode("overwrite").parquet(out)
          println(s"wpindex: lr margins written to $out")
        case ("build", "bm25", corpus :: path :: _) =>
          graft.operators.Retrieval.Bm25Index.build(spark.read.parquet(corpus),
              flag("--text-col", "text"), flag("--id-col", "doc_id"),
              k1 = flag("--k1", "1.2").toDouble,
              b = flag("--b", "0.75").toDouble,
              nBuckets = flag("--buckets", "64").toInt)
            .save(path)
          println(s"wpindex: built bm25 index at $path")
        case ("append", "bm25", newData :: path :: _) =>
          graft.operators.Retrieval.Bm25Index.load(spark, path).appendTo(path,
            spark.read.parquet(newData),
            flag("--text-col", "text"), flag("--id-col", "doc_id"))
          println(s"wpindex: appended to bm25 index at $path")
        case ("probe", "bm25", queries :: path :: out :: _) =>
          // queries parquet: (query_id, term) relation.
          // --max-df-frac F (CLI default 0.25): drop query terms with
          // df > F*nDocs before the postings join — at corpus scale an
          // uncapped stop-word term's candidate mass is corpus-
          // proportional (measured 78.6 s at 100× vs 1.8 s capped), so
          // the FRONT-DOOR command defaults to the capped probe with
          // its bounded score error (< (k1+1)·ln(1/F) per doc; see
          // Bm25Index.topK). `--exact` opts out (≡ --max-df-frac 1.0);
          // the library default and every oracled query stay exact.
          val bmFrac =
            if (rest.contains("--exact")) 1.0
            else flag("--max-df-frac", "0.25").toDouble
          graft.operators.Retrieval.Bm25Index.load(spark, path)
            .topK(spark.read.parquet(queries),
              k = flag("--topk", "10").toInt,
              maxDfFrac = bmFrac)
            .write.mode("overwrite").parquet(out)
          println(s"wpindex: bm25 top-k written to $out" +
            (if (bmFrac < 1.0) f" (stop-term cap df<=$bmFrac%.2f*nDocs;" +
              " --exact for uncapped)" else ""))
        case ("build", "dsir", corpus :: path :: _) =>
          graft.operators.Dsir.DsirRef.build(spark.read.parquet(corpus),
              flag("--text-col", "text"), flag("--id-col", "doc_id"),
              org.apache.spark.sql.functions.col(flag("--target-col", "lang"))
                === flag("--target-val", "en"),
              nBuckets = flag("--buckets", "256").toInt)
            .save(path)
          println(s"wpindex: built dsir reference at $path")
        case ("append", "dsir", newData :: path :: _) =>
          graft.operators.Dsir.DsirRef.load(spark, path).appendTo(path,
            spark.read.parquet(newData),
            flag("--text-col", "text"), flag("--id-col", "doc_id"),
            org.apache.spark.sql.functions.col(flag("--target-col", "lang"))
              === flag("--target-val", "en"))
          println(s"wpindex: appended to dsir reference at $path")
        case ("probe", "dsir", batch :: path :: out :: _) =>
          graft.operators.Dsir.DsirRef.load(spark, path)
            .scoreOf(spark.read.parquet(batch),
              flag("--text-col", "text"), flag("--id-col", "doc_id"))
            .write.mode("overwrite").parquet(out)
          println(s"wpindex: dsir weights written to $out")
        case ("build", "substr", corpus :: path :: _) =>
          Dedup.SubstrCorpusIndex.build(spark.read.parquet(corpus),
              flag("--text-col", "text"), flag("--id-col", "doc_id"),
              winTokens = flag("--win", "8").toInt)
            .save(path)
          println(s"wpindex: built substr index at $path")
        case ("append", "substr", newData :: path :: _) =>
          Dedup.SubstrCorpusIndex.load(spark, path).appendTo(path,
            spark.read.parquet(newData),
            flag("--text-col", "text"), flag("--id-col", "doc_id"))
          println(s"wpindex: appended to substr index at $path")
        case ("probe", "substr", batch :: path :: out :: _) =>
          Dedup.SubstrCorpusIndex.load(spark, path)
            .spansOf(spark.read.parquet(batch),
              flag("--text-col", "text"), flag("--id-col", "doc_id"))
            .write.mode("overwrite").parquet(out)
          println(s"wpindex: duplicated spans written to $out")
        case ("build", "mediasig", corpus :: path :: _) =>
          graft.operators.Multimodal.MediaSigIndex.build(
              spark.read.parquet(corpus), flag("--id-col", "doc_id"),
              mediaSigCol(flag("--sig", "image"), flag("--bin-col", "media")))
            .save(path)
          println(s"wpindex: built mediasig index at $path")
        case ("append", "mediasig", newData :: path :: _) =>
          graft.operators.Multimodal.MediaSigIndex.load(spark, path)
            .appendTo(path, spark.read.parquet(newData),
              flag("--id-col", "doc_id"),
              mediaSigCol(flag("--sig", "image"), flag("--bin-col", "media")))
          println(s"wpindex: appended to mediasig index at $path")
        case ("probe", "mediasig", batch :: path :: out :: _) =>
          // --hot-budget N (default 1024): per-(block,value) candidate
          // budget — buckets beyond it demand a SECOND matching block
          // (pair-key AND join), and batch rows touching them are
          // written to <out>_degenerate as the explicit degenerate-
          // signature verdict (bounded-but-possibly-incomplete match
          // enumeration; see MediaSigIndex.matchesOf recall bound).
          // 0 disables the gate.
          val msIdx = graft.operators.Multimodal.MediaSigIndex.load(spark, path)
          val msBatch = spark.read.parquet(batch)
          val msSig = mediaSigCol(flag("--sig", "image"), flag("--bin-col", "media"))
          val msBudget = flag("--hot-budget", "1024").toInt
          // ONE probe pass feeds both outputs (matchesOf+degenerateOf
          // would run the explode + hot-bucket agg + tier joins twice)
          val (msMatches, msDegen) = msIdx.probe(msBatch,
            flag("--id-col", "doc_id"), msSig,
            maxDist = flag("--max-dist", "3").toInt, hotBudget = msBudget)
          msMatches.write.mode("overwrite").parquet(out)
          val nDegen =
            if (msBudget > 0) {
              msDegen.write.mode("overwrite").parquet(out + "_degenerate")
              spark.read.parquet(out + "_degenerate").count()
            } else 0L
          println(s"wpindex: media matches written to $out" +
            (if (nDegen > 0) s" ($nDegen degenerate-signature rows -> ${out}_degenerate)"
             else ""))
        case ("build", "card", corpus :: path :: _) =>
          graft.operators.Cardinality.CardRef.build(spark.read.parquet(corpus),
              flag("--grp-col", "source"), flag("--key-col", "text"),
              p = flag("--p", "9").toInt)
            .save(path)
          println(s"wpindex: built card index at $path")
        case ("append", "card", newData :: path :: _) =>
          graft.operators.Cardinality.CardRef.load(spark, path).appendTo(path,
            spark.read.parquet(newData),
            flag("--grp-col", "source"), flag("--key-col", "text"))
          println(s"wpindex: appended to card index at $path")
        case ("probe", "card", batch :: path :: out :: _) =>
          graft.operators.Cardinality.CardRef.load(spark, path)
            .noveltyOf(spark.read.parquet(batch),
              flag("--grp-col", "source"), flag("--key-col", "text"))
            .write.mode("overwrite").parquet(out)
          println(s"wpindex: batch novelty written to $out")
        case ("build", "freq", corpus :: path :: _) =>
          graft.operators.FreqIndex.FreqRef.build(spark.read.parquet(corpus),
              flag("--grp-col", "source"), flag("--key-col", "text"),
              d = flag("--d", "3").toInt, wExp = flag("--w-exp", "10").toInt)
            .save(path)
          println(s"wpindex: built freq index at $path")
        case ("append", "freq", newData :: path :: _) =>
          graft.operators.FreqIndex.FreqRef.load(spark, path).appendTo(path,
            spark.read.parquet(newData),
            flag("--grp-col", "source"), flag("--key-col", "text"))
          println(s"wpindex: appended to freq index at $path")
        case ("probe", "freq", batch :: path :: out :: _) =>
          graft.operators.FreqIndex.FreqRef.load(spark, path)
            .estimateOf(spark.read.parquet(batch),
              flag("--grp-col", "source"), flag("--key-col", "text"))
            .write.mode("overwrite").parquet(out)
          println(s"wpindex: frequency estimates written to $out")
        case ("build", "member", corpus :: path :: _) =>
          graft.operators.MemberIndex.MemberRef.build(
              spark.read.parquet(corpus),
              org.apache.spark.sql.functions.col(flag("--key-col", "text")),
              mExp = flag("--m-exp", "20").toInt, k = flag("--k", "6").toInt)
            .save(path)
          println(s"wpindex: built member index at $path")
        case ("append", "member", newData :: path :: _) =>
          graft.operators.MemberIndex.MemberRef.load(spark, path).appendTo(path,
            spark.read.parquet(newData),
            org.apache.spark.sql.functions.col(flag("--key-col", "text")))
          println(s"wpindex: appended to member index at $path")
        case ("probe", "member", batch :: path :: out :: _) =>
          graft.operators.MemberIndex.MemberRef.load(spark, path)
            .verdictsOf(spark.read.parquet(batch),
              org.apache.spark.sql.functions.col(flag("--key-col", "text")))
            .write.mode("overwrite").parquet(out)
          println(s"wpindex: membership verdicts written to $out")
        case _ =>
          System.err.println(
            "usage: wpindex build|append|probe neardup|emb|ann|drift|lm|bm25|dsir|substr|card|freq|member <in.parquet> <indexDir> [<outDir>] [flags]\n" +
            "       wpindex ls <root> | wpindex compact <indexDir> [--max-files N]\n" +
            "sizing: emb --nbits ~ log2(corpus); ann --coarse-k ~ sqrt(corpus)\n" +
            "bm25 probe --max-df-frac F (default 0.25): drop query terms with\n" +
            "  df > F*nDocs (stop-term cap — bounded score error, flat cost at\n" +
            "  any corpus size); --exact opts out (uncapped, corpus-\n" +
            "  proportional on stop-word terms)\n" +
            "mediasig probe --hot-budget N (default 1024): per-(block,value)\n" +
            "  candidate budget — over-budget buckets need a 2nd matching\n" +
            "  block, and affected batch rows land in <out>_degenerate\n" +
            "  (degenerate-signature verdicts; 0 disables the gate)")
          sys.exit(2)
      }

    case "wpgen" :: "conf" :: sub :: dir :: rest =>
      // generator config management (reference `wpgen conf init|check|clean`,
      // -c/--conf = custom config filename, default wpgen.toml)
      val (confName, extra) = confFlag(rest)
      if (extra.nonEmpty) {
        System.err.println(s"usage: wpgen conf init|check|clean <dir> [-c <name>]")
        sys.exit(2)
      }
      sub match {
        case "init" =>
          val written = graft.project.ProjectInit.wpgenConfInit(dir, confName)
          written.foreach(p => println(s"+ $p"))
          if (written.isEmpty) println(s"conf/$confName already exists (not overwritten)")
        case "check" =>
          val problems = graft.project.ProjectInit.wpgenConfCheck(dir, confName)
          problems.foreach(m => println(s"PROBLEM: $m"))
          if (problems.nonEmpty) sys.exit(1) else println("wpgen conf OK")
        case "clean" =>
          val removed = graft.project.ProjectInit.wpgenConfClean(dir, confName)
          removed.foreach(p => println(s"- $p"))
        case other =>
          System.err.println(s"usage: wpgen conf init|check|clean <dir> [-c <name>] (got '$other')")
          sys.exit(2)
      }
    case "wpgen" :: "data" :: "clean" :: dir :: rest =>
      val (confName, extra) = confFlag(rest)
      if (extra.nonEmpty) {
        System.err.println("usage: wpgen data clean <dir> [-c <name>]")
        sys.exit(2)
      }
      val removed = graft.project.ProjectInit.wpgenDataClean(dir, confName)
      println(s"cleaned ${removed.size} paths (generator output)")
    case other =>
      System.err.println(s"unknown command: ${other.mkString(" ")}")
      System.err.println("usage: wparse batch|daemon, wpgen rule, wprescue batch, wproj check")
      sys.exit(2)
  }

  /** Count-expectation validation over real batch outputs (reference
    * `wproj data stat` / sink-group expect blocks, 03-sinks.md:19-26):
    *   wproj stat <outDir> [channel=ratio:R[:tol]] [channel=min:N]
    *   [channel=max:N] ...   (basis = sum of all channel counts)
    * Returns the number of violated expectations. */
  def wprojStat(out: String, expects: List[String]): Int = {
    val channels = Seq("main", "miss", "residue", "error", "intercept")
    def countLines(dir: java.io.File): Long = {
      val parts = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("part") && !f.getName.endsWith(".crc"))
      parts.iterator.map { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().size.toLong finally src.close()
      }.sum
    }
    val counts: Map[String, Long] = channels.map { c =>
      c -> countLines(new java.io.File(s"$out/$c"))
    }.toMap
    val basis = counts.values.sum
    println(s"stat: total=$basis " +
      channels.map(c => s"$c=${counts(c)}").mkString(" "))
    var violations = 0
    expects.foreach { spec =>
      val Array(channel, rule) = spec.split("=", 2)
      val parts = rule.split(":")
      val e = parts(0) match {
        case "ratio" => SinkRouter.Expect(ratio = Some(parts(1).toDouble),
          tol = if (parts.length > 2) parts(2).toDouble else 0.05)
        case "min" => SinkRouter.Expect(min = Some(parts(1).toLong))
        case "max" => SinkRouter.Expect(max = Some(parts(1).toLong))
        case other => throw new IllegalArgumentException(s"unknown expect: $other")
      }
      val n = counts.getOrElse(channel, 0L)
      val ok = SinkRouter.validateExpect(n, basis, e)
      println(s"expect $channel $rule: " +
        (if (ok) "OK" else s"VIOLATION (count=$n basis=$basis)"))
      if (!ok) violations += 1
    }
    violations
  }

  /** `wparse batch` channels out/{main,miss,residue,error} (each present
    * even when empty) in ONE pass over the uncached parse; a Partial
    * reaches main AND residue (reference ProcessResult::Partial). */
  private def writeChannels(parsed: DataFrame, out: String): Unit =
    SinkRouter.writeFanout(parsed, s"$out/_fanout", Seq(
      "main" -> (Formatters.line("json", col("fields")),
        col("status").isin("ok", "default", "residue-only")),
      "miss" -> (col("err_hint"), col("status") === "miss"),
      "residue" -> (col("residue"), col("residue").isNotNull && col("residue") =!= ""),
      "error" -> (col("err_hint"), col("status") === "error"))
      .map { case (ch, (line, w)) => SinkRouter.Channel(s"$out/$ch", line, Seq(w)) })
}
