package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.util.Random
import com.fasterxml.jackson.databind.ObjectMapper
import graft.GraftEngine
import graft.api.{FilterLang, Serve}
import graft.parse.FormatRegistry

/** Build logs for the agent session. Most are parser fixtures repeated a
  * skewed number of times; a share are gcc-style logs with a known
  * number of errors and warnings, which the session reads back. */
final class LogGen(fixtureDir: Path, rnd: Random) {
  private val fixtures: Vector[String] = {
    val fs = Files.list(fixtureDir).toArray.map(_.asInstanceOf[Path])
      .filter(Files.isRegularFile(_)).sortBy(_.getFileName.toString)
    require(fs.nonEmpty, s"no parser fixtures under $fixtureDir")
    fs.map(p => new String(Files.readAllBytes(p), UTF_8)).toVector
  }

  /** (content, Some(errors, warnings) for gcc-template logs). */
  def next(): (String, Option[(Int, Int)]) =
    if (rnd.nextDouble() < 0.3) {
      val (e, w) = (1 + rnd.nextInt(6), rnd.nextInt(8))
      val b = new StringBuilder
      val files = 1 + rnd.nextInt(4)
      b ++= s"gcc -Wall -c src/mod0.c -o mod0.o\n"
      val lines = rnd.shuffle((0 until e).map(i => (true, i)) ++ (0 until w).map(i => (false, i)))
      lines.foreach { case (isErr, i) =>
        val f = s"src/mod${rnd.nextInt(files)}.c"
        val (ln, cl) = (1 + rnd.nextInt(400), 1 + rnd.nextInt(40))
        if (isErr) b ++= s"$f:$ln:$cl: error: 'sym$i' undeclared (first use in this function)\n"
        else b ++= s"$f:$ln:$cl: warning: unused variable 'v$i' [-Wunused-variable]\n"
      }
      b ++= s"make: *** [Makefile:12: mod0.o] Error 1\n"
      (b.toString, Some((e, w)))
    } else {
      // heavy-tailed repeat count: median 1, p90 ~5, capped at 40
      val reps = math.min(40, math.floor(1.0 / math.pow(1.0 - rnd.nextDouble(), 0.7)).toInt)
      val f = fixtures(rnd.nextInt(fixtures.size))
      (Seq.fill(math.max(1, reps))(f).mkString(if (f.endsWith("\n")) "" else "\n"), None)
    }
}

/** blq's own use: one Serve over one GraftEngine replays a seeded agent
  * session. Each step imports a generated build log, then calls every
  * read tool once: `last` first, the rest in seeded order. Set-up
  * pre-loads the store through the same import tool. */
object BlqAgent {
  val priorRuns = 1
  val readTools: Vector[String] = Vector("errors", "warnings", "status", "history",
    "summary", "diff", "query", "events", "last", "ci_check", "inspect")
  private val filters = Vector("severity=error", "severity=warning",
    "severity=error,warning", "message~undeclared", "severity!=info")
  private val mapper = new ObjectMapper()

  final class Session(val dir: Path, val engine: GraftEngine, val serve: Serve) {
    var lastSerial = 0L
    var logBytes = 0L
    var logCount = 0
    var lastRef: Option[String] = None
  }

  private def errorOf(doc: String): Option[String] =
    if (!doc.trim.startsWith("{")) None
    else {
      val n = mapper.readTree(doc)
      if (n.has("error")) Some(s"error document: ${n.get("error").asText().take(300)}") else None
    }

  def run(ctx: Ctx): Outcome = {
    val fixtureDir = ctx.root.resolve("src/test/resources/logs")
    val layers = mutable.Map[String, Double]()
    val (s, setupSecs) = ctx.setup {
      val dir = ctx.work.resolve("blq")
      Files.createDirectories(dir.resolve("logs"))
      val engine = GraftEngine(ctx.spark, dir.resolve("store").toString)
      val s = new Session(dir, engine, new Serve(engine))
      val gen = new LogGen(fixtureDir, new Random(ctx.seed * 7919 + 1))
      for (k <- 0 until priorRuns) importLog(ctx, s, gen.next(), s"prior-$k", "setup")
      s
    }
    val rnd = new Random(ctx.seed)
    val gen = new LogGen(fixtureDir, new Random(ctx.seed * 104729 + 3))
    val parseSecs = mutable.ArrayBuffer[(Double, Double, Int, Long)]()
    val apiSplit = mutable.ArrayBuffer[(Double, Double, Double)]()

    // untimed warm-up of the read path (set-up already ran imports)
    Seq("errors", "summary", "query").foreach(t => read(ctx, s, t, rnd, "warm", "warm"))

    // gcc-template runs whose counts are read back after the measured
    // window, so every step times the same mix of calls
    val readBacks = mutable.ArrayBuffer[(Long, (Int, Int))]()
    val secs = ctx.measure() { step =>
      val req = s"step-$step"
      val (content, expect) = gen.next()
      val serial = importLog(ctx, s, (content, expect), req, "import")
      if (ctx.traced) parseSecs += timeParse(content)
      for (e <- expect; n <- serial) readBacks += ((n, e))
      // every read tool once per step: `last` first (an agent's look at
      // the run it just imported, which pays the post-import refresh),
      // then the rest in seeded order
      ("last" +: rnd.shuffle(readTools.filterNot(_ == "last"))).foreach { t =>
        val r = read(ctx, s, t, rnd, req, "read")
        if (ctx.traced) r.foreach { case (wall, args) => direct(ctx, s, t, args).foreach {
          case (b, e) => apiSplit += ((wall, b, e)) } }
      }
    }

    readBacks.foreach { case (n, e) => readBack(ctx, s, n, e) }

    if (ctx.traced) {
      val imports = ctx.spansNamed("import")
      val importJobs = ctx.jobsUnder(Set("import"))
      val n = math.max(1, imports.size).toDouble
      layers ++= Map(
        "blq.import_p50_s" -> Stats.median(ctx.ops.of("import")),
        "blq.read_p50_s" -> Stats.median(ctx.ops.of("read")),
        "blq.read_p90_s" -> Stats.quantile(ctx.ops.of("read"), 0.9),
        "store.jobs_per_import" -> importJobs.size / n,
        "store.schema_jobs_per_import" -> importJobs.count(_.file == "EventStore") / n)
      if (parseSecs.nonEmpty) {
        val (det, all) = (parseSecs.map(_._1).sum, parseSecs.map(_._2).sum)
        layers ++= Map("parse.mb_per_s" -> parseSecs.map(_._4).sum / 1e6 / math.max(all, 1e-9),
          "parse.detect_share" -> det / math.max(all, 1e-9),
          "parse.events" -> parseSecs.map(_._3.toDouble).sum / parseSecs.size)
      }
      if (apiSplit.nonEmpty) layers ++= Map(
        "analytics.build_s" -> Stats.median(apiSplit.map(_._2).toSeq),
        "analytics.exec_s" -> Stats.median(apiSplit.map(_._3).toSeq),
        "api.self_s" -> Stats.median(apiSplit.map(x => x._1 - x._2 - x._3).toSeq))
      layers("store.open_s") = Stats.median((0 until 3).map { _ =>
        val t0 = System.nanoTime()
        ctx.tracer.span("store.open") { s.engine.store.events; s.engine.store.invocations }
        (System.nanoTime() - t0) / 1e9
      })
    }
    val store = s.dir.resolve("store")
    val files = Files.walk(store).toArray.map(_.asInstanceOf[Path]).filter(Files.isRegularFile(_))
    layers("store.files") = files.count(_.toString.endsWith(".parquet")).toDouble
    layers("store.bytes_per_log_byte") = files.map(Files.size).sum.toDouble / s.logBytes
    // the call-site split of the import jobs (traced runs)
    val importSites = ctx.jobsUnder(Set("import")).groupBy(_.site).toSeq
      .sortBy(-_._2.size).map { case (site, js) => site -> js.size }
    Outcome(setupSecs, secs, Set("import", "read"), layers.toMap,
      Seq("runs" -> s.lastSerial, "logs" -> s.logCount, "log_bytes" -> s.logBytes,
        "import_jobs_by_call_site" -> Json.Obj(importSites)))
  }

  /** Imports one log through the Serve import tool; checks the returned
    * run serial is the next one. */
  private def importLog(ctx: Ctx, s: Session, log: (String, Option[(Int, Int)]),
      req: String, cls: String): Option[Long] = {
    val path = s.dir.resolve("logs").resolve(s"${s.logCount}.log")
    Files.write(path, log._1.getBytes(UTF_8))
    s.logCount += 1
    s.logBytes += log._1.getBytes(UTF_8).length
    // a gcc-template log carries its command line; the import passes the
    // format hint that command implies, as `blq run gcc ...` would
    val format = if (log._2.isDefined)
      FormatRegistry.detectFormatFromCommand(log._1.linesIterator.next()) else "auto"
    val out = ctx.op(cls, s"import#${s.logCount} ($req)", req)(
      s.serve.call("import", Map("path" -> path.toString, "format" -> format)))(doc => errorOf(doc).orElse {
        val serial = mapper.readTree(doc).path("run_serial").asLong(-1)
        if (serial != s.lastSerial + 1) Some(s"run_serial $serial after ${s.lastSerial}")
        else None
      })
    out.map { doc =>
      s.lastSerial = mapper.readTree(doc).get("run_serial").asLong()
      s.lastSerial
    }
  }

  /** The `info` tool must report the error and warning counts run
    * `serial` was generated with. */
  private def readBack(ctx: Ctx, s: Session, serial: Long, expect: (Int, Int)): Unit =
    ctx.ops.check(s"info read-back of run $serial") {
      val doc = s.serve.call("info", Map("ref" -> serial.toString))
      errorOf(doc).orElse {
        val run = mapper.readTree(doc).path(0)
        val (ge, gw) = (run.path("errors").asLong(-1), run.path("warnings").asLong(-1))
        if ((ge, gw) == (expect._1.toLong, expect._2.toLong)) None
        else Some(s"read back $ge errors/$gw warnings, injected ${expect._1}/${expect._2}")
      }
    }

  /** One read tool call; returns its wall seconds and arguments when it
    * succeeded. */
  private def read(ctx: Ctx, s: Session, tool: String, rnd: Random, req: String,
      cls: String): Option[(Double, Map[String, String])] = {
    val last = s.lastSerial
    val args: Map[String, String] = tool match {
      case "errors" | "warnings" => Map("limit" -> "10")
      case "history" => Map("limit" -> "20")
      case "diff" => Map("run1" -> (last - 1).toString, "run2" -> last.toString)
      case "ci_check" => Map("baseline" -> (last - 1).toString, "candidate" -> last.toString)
      case "query" => Map("filter" -> filters(rnd.nextInt(filters.size)), "limit" -> "50")
      case "events" => Map("ref" -> "~1", "limit" -> "50")
      case "last" => Map("errors" -> "true")
      case "inspect" => Map("ref" -> s.lastRef.getOrElse(s"$last:0"))
      case _ => Map.empty
    }
    ctx.op(cls, s"$tool ($req)", req)(s.serve.call(tool, args))(errorOf).map { doc =>
      RefRe.findFirstMatchIn(doc).foreach(m => s.lastRef = Some(m.group(1)))
      (ctx.ops.of(cls).last, args)
    }
  }
  private val RefRe = """"ref":\s*"([^"]+)"""".r

  /** Detection and parse timed on the content just imported (traced
    * runs only): (detect s, detect+parse s, events, bytes). */
  private def timeParse(content: String): (Double, Double, Int, Long) = {
    val t0 = System.nanoTime()
    FormatRegistry.detect(content)
    val t1 = System.nanoTime()
    val evs = FormatRegistry.parse(content)
    val t2 = System.nanoTime()
    ((t1 - t0) / 1e9, (t2 - t0) / 1e9, evs.size, content.getBytes(UTF_8).length.toLong)
  }

  /** The same read, with the same arguments, built and collected
    * directly through GraftEngine the way Serve builds it (traced runs
    * only): (build s, exec s), for tools that map to one engine
    * DataFrame. */
  private def direct(ctx: Ctx, s: Session, tool: String,
      args: Map[String, String]): Option[(Double, Double)] = {
    val e = s.engine
    val last = s.lastSerial
    def limit = args("limit").toInt
    val build: Option[() => org.apache.spark.sql.DataFrame] = tool match {
      case "errors" => Some(() => e.errors(limit))
      case "warnings" => Some(() => e.warnings(limit))
      case "status" => Some(() => e.status())
      case "history" => Some(() => e.history(limit))
      case "summary" => Some(() => e.summary())
      case "diff" => Some(() => e.diff(args("run1").toLong, args("run2").toLong))
      case "query" => Some { () =>
        val df = e.query.df()
        FilterLang.parseAll(args("filter").split(";").map(_.trim).filter(_.nonEmpty).toSeq)
          .fold(df)(c => df.filter(c)).limit(limit)
      }
      case "events" => Some(() => e.analytics.eventsForRun(last).limit(limit))
      case _ => None
    }
    build.map { b =>
      ctx.tracer.span("analytics.direct") {
        val t0 = System.nanoTime()
        val df = b()
        val t1 = System.nanoTime()
        df.collect()
        ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
      }
    }
  }
}
