package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its seed and time budget,
  * the checkout root (for the parser fixtures), the generated input
  * tables, a private work dir, and the recorders. `jobs`/`plans` are
  * registered only in traced runs. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val root: Path, val tables: Path, val work: Path, val tracer: Tracer,
    val jobs: Option[JobListener], val plans: Option[PlanListener], val ops: Ops) {
  def traced: Boolean = tracer.enabled
  val nproc: Int = Host.nproc

  /** One timed operation of class `cls`, inside a span of the same name. */
  def op[T](cls: String, name: String, req: String)(body: => T)(
      check: T => Option[String] = (_: T) => None): Option[T] =
    ops.run(cls, name)(tracer.span(cls, req)(body))(check)

  /** Runs set-up once, in a span; returns its state and wall seconds. */
  def setup[S](body: => S): (S, Double) = {
    val t0 = System.nanoTime()
    val st = tracer.span("setup", "setup")(body)
    (st, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `step` until `seconds` have passed since the first call, and
    * at least `minSteps` times; returns the measured wall seconds. */
  def measure(minSteps: Int = 1)(step: Int => Unit): Double = tracer.span("measure", "measure") {
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    var i = 0
    while (i < minSteps || System.nanoTime() < deadline) { step(i); i += 1 }
    (System.nanoTime() - t0) / 1e9
  }

  def jobList: Seq[JobRec] = jobs.map(_.jobList).getOrElse(Nil)
  /** Jobs whose innermost span satisfies `p`. */
  def jobsIn(p: Span => Boolean): Seq[JobRec] =
    jobList.filter(j => tracer.at(j.start).exists(p))
  def spansNamed(n: String): Seq[Span] = tracer.spans.filter(_.name == n)
  /** Jobs started inside any span named one of `names` (at any depth). */
  def jobsUnder(names: Set[String]): Seq[JobRec] = {
    val roots = tracer.spans.filter(s => names(s.name))
    jobList.filter(j => roots.exists(_.contains(j.start)))
  }
}

/** What a workload hands back: set-up time, measured wall time and the
  * timed operations' samples (the end-to-end inputs), the op classes
  * that count as user operations, and per-layer metrics (traced runs). */
final case class Outcome(setupSecs: Double, measureSecs: Double,
    opClasses: Set[String], layers: Map[String, Double],
    detail: Seq[(String, Any)] = Nil)

object Main {
  val workloads: Map[String, Ctx => Outcome] = Map(
    "blq_agent" -> BlqAgent.run,
    "suite_sf0.1" -> Suite.run,
    "corpus_loop" -> CorpusLoop.run)

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      root: Path, tables: Path, work: Path, out: Path, faultAt: Int)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("root")).toAbsolutePath,
      Paths.get(need("tables")).toAbsolutePath,
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("out")).toAbsolutePath,
      m.get("fault-at").map(_.toInt).getOrElse(0))
  }

  def session(work: Path, nproc: Int): SparkSession = {
    val s = graft.Tables.configure(SparkSession.builder()
      .appName("perfbench").master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val body = workloads.getOrElse(a.workload,
      sys.error(s"unknown workload ${a.workload}; known: ${workloads.keys.mkString(", ")}"))
    val hostStart = Host.sample()
    Files.createDirectories(a.work)
    Files.createDirectories(a.out)
    val spark = session(a.work, Host.nproc)
    val tracer = new Tracer(a.trace)
    val jobs = if (a.trace) Some(new JobListener) else None
    val plans = if (a.trace) Some(new PlanListener) else None
    jobs.foreach(spark.sparkContext.addSparkListener)
    plans.foreach(spark.listenerManager.register)
    val ops = new Ops(a.faultAt)
    val ctx = new Ctx(spark, a.seed, a.seconds, a.root, a.tables, a.work, tracer, jobs, plans, ops)

    val oc = try body(ctx) catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] workload ${a.workload} aborted")
        e.printStackTrace()
        spark.stop()
        sys.exit(2)
    }
    if (a.trace) org.apache.spark.perfbench.BusDrain(spark.sparkContext)

    val samples = oc.opClasses.toSeq.flatMap(ops.of)
    require(samples.nonEmpty, "no successful timed operation")
    val e2e = Seq(
      "setup_s" -> ("s", oc.setupSecs),
      "op_p50_s" -> ("s", Stats.quantile(samples, 0.5)),
      "op_geomean_s" -> ("s", Stats.geomean(samples)),
      "ops_per_s" -> ("1/s", samples.size / oc.measureSecs),
      "peak_rss_mb" -> ("MiB", Host.peakRssMb()))
    val layers =
      if (!a.trace) Nil
      else {
        val got = oc.layers ++ sparkLayers(ctx, oc)
        val undeclared = got.keySet -- Layers.names.map(_._1)
        require(undeclared.isEmpty, s"undeclared per-layer metrics: $undeclared")
        Layers.names.map { case (n, u) => n -> (u, got.getOrElse(n, 0.0)) }
      }
    val hostEnd = Host.sample()
    spark.stop()

    writeTrace(a, ctx, oc, e2e, layers, hostStart, hostEnd)
    val shown = if (a.trace) layers else e2e
    val line = Json.render(Json.obj(
      "correct" -> (ops.failed == 0),
      "attempted" -> ops.attempted,
      "failed" -> ops.failed,
      "metrics" -> Json.Obj(shown.map { case (n, (u, v)) =>
        n -> Json.obj("value" -> v, "unit" -> u) })))
    System.err.println(s"[perfbench] host start=${Json.render(hostStart)} end=${Json.render(hostEnd)}")
    if (ops.failed > 0)
      System.err.println(s"[perfbench] ${ops.failed} of ${ops.attempted} operations failed; first: ${ops.failures.head}")
    println(line)
    System.out.flush()
    sys.exit(if (ops.failed == 0) 0 else 1)
  }

  /** Spark execution per user operation: jobs started inside the
    * workload's operation spans. */
  private def sparkLayers(ctx: Ctx, oc: Outcome): Map[String, Double] = {
    val opSpans = ctx.tracer.spans.filter(s => oc.opClasses(s.name))
    val n = math.max(1, opSpans.size).toDouble
    val js = ctx.jobsUnder(oc.opClasses)
    val c = SparkCounts.of(ctx.jobs.get, js)
    val wall = opSpans.map(_.secs).sum
    Map("spark.jobs" -> c.jobs / n, "spark.stages" -> c.stages / n,
      "spark.tasks" -> c.tasks / n, "spark.task_s" -> c.taskSecs / n,
      "spark.core_util" -> c.taskSecs / math.max(1e-9, wall * ctx.nproc),
      "spark.task_skew" -> c.taskSkew, "spark.shuffle_bytes" -> c.shuffleBytes / n,
      "spark.spill_bytes" -> c.spillBytes / n, "spark.input_bytes" -> c.inputBytes / n,
      "spark.output_bytes" -> c.outputBytes / n, "spark.gc_s" -> c.gcSecs / n) ++
      planLayers(ctx, opSpans)
  }

  /** Catalyst phase seconds per user operation, for queries executed
    * inside the operation spans. */
  private def planLayers(ctx: Ctx, opSpans: Seq[Span]): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val recs = ctx.plans.toSeq.flatMap(_.recs.asScala)
      .filter(r => opSpans.exists(_.contains(r.start)))
    val n = math.max(1, opSpans.size).toDouble
    Map("plans.analysis_s" -> recs.map(_.analysis).sum / n,
      "plans.optimization_s" -> recs.map(_.optimization).sum / n,
      "plans.planning_s" -> recs.map(_.planning).sum / n)
  }

  /** Writes spans, listener counts per span name and per call-site file,
    * self times, host samples and metrics; in a traced run also the
    * tracing overhead against the same seed's untraced run, if present. */
  private def writeTrace(a: Args, ctx: Ctx, oc: Outcome,
      e2e: Seq[(String, (String, Double))], layers: Seq[(String, (String, Double))],
      hostStart: Json.Obj, hostEnd: Json.Obj): Unit = {
    val base = s"${a.workload}-seed${a.seed}"
    val e2eMap = e2e.map { case (n, (_, v)) => n -> v }
    val overhead: Option[Json.Obj] =
      if (!a.trace) None
      else {
        val p = a.out.resolve(s"$base-trace0.json")
        if (!Files.exists(p)) None
        else {
          val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
          val un = node.get("end_to_end")
          Some(Json.Obj(e2eMap.collect { case (n, v) if un != null && un.has(n) =>
            n -> Json.obj("traced" -> v, "untraced" -> un.get(n).asDouble(),
              "overhead" -> (v - un.get(n).asDouble())) }))
        }
      }
    val perSpan: Seq[(String, Any)] = ctx.jobs.toSeq.flatMap { l =>
      ctx.tracer.spans.map(_.name).distinct.map(n =>
        n -> Json.Obj(SparkCounts.of(l, ctx.jobsIn(_.name == n)).fields))
    }
    val perSite: Seq[(String, Any)] = ctx.jobs.toSeq.flatMap { l =>
      ctx.jobList.groupBy(_.file).toSeq.sortBy(-_._2.size).map { case (f, js) =>
        f -> Json.Obj(SparkCounts.of(l, js).fields) }
    }
    val doc = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "host_start" -> hostStart, "host_end" -> hostEnd,
      "attempted" -> ctx.ops.attempted, "failed" -> ctx.ops.failed,
      "failures" -> ctx.ops.failures.toSeq,
      "setup_s" -> oc.setupSecs,
      "samples" -> Json.Obj(ctx.ops.samples.toSeq.map { case (k, v) => k -> v.toSeq }),
      "end_to_end" -> Json.Obj(e2eMap),
      "per_layer" -> Json.Obj(layers.map { case (n, (_, v)) => n -> v }),
      "tracing_overhead" -> overhead,
      "detail" -> Json.Obj(oc.detail),
      "self_s" -> Json.Obj(ctx.tracer.selfSecs.toSeq.sortBy(_._1)),
      "jobs_per_span_name" -> Json.Obj(perSpan),
      "jobs_per_call_site_file" -> Json.Obj(perSite),
      "jobs" -> ctx.jobList.map(j => Json.obj("id" -> j.id, "site" -> j.site,
        "start" -> j.start, "end" -> j.end, "span" -> ctx.tracer.at(j.start).map(_.id))),
      "spans" -> ctx.tracer.spans.map(s => Json.obj("id" -> s.id, "name" -> s.name,
        "req" -> s.req, "parent" -> s.parent, "start" -> s.start, "end" -> s.end)))
    Files.writeString(a.out.resolve(s"$base-trace${if (a.trace) 1 else 0}.json"), Json.render(doc))
  }
}
