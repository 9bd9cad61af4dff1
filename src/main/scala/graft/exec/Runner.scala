package graft.exec

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.sql.{Date, Timestamp}
import java.util.UUID
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.functions.BlqFunctions
import graft.model._
import graft.parse.FormatRegistry
import graft.store.{BlobStore, EventStore}

/** Command execution source (S7/S8, SURVEY.md §2.1; reference
  * execution.py:232-611 behavior): run a subprocess, stream combined
  * output to a live file, then parse → fingerprint → append the full
  * attempt/outcome/invocation/events lifecycle to the store and the
  * captured output to the blob store.
  *
  * Driver-side by design — the measured subprocess is inherently
  * local; only the parsed events enter Spark. The two-phase write
  * (attempt before outcome) preserves the reference's
  * status-from-absence semantics: a crash between the phases leaves a
  * pending attempt that Maintenance.reconcileOrphans later marks
  * orphaned.
  */
object Runner {
  final case class RunResult(
      invocationId: String,
      runSerial: Long,
      exitCode: Int,
      timedOut: Boolean,
      status: String, // OK | WARN | FAIL | TIMEOUT
      errors: Long,
      warnings: Long,
      durationMs: Long)
}

final class Runner(store: EventStore, blobs: BlobStore,
    sessionId: String = UUID.randomUUID().toString) {
  import Runner.RunResult

  private def now(): Timestamp = new Timestamp(System.currentTimeMillis())
  private def dateOf(ts: Timestamp) = new Date(ts.getTime)

  /** Live output directory for a running attempt (T2's tail target). */
  def liveDir(attemptId: String): Path = {
    val p = Paths.get(store.root, "live", attemptId)
    Files.createDirectories(p)
    p
  }

  /** Git/CI/env context for a run: the explicit override wins (tests,
    * synthetic fixtures), otherwise capture from the run's cwd — the
    * reference captures on EVERY run (record_cmd.py:99-100), so the
    * denormalized branch/commit/CI columns are never dead schema. */
  private def contextFor(cwd: Option[String],
      context: Option[ExecContext.Captured]): ExecContext.Captured =
    context.getOrElse(ExecContext.capture(cwd))

  def exec(command: Seq[String],
      tag: Option[String] = None,
      sourceName: Option[String] = None,
      formatHint: String = "auto",
      cwd: Option[String] = None,
      timeoutMs: Long = 600000L,
      context: Option[ExecContext.Captured] = None): RunResult = {
    val attemptId = UUID.randomUUID().toString
    val started = now()
    val cmdLine = command.mkString(" ")
    val hostname =
      try java.net.InetAddress.getLocalHost.getHostName catch { case _: Exception => "unknown" }
    val ctx = contextFor(cwd, context)

    // Phase 1: the attempt is visible BEFORE the outcome exists.
    store.appendAttempts(Seq(Attempt(
      id = attemptId, session_id = sessionId, timestamp = started,
      cwd = cwd, command = Some(cmdLine), executable = command.headOption,
      pid = None, format_hint = Some(formatHint), hostname = Some(hostname),
      username = sys.props.get("user.name"), tag = tag,
      source_name = sourceName, source_type = SourceType.Exec,
      git_commit = ctx.git.commit, git_branch = ctx.git.branch,
      git_dirty = ctx.git.dirty,
      environment = ctx.environment, ci = ctx.ci, date = dateOf(started))))

    // Run, streaming combined output to the live file.
    val live = liveDir(attemptId).resolve("output.log")
    val pb = new ProcessBuilder(command.asJava).redirectErrorStream(true)
    cwd.foreach(d => pb.directory(new java.io.File(d)))
    pb.redirectOutput(live.toFile)
    val t0 = System.nanoTime()
    val (exit, timedOut) =
      try {
        val proc = pb.start()
        if (proc.waitFor(timeoutMs, TimeUnit.MILLISECONDS)) (proc.exitValue(), false)
        else { proc.destroyForcibly(); proc.waitFor(); (-1, true) }
      } catch { case e: java.io.IOException => (127, false) }
    val durationMs = (System.nanoTime() - t0) / 1000000L
    val completed = now()
    val output =
      if (Files.exists(live)) new String(Files.readAllBytes(live), StandardCharsets.UTF_8)
      else ""

    // Phase 2: outcome + mirrored invocation + events + output blob, as
    // one logical write: views re-register once, after the invocation
    // row. Phase 1 above is a write of its own, so the pending attempt
    // is visible through the SQL surface while the command runs.
    store.asOneWrite {
      store.appendOutcomes(Seq(Outcome(
        attempt_id = attemptId, completed_at = completed,
        duration_ms = Some(durationMs), exit_code = Some(exit), signal = None,
        timeout = timedOut, date = dateOf(completed))))

      val serial = store.nextRunSerial()
      val inv = Invocation(
        id = attemptId, run_serial = serial, session_id = sessionId,
        source_name = sourceName, source_type = SourceType.Exec, tag = tag,
        command = Some(cmdLine), cwd = cwd, executable_path = command.headOption,
        started_at = started, duration_ms = Some(durationMs),
        exit_code = Some(exit), hostname = Some(hostname),
        platform = Some(sys.props.getOrElse("os.name", "unknown")),
        arch = Some(sys.props.getOrElse("os.arch", "unknown")),
        git_commit = ctx.git.commit, git_branch = ctx.git.branch,
        git_dirty = ctx.git.dirty,
        environment = ctx.environment, ci = ctx.ci, metadata = None,
        date = dateOf(started))

      val hint =
        if (formatHint != "auto") formatHint
        else FormatRegistry.detectFormatFromCommand(cmdLine)
      val parsed = FormatRegistry.parse(output, hint)
      // Same commit order as the import paths: events and output land
      // BEFORE the invocation row, so a crash mid-write leaves dangling
      // (joined-away) events, never a committed run claiming zero events.
      // The attempt/outcome lifecycle rows above are unaffected — status-
      // from-absence semantics come from those, not from invocations.
      writeEvents(attemptId, started, parsed)
      writeOutput(attemptId, started, output)
      store.appendRun(inv, Seq.empty)

      val errors = parsed.count(_.severity == Severity.Error).toLong
      val warnings = parsed.count(_.severity == Severity.Warning).toLong
      val status =
        if (timedOut) "TIMEOUT"
        else if (exit != 0 || errors > 0) "FAIL"
        else if (warnings > 0) "WARN"
        else "OK"
      RunResult(attemptId, serial, exit, timedOut, status, errors, warnings, durationMs)
    }
  }

  /** Import existing content as a completed run without a subprocess
    * (S7: file import / stdin capture; execution.py:1562-1628). */
  def importContent(content: String, format: String = "auto",
      tag: Option[String] = None, sourceName: Option[String] = None,
      sourceType: String = SourceType.Import,
      context: Option[ExecContext.Captured] = None): RunResult = {
    val id = UUID.randomUUID().toString
    val started = now()
    val ctx = contextFor(None, context)
    val parsed = FormatRegistry.parse(content, format)
    val serial = store.nextRunSerial()
    val errors = parsed.count(_.severity == Severity.Error).toLong
    val warnings = parsed.count(_.severity == Severity.Warning).toLong
    // Events and output land BEFORE the invocation row: a crash
    // mid-import leaves dangling (joined-away) event rows, never a
    // committed run that claims zero events. The synthetic exit code
    // mirrors the tally-derived status instead of an unconditional 0.
    store.asOneWrite {
      writeEvents(id, started, parsed)
      writeOutput(id, started, content)
      store.appendRun(Invocation(
        id = id, run_serial = serial, session_id = sessionId,
        source_name = sourceName, source_type = sourceType, tag = tag,
        command = None, cwd = None, executable_path = None,
        started_at = started, duration_ms = None,
        exit_code = Some(if (errors > 0) 1 else 0),
        hostname = None, platform = None, arch = None,
        git_commit = ctx.git.commit, git_branch = ctx.git.branch,
        git_dirty = ctx.git.dirty,
        environment = ctx.environment, ci = ctx.ci, metadata = None,
        date = dateOf(started)), Seq.empty)
    }
    val status =
      if (errors > 0) "FAIL" else if (warnings > 0) "WARN" else "OK"
    RunResult(id, serial, if (errors > 0) 1 else 0, timedOut = false,
      status, errors, warnings, 0L)
  }

  /** Distributed bulk ingest (S4 at scale): a directory/glob of log
    * files parsed and appended in ONE Spark job — wholetext scan (one
    * task per file) → executor-side parse → fingerprint → aligned
    * append. Nothing but the error/warning tallies ever reaches the
    * driver; contrast [[importContent]], which is the right tool for a
    * single captured blob. The batch is one invocation (source_type
    * "import", command = the glob); each event keeps its origin file in
    * metadata JSON (`{"log_file": …}`), queryable via json_extract.
    *
    * At 100 TB of logs this shape is embarrassingly parallel: no
    * shuffle anywhere — the only synchronization is the final count. */
  def importDirectory(pathGlob: String, format: String = "auto",
      tag: Option[String] = None,
      context: Option[ExecContext.Captured] = None): RunResult = {
    val id = UUID.randomUUID().toString
    val started = now()
    val ctx = contextFor(None, context)
    val serial = store.nextRunSerial()
    val parsed = graft.parse.LogSource.readLogFiles(store.spark, pathGlob, format)
      .withColumn("id", expr("uuid()"))
      .withColumn("invocation_id", lit(id))
      .withColumn("timestamp", lit(started))
      .withColumn("context", lit(null).cast("string"))
      .withColumn("metadata", to_json(struct(col("log_file"))))
      .withColumn("date", lit(dateOf(started)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // The tally fills the persisted frame the event write then
      // reads. Same commit order as importContent: events first,
      // invocation row last — a crash mid-ingest leaves dangling
      // events, never a committed run row claiming a clean zero-event
      // import.
      val tallies = parsed.agg(
        count(when(col("severity") === Severity.Error, 1)).as("e"),
        count(when(col("severity") === Severity.Warning, 1)).as("w"))
        .head()
      val (errors, warnings) = (tallies.getLong(0), tallies.getLong(1))
      store.asOneWrite {
        store.appendEvents(parsed)
        store.appendRun(Invocation(
          id = id, run_serial = serial, session_id = sessionId,
          source_name = Some(pathGlob), source_type = SourceType.Import, tag = tag,
          command = Some(s"import $pathGlob"), cwd = None, executable_path = None,
          started_at = started, duration_ms = None,
          exit_code = Some(if (errors > 0) 1 else 0),
          hostname = None, platform = None, arch = None,
          git_commit = ctx.git.commit, git_branch = ctx.git.branch,
          git_dirty = ctx.git.dirty,
          environment = ctx.environment, ci = ctx.ci, metadata = None,
          date = dateOf(started)), Seq.empty)
      }
      val status =
        if (errors > 0) "FAIL" else if (warnings > 0) "WARN" else "OK"
      RunResult(id, serial, if (errors > 0) 1 else 0, timedOut = false,
        status, errors, warnings,
        System.currentTimeMillis() - started.getTime)
    } finally parsed.unpersist()
  }

  /** Store captured output: blob/inline via the content-addressed
    * store + the metadata row in the outputs table (the join target
    * for blob orphan reconciliation, J7). */
  private def writeOutput(invocationId: String, started: Timestamp,
      content: String): Unit = {
    val bytes = content.getBytes(StandardCharsets.UTF_8)
    val (storageType, storageRef, hash) = blobs.store(bytes)
    store.appendOutputs(Seq(graft.model.Output(
      id = UUID.randomUUID().toString, invocation_id = invocationId,
      stream = "combined", content_hash = Some(hash),
      byte_length = bytes.length.toLong, storage_type = storageType,
      storage_ref = storageRef, content_type = Some("text/plain"),
      date = dateOf(started))))
  }

  /** Shared phase-2 event write: parsed events → fingerprinted rows. */
  private def writeEvents(invocationId: String, started: Timestamp,
      parsed: Seq[graft.parse.ParsedEvent]): Unit =
    if (parsed.nonEmpty) {
      val spark = store.spark
      import spark.implicits._
      val df = parsed.toDS().toDF()
        .withColumn("id", expr("uuid()"))
        .withColumn("invocation_id", lit(invocationId))
        .withColumn("timestamp", lit(started))
        .withColumn("fingerprint",
          when(col("severity").isin("error", "warning", "test_fail"),
            BlqFunctions.fingerprint(col("tool_name"), col("category"),
              col("code"), col("ref_file"), col("message"))))
        .withColumn("context", lit(null).cast("string"))
        .withColumn("metadata", lit(null).cast("string"))
        .withColumn("date", lit(dateOf(started)))
      store.appendEvents(df)
    }
}
