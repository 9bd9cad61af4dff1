package graft.store

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.model._

/** Append-only partitioned-Parquet storage — the Spark-native shape of
  * the reference's "legacy" parquet mode (SURVEY.md §1.1: `.bird/logs/`
  * with `date=…/source=…` hive partitions, schema.sql:4-13,
  * core.py:1926-2012), which we adopt as the PRIMARY store: at 100 TB a
  * single-writer DuckDB file is not an option, an append-only
  * partitioned table is.
  *
  * Layout:
  * {{{
  *   root/invocations/date=YYYY-MM-DD/…       (small dimension)
  *   root/events/date=YYYY-MM-DD/source_type=…/…  (big fact)
  *   root/attempts/date=…, root/outcomes/date=…   (lifecycle streams)
  * }}}
  *
  * Scale design:
  *  - zstd compression (reference writes zstd level 3, core.py:2008);
  *  - `date` (+ `source_type` for events) partition columns → partition
  *    pruning for every recency/source predicate;
  *  - `run_serial` is persisted at write time (single writer per store,
  *    like the reference's lock-guarded get_next_run_number) so no read
  *    path ever needs a global ROW_NUMBER window (§7.4 risk 1);
  *  - schema drift tolerated on read (= union_by_name=true,
  *    schema.sql:51): each table's schema is inferred with mergeSchema
  *    once per file set — its data files' (path, length, mtime) — and
  *    handed to every later read while that set is unchanged. The
  *    store's own appends carry the cached schema forward when it
  *    already covers the rows written; any other change to the files
  *    (an external writer, compaction, prune, a migration rewrite)
  *    re-infers on the next read.
  */
class EventStore(val spark: SparkSession, val root: String) {
  import spark.implicits._

  private def path(table: String) = s"$root/$table"

  // ---- invocation→date lookup (feeds the InvocationDatePruning rule:
  // arbitrary SQL filtering events on invocation_id gets the date
  // partition filter the write layout guarantees) -----------------------
  private val invDates = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Date (as ISO string) of an invocation id, from the invocations
    * dimension. Resolved PER ID (a filtered scan of the dimension),
    * cached, and seeded by the append path — never a full-dimension
    * collect: years of runs would otherwise be pulled into driver heap
    * during query optimization to serve a single point lookup. Unknown
    * ids → None (the rule then declines to prune — safe under
    * concurrent external writers). */
  def invocationDate(id: String): Option[String] =
    Option(invDates.get(id)).orElse {
      val fetched =
        if (!exists("invocations")) None
        else invocations.filter($"id" === id)
          .select($"date".cast("string")).limit(1)
          .collect().headOption.map(_.getString(0))
      fetched.foreach(invDates.put(id, _))
      fetched
    }

  // held as a field: the registry references it WEAKLY, so the source
  // must live exactly as long as the store that owns it
  private val dateSource: graft.plans.InvocationDatePruning.DateSource =
    new graft.plans.InvocationDatePruning.DateSource {
      def invocationDate(id: String): Option[String] =
        EventStore.this.invocationDate(id)
      def active: Boolean = !spark.sparkContext.isStopped
    }
  graft.plans.InvocationDatePruning.register(path("events"), dateSource)

  // Registered temp views (Views.registerAll) hold LogicalRelations
  // whose InMemoryFileIndex snapshots the file listing at creation —
  // refreshByPath only refreshes CACHED datasets, so without active
  // re-registration, rows appended AFTER registration are invisible
  // through spark.sql() while the Scala facade (fresh reads per call)
  // sees them. Views.registerAll installs itself here; every logical
  // write ([[asOneWrite]]) re-registers once with fresh listings.
  @volatile private var refreshHook: () => Unit = () => ()

  /** Install the post-write refresh (single slot, idempotent to
    * re-registration). */
  def onAppendRefresh(f: () => Unit): Unit = refreshHook = f

  private val writing: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  /** Run `body` — one or more appends — as one logical write: views are
    * re-registered once, when it returns or throws (rows a failed write
    * left on disk are visible to the Scala facade, so the SQL surface
    * sees them too). A call inside another joins the enclosing write.
    * Every append method is one logical write on its own. */
  def asOneWrite[A](body: => A): A =
    if (writing.get) body
    else {
      writing.set(true)
      val result =
        try body
        catch {
          case t: Throwable =>
            writing.set(false)
            try refreshHook()
            catch { case scala.util.control.NonFatal(e) => t.addSuppressed(e) }
            throw t
        }
      writing.set(false)
      refreshHook()
      result
    }

  /** Invalidate every table's file listing AND re-register views —
    * for DELETE-shaped maintenance (prune/clean): refreshByPath alone
    * only refreshes cached datasets, while registered temp views keep
    * their snapshot listings (see the refreshHook note above) and
    * would plan against deleted part files. */
  def refreshAllViews(): Unit = {
    for (t <- Seq("attempts", "outcomes", "invocations", "events", "outputs"))
      try spark.catalog.refreshByPath(path(t))
      catch { case scala.util.control.NonFatal(_) => }
    invDates.clear()
    refreshHook()
  }

  // ---- write path (S9/S10) -------------------------------------------

  /** Append `ds` to `table`, date-partitioned. When the cached schema
    * was current just before the write and already covers `ds`'s
    * fields, it is carried forward to the new file set — provided
    * every new file is this write's own (one write-job id): a file an
    * external writer slipped in meanwhile forces a fresh inference. */
  private def append[T](table: String, ds: Dataset[T]): Unit = {
    val current = Option(schemas.get(table))
      .filter(c => covers(c.schema, ds.schema) && c.files == dataFiles(table))
    ds.write.mode(SaveMode.Append)
      .option("compression", "zstd")
      .partitionBy("date")
      .parquet(path(table))
    current.foreach { c =>
      val after = dataFiles(table)
      val jobIds = (after.keySet -- c.files.keySet).map(EventStore.writeJobId)
      val ownWrite = c.files.forall { case (f, v) => after.get(f).contains(v) } &&
        jobIds.size <= 1 && !jobIds.contains(None)
      if (ownWrite) schemas.replace(table, c, c.copy(files = after))
    }
    try spark.catalog.refreshByPath(path(table))
    catch { case scala.util.control.NonFatal(_) => }
  }

  /** Every field of `written` is in `schema` with the same type. */
  private def covers(schema: StructType, written: StructType): Boolean =
    written.forall(f => schema.find(_.name == f.name)
      .exists(_.dataType.catalogString == f.dataType.catalogString))

  def appendAttempts(attempts: Seq[Attempt]): Unit =
    asOneWrite(append("attempts", attempts.toDS()))

  def appendOutcomes(outcomes: Seq[Outcome]): Unit =
    asOneWrite(append("outcomes", outcomes.toDS()))

  def appendOutputs(outputs: Seq[Output]): Unit =
    asOneWrite(append("outputs", outputs.toDS()))

  /** Write-side clustering for event files: sorted by (date, severity,
    * timestamp) within each task partition. The date prefix lets
    * FileFormatWriter skip its own partition-column sort; the
    * (severity, timestamp) suffix is the ART-index substitute SURVEY §4
    * names — each parquet row group carries tight min/max stats on the
    * two most-filtered columns (P6 severity IN-lists, P9 recency), so
    * a `severity = 'error'` scan skips clean row groups outright
    * instead of decoding them. A local per-partition sort: no shuffle,
    * negligible against parse+write cost at any batch size. */
  private def clusteredEvents(ds: Dataset[Event]): Dataset[Event] =
    ds.sortWithinPartitions(col("date"), col("severity"), col("timestamp"))

  /** Write one completed run: its parsed events, THEN its invocation
    * row — the same crash-consistency order as every Runner write path
    * (a crash mid-write leaves dangling, joined-away events, never a
    * committed run row claiming zero events). Caller assigns
    * run_serial via [[nextRunSerial]]. */
  def appendRun(inv: Invocation, events: Seq[Event]): Unit = asOneWrite {
    if (events.nonEmpty) append("events", clusteredEvents(events.toDS()))
    append("invocations", Seq(inv).toDS())
    invDates.put(inv.id, inv.date.toString)
  }

  /** Bulk event append for already-built DataFrames (import path).
    * Input is aligned to the canonical Event schema — missing columns
    * become typed nulls, present ones are cast — so an ad-hoc frame
    * (e.g. a VOID-typed null literal) can never poison the store's
    * parquet schema. */
  def appendEvents(df: DataFrame): Unit = {
    val schema = implicitly[org.apache.spark.sql.Encoder[Event]].schema
    val aligned = df.select(schema.fields.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*)
    asOneWrite(append("events", clusteredEvents(aligned.as[Event])))
  }

  /** Next run serial. Single-writer discipline (reference holds a DB
    * lock, bird.py:36-99; here one Spark driver owns a store root).
    * Reads only the tiny invocations dimension. */
  def nextRunSerial(): Long =
    if (!exists("invocations")) 1L
    else invocations.agg(max($"run_serial")).as[Option[Long]].first().getOrElse(0L) + 1L

  // ---- read path (S1/S3) ---------------------------------------------

  private def exists(table: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path(table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }

  // table → its schema and the data files it was inferred over
  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, EventStore.Inferred]()

  /** The table's data files — path → (length, mtime) — as Spark's file
    * index sees them: hidden names (`_SUCCESS`, `.crc`, `.prune_tmp_…`,
    * `_temporary`) are skipped. Empty when the table does not exist. */
  private def dataFiles(table: String): Map[String, (Long, Long)] = {
    val root = new org.apache.hadoop.fs.Path(path(table))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(dir: org.apache.hadoop.fs.Path): Iterator[(String, (Long, Long))] =
      fs.listStatus(dir).iterator.filterNot(s => EventStore.hidden(s.getPath.getName))
        .flatMap { s =>
          if (s.isDirectory) walk(s.getPath)
          else Iterator(s.getPath.toString -> ((s.getLen, s.getModificationTime)))
        }
    if (fs.exists(root)) walk(root).toMap else Map.empty
  }

  /** Read with the schema inferred for the current file set: the
    * mergeSchema inference (a Spark job over every footer) runs only
    * when the files changed since the last one. */
  private def read(table: String): DataFrame = {
    val files = dataFiles(table)
    Option(schemas.get(table)).filter(_.files == files) match {
      case Some(known) => spark.read.schema(known.schema).parquet(path(table))
      case None =>
        val df = spark.read.option("mergeSchema", "true").parquet(path(table))
        schemas.put(table, EventStore.Inferred(files, df.schema))
        df
    }
  }

  private def emptyDs[T: org.apache.spark.sql.Encoder]: DataFrame =
    spark.emptyDataset[T].toDF()

  def attempts: DataFrame =
    if (exists("attempts")) read("attempts") else emptyDs[Attempt]
  def outcomes: DataFrame =
    if (exists("outcomes")) read("outcomes") else emptyDs[Outcome]
  def invocations: DataFrame =
    if (exists("invocations")) read("invocations") else emptyDs[Invocation]
  def events: DataFrame =
    if (exists("events")) read("events") else emptyDs[Event]
  def outputs: DataFrame =
    if (exists("outputs")) read("outputs") else emptyDs[Output]

  /** Typed views (SURVEY §1.3: Dataset[T] where type safety helps). */
  def eventsTyped: Dataset[Event] = events.as[Event]
  def invocationsTyped: Dataset[Invocation] = invocations.as[Invocation]
  def attemptsTyped: Dataset[Attempt] = attempts.as[Attempt]
  def outcomesTyped: Dataset[Outcome] = outcomes.as[Outcome]

  /** Streaming view of the events table: each appended run's parquet
    * files surface as new micro-batch rows — the bridge from the
    * append-only store to incremental consumers (alerting, rollup
    * maintenance) without re-reading history. */
  def eventsStream: DataFrame = {
    val schema = implicitly[org.apache.spark.sql.Encoder[Event]].schema
    spark.readStream
      .schema(org.apache.spark.sql.types.StructType(
        schema.fields.filterNot(_.name == "date")))
      .option("maxFilesPerTrigger", "64")
      .parquet(path("events"))
  }

  // ---- maintenance (W3/T4 analogs) -----------------------------------

  /** Partitions older than `days` (prune-by-age; storage.py:624-714).
    * Returns the partition directories that a maintenance job would
    * delete — pruning is a partition-level operation, never row DELETEs
    * (plain parquet has no row deletes; SURVEY.md §7.4 risk 3). */
  def prunablePartitions(table: String, days: Int): Seq[String] = {
    val cutoff = java.time.LocalDate.now().minusDays(days.toLong)
    val p = new org.apache.hadoop.fs.Path(path(table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .map(_.getPath)
      .filter(_.getName.startsWith("date="))
      .filter { d =>
        java.time.LocalDate.parse(d.getName.stripPrefix("date=")).isBefore(cutoff)
      }
      .map(_.toString)
  }
}

object EventStore {
  /** A table's schema as inferred over its data files, path → (length,
    * mtime). */
  private final case class Inferred(files: Map[String, (Long, Long)], schema: StructType)

  /** Spark's hidden-path rule for file listings
    * (`HadoopFSUtils.shouldFilterOutPathName`). */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith("_common_metadata") && !name.startsWith("_metadata")

  private val PartFile = """part-\d+-([0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}).*""".r

  /** The write-job id Spark puts in a part file's name. */
  private def writeJobId(file: String): Option[String] =
    file.substring(file.lastIndexOf('/') + 1) match {
      case PartFile(id) => Some(id)
      case _ => None
    }
}
