package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.exec.{ExecContext, Runner}
import graft.store.{BlobStore, EventStore, Maintenance}
import graft.views.Views

/** EventStore reads infer each table's schema once per file set, and a
  * logical write re-registers the SQL views once: an import into an
  * existing store runs no schema-inference job, yet every table's read
  * schema still equals a fresh mergeSchema inference whenever the files
  * change — through the store's own appends, a file written outside
  * the store, or compaction. */
class StoreSchemaSpec extends SparkSpec {

  private val gccLog =
    "src/a.c:1:1: error: boom\nsrc/a.c:2:1: warning: unused variable x\n"

  private val ctx = Some(ExecContext.Captured(ExecContext.GitContext.empty, None, None))
  private val cmd = Seq("sh", "-c", s"printf '${gccLog.replace("\n", "\\n")}'; exit 1")

  private def mkStore(tag: String): (EventStore, Runner) = {
    val root = Files.createTempDirectory(s"store_schema_$tag").toString
    val store = new EventStore(spark, root)
    Views.registerAll(store)
    (store, new Runner(store, new BlobStore(s"$root/blobs")))
  }

  /** Call-site details (one entry per job) of every job `body` runs,
    * told apart from other threads' jobs by a job group. A marker job
    * after `body` flushes the listener queue, which delivers events in
    * order. */
  private def jobDetails(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("store-schema-body") => seen.add(js.stageInfos.map(_.details).mkString("\n"))
          case Some("store-schema-marker") => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("store-schema-body", "measured body")
      body
      sc.setJobGroup("store-schema-marker", "listener flush")
      sc.parallelize(Seq(0), 1).count()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener queue did not flush")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    seen.asScala.toSeq
  }

  /** A job fired while a store read was building its DataFrame — the
    * mergeSchema footer scan. */
  private def isStoreRead(details: String): Boolean =
    details.contains("DataFrameReader") && details.contains("graft.store.EventStore")

  test("importContent into an existing store runs no job from a store read") {
    val (store, runner) = mkStore("jobs")
    runner.importContent(gccLog, "gcc_text", context = ctx)
    val jobs = jobDetails { runner.importContent(gccLog, "gcc_text", context = ctx); () }
    assert(jobs.exists(_.contains("DataFrameWriter")), "the import's writes must be seen")
    val reads = jobs.filter(isStoreRead)
    assert(reads.isEmpty, s"${reads.size} store-read jobs:\n${reads.mkString("\n---\n")}")
    // post-condition: once the write returns, the SQL surface sees it
    assert(spark.sql("SELECT count(*) FROM blq_runs").head().getLong(0) === 2L)
    assert(spark.sql("SELECT count(*) FROM events_raw").head().getLong(0) === 4L)
    assert(store.events.count() === 4L)
  }

  test("each logical write re-registers the views once") {
    val (store, runner) = mkStore("refresh")
    val refreshes = new java.util.concurrent.atomic.AtomicInteger(0)
    store.onAppendRefresh(() => { refreshes.incrementAndGet(); () })
    def count(body: => Unit): Int = { refreshes.set(0); body; refreshes.get }
    assert(count(runner.importContent(gccLog, "gcc_text", context = ctx)) === 1)
    val logDir = Files.createTempDirectory("store_schema_logs")
    Files.write(logDir.resolve("build.log"), gccLog.getBytes("UTF-8"))
    assert(count(runner.importDirectory(s"$logDir/*.log", "gcc_text", context = ctx)) === 1)
    // exec publishes the pending attempt, then the completed run
    assert(count(runner.exec(cmd, formatHint = "gcc_text", context = ctx)) === 2)
  }

  test("read schemas equal a fresh mergeSchema inference after own appends, " +
      "an external part file with an extra column, and compaction") {
    val (store, runner) = mkStore("equiv")
    val tables: Seq[(String, () => DataFrame)] = Seq(
      "attempts" -> (() => store.attempts), "outcomes" -> (() => store.outcomes),
      "invocations" -> (() => store.invocations), "events" -> (() => store.events),
      "outputs" -> (() => store.outputs))
    def assertFresh(when: String): Unit = tables.foreach { case (t, read) =>
      val fresh = spark.read.option("mergeSchema", "true")
        .parquet(s"${store.root}/$t").schema
      assert(read().schema === fresh, s"$t after $when")
    }
    runner.exec(cmd, formatHint = "gcc_text", context = ctx)
    runner.exec(cmd, formatHint = "gcc_text", context = ctx)
    runner.importContent(gccLog, "gcc_text", context = ctx)
    assertFresh("own appends")

    store.events.limit(1).withColumn("extra_note", lit("external"))
      .write.mode("append").partitionBy("date").parquet(s"${store.root}/events")
    assert(store.events.columns.contains("extra_note"))
    assertFresh("an external part file with an extra column")

    val compacted = new Maintenance(store).applyCompaction("events", minFiles = 2)
    assert(compacted.nonEmpty)
    assertFresh("compaction")
    assert(store.events.count() === 7L)
  }
}
