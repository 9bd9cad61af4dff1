package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.ml._
import graft.ml.CorpusPipeline.StageStat

/** The corpus ingest loop: `CorpusPipeline.ingestAndMaintain` with all
  * six stored-index legs plus the takedown drain (the configuration of
  * `graft.Bench`'s ingest screen). Set-up builds the indexes over the
  * first docs of the generated corpus minus a seeded held-out set; the measured
  * micro-batches bring held-out docs, exact and near copies of indexed
  * docs (new ids), and takedown requests for indexed docs. */
object CorpusLoop {
  val corpusDocs = 300
  val heldOut = 120
  val batchDocs = 8
  val copiesPerBatch = 2
  val takedownsPerBatch = 2

  final class Loop(val maint: CorpusPipeline.IndexMaintenance,
      val input: MemoryStream[(Long, String)],
      val evalIdx: Decontaminate.EvalIndex, val dirs: Seq[Path], val tables: Seq[String]) {
    val reqs = mutable.ArrayBuffer[(Long, Long)]()
    val accepted = mutable.Map[Long, Set[Long]]()
    val screenIn = mutable.Map[Long, Long]()
    val screenOut = mutable.Map[Long, Long]()
    val legOut = mutable.Map[Long, Seq[Long]]()
    val screenWall = mutable.Map[Long, Double]()
    val maintain = mutable.Map[Long, Double]()
    val forget = mutable.Map[Long, Double]()
    /** (batch id, stage, arrival time in epoch ms) of every StageStat callback. */
    val arrivals = mutable.ArrayBuffer[(Long, String, Double)]()
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the first `corpusDocs` docs of the generated corpus, and their vectors
    def docs = spark.read.parquet(ctx.tables.resolve("documents.parquet").toString)
      .filter(col("doc_id") < corpusDocs).select(col("doc_id"), col("text"))
    def vecs = spark.read.parquet(ctx.tables.resolve("embeddings.parquet").toString)
      .filter(col("vec_id") < corpusDocs)
    val texts = docs.as[(Long, String)].collect().toMap
    require(texts.size == corpusDocs, s"${texts.size} generated docs below id $corpusDocs")
    val r = new Random(ctx.seed)
    // held-out ids all have embeddings, so the IVF leg appends real vectors
    val held = r.shuffle((1 until corpusDocs).toVector).take(heldOut).sorted
    val heldSet = held.toSet
    val indexed = (0 until corpusDocs).map(_.toLong).filterNot(i => heldSet(i.toInt)).toVector

    val (loop, setupSecs) = ctx.setup {
      val vs = vecs.localCheckpoint()
      val base = docs.filter(!col("doc_id").isin(held.map(_.toLong): _*)).localCheckpoint()
      val embedFn: DataFrame => DataFrame =
        d => vs.join(d.select(col("doc_id").as("vec_id")), Seq("vec_id"))
      val t = (n: String) => s"pb_$n"
      val lexDir = ctx.work.resolve("corpus/lex")
      val ngDir = ctx.work.resolve("corpus/ngram")
      val stateDir = ctx.work.resolve("corpus/forget")
      BandIndex.write(base, t("band"), n = 3, k = 12, bands = 4, buckets = 4)
      LexIndex.build(base, lexDir.toString)
      IvfIndex.write(embedFn(base), t("ivf"), cells = 8, iters = 0, buckets = 4)
      SigIndex.write(sigFn(base), "id", "sig", t("sig"), bands = 8, buckets = 4)
      NgramIndex.build(base, ngDir.toString, n = 4, dfMax = 64)
      FuzzyJoin.FuzzyIndex.write(keyFn(base), t("fuzzy"), "doc_id", "s", col("blk"))
      val evalIdx = Decontaminate.indexEval(docs.filter(col("doc_id") === 0L), n = 3,
        expectedGrams = 1000)
      val input = MemoryStream[(Long, String)]
      lazy val loop: Loop = new Loop(CorpusPipeline.IndexMaintenance(t("band"), n = 3, k = 12,
        bands = 4, threshold = 0.3, lexIndexDir = Some(lexDir.toString),
        ivfTable = Some(t("ivf")), embed = embedFn, compactAtFilesPerBucket = 1000.0,
        sigIndex = Some(CorpusPipeline.SigMaintenance(t("sig"), sigFn, maxDist = 2, bands = 8)),
        ngramIndex = Some(CorpusPipeline.NgramMaintenance(ngDir.toString, threshold = 0.6, dfCap = 50)),
        fuzzyIndex = Some(CorpusPipeline.FuzzyMaintenance(t("fuzzy"), keyFn, maxDist = 8)),
        forgetFeed = Some(CorpusPipeline.ForgetCadence(
          requests = s => loop.reqs.synchronized { loop.reqs.toSeq.toDF("req_id", "doc_id") },
          stateDir = stateDir.toString))),
        input, evalIdx, Seq(lexDir, ngDir), Seq("band", "ivf", "sig", "fuzzy").map(t))
      loop
    }

    val q = CorpusPipeline.ingestAndMaintain(loop.input.toDF().toDF("doc_id", "text"),
      minQuality = 0.0, loop.maint, loop.evalIdx, evalN = 3,
      onMaintain = (bid, st) => loop.synchronized {
        loop.arrivals += ((bid, st.stage, Clock.ms()))
        if (st.stage.startsWith("screenSlot")) {
          loop.screenWall(bid) = st.secs
          loop.screenIn(bid) = st.docsIn
          loop.screenOut(bid) = st.docsOut
        }
        else if (st.stage.startsWith("forgetFeed")) loop.forget(bid) = st.secs
        else if (!loop.maintain.contains(bid)) loop.maintain(bid) = st.secs
      }) { (bid, acc, stats: Vector[StageStat]) =>
      // the caller's store write: land the accepted ids
      val ids = acc.select(col("doc_id")).as[Long].collect().toSet
      loop.synchronized {
        loop.arrivals ++= stats.map(s => (bid, s.stage, Clock.ms()))
        loop.accepted(bid) = ids
        loop.legOut(bid) = stats.map(_.docsOut)
      }
    }

    var nextHeld = 0
    var nextId = corpusDocs.toLong
    var nextReq = 1L
    val takenDown = mutable.LinkedHashSet[Long]()
    val exactCopies = mutable.Set[Long]()
    val offered = mutable.Map[Long, Set[Long]]()
    val pick = new Random(ctx.seed * 31 + 7)
    /** Offers one micro-batch and waits until the loop has processed it. */
    def batch(b: Int, cls: String): Unit = {
      val rows = mutable.ArrayBuffer[(Long, String)]()
      held.slice(nextHeld, nextHeld + batchDocs).foreach(i => rows += ((i.toLong, texts(i.toLong))))
      nextHeld += batchDocs
      // copies of live docs only: a copy of taken-down content is new to
      // every index, so its drop would not be owed
      val live = indexed.filterNot(takenDown)
      for (_ <- 0 until copiesPerBatch) {
        val src = live(pick.nextInt(live.size))
        val words = texts(src).split(" ").toVector
        val exact = pick.nextBoolean()
        val text = if (exact) texts(src)
          else words.patch(pick.nextInt(words.size), Seq(words(pick.nextInt(words.size))), 1).mkString(" ")
        if (exact) exactCopies += nextId
        rows += ((nextId, text)); nextId += 1
      }
      loop.reqs.synchronized {
        for (_ <- 0 until takedownsPerBatch) {
          val id = indexed(pick.nextInt(indexed.size))
          takenDown += id
          loop.reqs += ((nextReq, id)); nextReq += 1
        }
      }
      val before = loop.synchronized(loop.accepted.keySet.toSet)
      ctx.op(cls, s"batch $b", s"batch-$b") {
        loop.input.addData(rows.toSeq: _*)
        q.processAllAvailable()
        loop.synchronized(loop.accepted.keySet.toSet) -- before
      } { bids =>
        if (bids.size == 1) None else Some(s"offered rows landed in batches $bids")
      }.foreach(bids => offered(bids.head) = rows.map(_._1).toSet)
    }

    val secs = try {
      val s = ctx.measure()(b => batch(b, "batch"))
      require(nextHeld <= held.size, s"held-out set exhausted after ${nextHeld / batchDocs} batches")
      s
    } finally q.stop()

    // output checks
    offered.toSeq.sortBy(_._1).foreach { case (bid, ids) =>
      ctx.ops.check(s"batch $bid accounting") {
        val acc = loop.accepted.getOrElse(bid, Set.empty)
        val in = loop.screenIn.get(bid)
        val out = loop.screenOut.get(bid)
        if (!acc.subsetOf(ids)) Some(s"accepted ids outside the batch: ${(acc -- ids).take(5)}")
        else if (!in.contains(ids.size.toLong)) Some(s"screen saw $in docs, offered ${ids.size}")
        else if (!out.contains(acc.size.toLong)) Some(s"screen passed $out, landed ${acc.size}")
        else if (loop.legOut.getOrElse(bid, Nil).exists(_ < acc.size))
          Some(s"a screen stage passed fewer docs than were accepted: ${loop.legOut(bid)}")
        else acc.intersect(exactCopies).headOption.map(c => s"exact copy $c accepted")
      }
    }
    ctx.ops.check("takedown drain") {
      val stones = loop.tables.map(t => t -> spark.table(s"${t}_tombstones")) ++
        loop.dirs.map(d => d.getFileName.toString -> spark.read.parquet(d.resolve("tombstones").toString))
      val live = stones.flatMap { case (name, df) =>
        val gone = df.select(col(df.columns.head).cast("long")).as[Long].collect().toSet
        (takenDown -- gone).headOption.map(id => s"$id live in $name index")
      }
      live.headOption
    }

    val bids = offered.keys.toSeq.sorted
    val nOffered = bids.map(offered(_).size).sum
    val nAccepted = bids.map(b => loop.accepted.getOrElse(b, Set.empty).size).sum
    val indexFiles = (loop.dirs ++ loop.tables.map(t => ctx.work.resolve("warehouse").resolve(t)))
      .filter(Files.exists(_)).flatMap(d => Files.walk(d).toArray.map(_.asInstanceOf[Path]))
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
    val layers = mutable.Map[String, Double](
      "corpus.docs_per_s" -> nOffered / secs,
      "corpus.index_bytes_per_doc" ->
        indexFiles.map(Files.size).sum.toDouble / (indexed.size + nAccepted),
      "ml.drop_share" -> (nOffered - nAccepted).toDouble / math.max(1, nOffered),
      "ml.index_files" -> indexFiles.size.toDouble)
    val spans = ctx.spansNamed("batch")
    def med(m: mutable.Map[Long, Double]): Double =
      if (bids.exists(m.contains)) Stats.median(bids.flatMap(m.get)) else 0.0
    layers ++= Map("ml.screen_wall_s" -> med(loop.screenWall), "ml.maintain_s" -> med(loop.maintain),
      "ml.forget_s" -> med(loop.forget))
    if (ctx.traced && spans.nonEmpty) {
      val overhead = spans.zip(bids).map { case (s, b) =>
        s.secs - loop.screenWall.getOrElse(b, 0.0) - loop.maintain.getOrElse(b, 0.0) -
          loop.forget.getOrElse(b, 0.0)
      }
      layers("streaming.batch_overhead_s") = Stats.median(overhead)
      val js = ctx.jobsUnder(Set("batch"))
      Layers.mlFiles.foreach { f =>
        val mine = js.filter(j => touches(j, loop) == f)
        layers(s"ml.$f.jobs") = mine.size.toDouble / spans.size
        layers(s"ml.$f.job_s") = mine.map(_.secs).sum / spans.size
      }
    }
    Outcome(setupSecs, secs, Set("batch"), layers.toMap, Seq(
      "batches" -> bids.size, "offered" -> nOffered, "accepted" -> nAccepted,
      "taken_down" -> takenDown.size,
      "stage_arrivals" -> loop.arrivals.map { case (b, s, t) => Seq(b, s, t) }))
  }

  /** The program module whose stored index a job's plan reads or writes
    * (the streaming engine labels every job of a micro-batch with the
    * query's start call site, so call sites cannot tell the legs apart).
    * Jobs touching no index belong to the pipeline itself. */
  private def touches(j: JobRec, loop: Loop): String = {
    val p = j.plan
    def table(n: String) = s"""pb_$n(?:_keys|_centroids|_stats)?(?![_a-z])""".r.findFirstIn(p).isDefined
    if (table("band")) "BandIndex"
    else if (table("sig")) "SigIndex"
    else if (table("fuzzy")) "FuzzyJoin"
    else if (table("ivf")) "IvfIndex"
    else if (p.contains(loop.dirs(0).toString)) "LexIndex"
    else if (p.contains(loop.dirs(1).toString)) "NgramIndex"
    else if (p.contains("might_contain")) "Decontaminate"
    else if (p.contains("_tombstones")) "Tombstones"
    else "CorpusPipeline"
  }

  private val keyFn: DataFrame => DataFrame = d => d.select(col("doc_id"),
    concat_ws(" ", slice(split(col("text"), " "), 1, 2)).as("blk"),
    concat_ws(" ", slice(split(col("text"), " "), 1, 6)).as("s"))
  private val sigFn: DataFrame => DataFrame = d =>
    TextDedup.simhashSignatures(d).select(col("doc_id").as("id"), col("simhash").as("sig"))
}
