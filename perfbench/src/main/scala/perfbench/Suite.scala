package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.util.Random
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{DataFrame, Row}
import graft.{Bench, SparkEntry}

/** The query suite: every `SparkEntry.queries` entry outside
  * `Bench.baselineQueries`, over the generated scale-0.1 tables, in
  * seeded order. A query is built, then fully materialized with the
  * `noop` sink. Set-up is the first pass: each query built and
  * collected cold, its row count and content hash checked against
  * `perfbench/expected/suite.tsv`; `setup_s` is the program's time in
  * it (build plus collect, without the harness's hashing). */
object Suite {
  def expectedFile(root: Path): Path = root.resolve("perfbench/expected/suite.tsv")

  /** Every suite query, in name order. */
  def all: Vector[String] =
    SparkEntry.queries.keys.filterNot(Bench.baselineQueries).toVector.sorted
  /** The measured sample: every `stride`-th query in name order, so a
    * run fits its time budget; the sample is fixed, only the order is
    * seeded. */
  val stride = 20
  def names: Vector[String] = all.indices.collect { case i if i % stride == 0 => all(i) }.toVector

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = ctx.tables.toString
    val order = new Random(ctx.seed).shuffle(names)
    val expected = readExpected(expectedFile(ctx.root))
    val got = mutable.ArrayBuffer[(String, Long, String)]()
    // PERFBENCH_RECORD=<file> checks and records every suite query, not
    // only the sample (how perfbench/expected/suite.tsv is made)
    val record = sys.env.get("PERFBENCH_RECORD")
    val coldSecs = mutable.LinkedHashMap[String, Double]()
    ctx.tracer.span("setup", "setup") {
      (if (record.isDefined) all else order).foreach { q =>
        ctx.ops.run("check", s"$q check") {
          val t0 = System.nanoTime()
          val rows = SparkEntry.queries(q)(spark, dir).collect()
          coldSecs(q) = (System.nanoTime() - t0) / 1e9
          digest(rows)
        } { case (rows, hash) =>
          got += ((q, rows, hash))
          expected.get(q) match {
            case None => Some("no expected row count/hash recorded")
            case Some((er, eh)) =>
              if (er != rows) Some(s"$rows rows, expected $er")
              else if (eh != hash) Some(s"content hash $hash, expected $eh")
              else None
          }
        }
      }
    }
    record.foreach { p =>
      Files.writeString(Path.of(p),
        got.sortBy(_._1).map { case (q, r, h) => s"$q\t$r\t$h\n" }.mkString)
    }
    spark.catalog.clearCache()

    val warmSecs = mutable.LinkedHashMap[String, Seq[Double]]()
    // two rounds: one execution of a query right after the cold pass
    // varies by up to 2x on a shared 4-core machine
    val secs = ctx.measure(minSteps = 2) { round =>
      order.foreach { q =>
        ctx.op("query", s"$q (round $round)", q) {
          val df = ctx.tracer.span("queries.build")(SparkEntry.queries(q)(spark, dir))
          ctx.tracer.span("queries.exec")(materialize(df))
        }().foreach(_ => warmSecs(q) = warmSecs.getOrElse(q, Nil) :+ ctx.ops.of("query").last)
      }
      spark.catalog.clearCache()
    }

    val layers = mutable.Map[String, Double]()
    if (ctx.traced) {
      val n = math.max(1, ctx.spansNamed("query").size).toDouble
      val perQuery = ctx.tracer.spans.filter(_.name == "query").groupBy(_.req)
        .map { case (_, ss) => Stats.median(ss.map(_.secs)) }
      layers ++= Map(
        "suite.total_s" -> perQuery.sum,
        "queries.build_s" -> ctx.spansNamed("queries.build").map(_.secs).sum / n,
        "queries.build_jobs" -> ctx.jobsUnder(Set("queries.build")).size / n,
        "queries.exec_s" -> ctx.spansNamed("queries.exec").map(_.secs).sum / n)
    }
    Outcome(coldSecs.values.sum, secs, Set("query"), layers.toMap,
      Seq("queries" -> order.size, "cold_s" -> Json.Obj(coldSecs.toSeq),
        "warm_s" -> Json.Obj(warmSecs.toSeq)))
  }

  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** (rows, order-independent content hash): the sum of 64-bit row
    * hashes, over a canonical text form of each row. */
  def digest(rows: Array[Row]): (Long, String) = {
    var h = 0L
    rows.foreach { r =>
      val s = render(r)
      h += (MurmurHash3.stringHash(s, 17).toLong << 32) ^
        (MurmurHash3.stringHash(s, 31).toLong & 0xffffffffL)
    }
    (rows.length.toLong, java.lang.Long.toHexString(h))
  }

  /** Canonical text of a value. Floating-point values keep 10
    * significant digits: sums after a shuffle depend on how the rows
    * were partitioned in their last bits. */
  private def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d == 0.0) "0" else "%.9e".formatLocal(java.util.Locale.ROOT, d)
    case f: Float => render(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("(", "\u0001", ")")
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", "\u0001", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted.mkString("{", "\u0001", "}")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case other => other.toString
  }

  private def readExpected(p: Path): Map[String, (Long, String)] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).toArray.map(_.toString).filter(_.nonEmpty).map { l =>
      val Array(q, r, h) = l.split("\t")
      q -> (r.toLong, h)
    }.toMap
}
