package graft

import org.apache.spark.sql.functions._
import graft.ml.{Multimodal, Similarity, TextAnalysis, TextDedup}

/** Unit specs for the training-data pipeline operators (graft.ml).
  * Synthetic micro-corpora with planted duplicates so recall properties
  * are assertable; differential correctness against DuckDB is covered
  * by the q30-q43 oracle queries. */
class MlSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toSeq.toDF("doc_id", "text")

  private val corpus = docs(
    1L -> "the quick brown fox jumps over the lazy dog near the river bank",
    2L -> "the quick brown fox jumps over the lazy dog near the river bend", // near-dup of 1
    3L -> "completely different words about spark catalyst optimizer internals here",
    4L -> "the quick brown fox jumps over the lazy dog near the river bank", // exact dup of 1
    5L -> "spark catalyst optimizer rewrites logical plans into physical plans")

  test("shingles: distinct word n-grams") {
    val sh = corpus.filter($"doc_id" === 3L)
      .select(TextDedup.shingles($"text", 3).as("sh"))
      .selectExpr("size(sh) as n").as[Int].head()
    assert(sh === 7) // 9 tokens -> 7 trigrams, all distinct
  }

  test("exact dedup groups full-content duplicates") {
    val groups = TextDedup.exactDuplicates(corpus, md5($"text"))
      .filter($"group_size" > 1).collect()
    assert(groups.length === 1)
    assert(groups.head.getAs[Long]("keep_id") === 1L)
    assert(groups.head.getAs[Seq[Long]]("members") === Seq(1L, 4L))
  }

  test("jaccard pairs find planted near-dup and exact dup") {
    val pairs = TextDedup.jaccardPairs(corpus, n = 3, threshold = 0.5, dfCap = 50)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // exact dup: jaccard 1.0
    assert(pairs.contains((1L, 2L))) // near dup: 10/12 shingles shared
    assert(pairs.contains((2L, 4L)))
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(3L) })
  }

  test("minhash-lsh finds high-jaccard pairs with verified scores") {
    val pairs = TextDedup.minhashLshPairs(corpus, n = 3, k = 12, bands = 4,
      threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val exact = pairs.find(p => p._1 == 1L && p._2 == 4L)
    assert(exact.exists(_._3 === 1.0)) // identical docs always bucket together
  }

  test("incremental minhash equals the new-touching subset of the full run") {
    // doc 4 (exact dup of 1) and doc 5 form the "new batch"; the full
    // run's pairs filtered to at-least-one-new must equal the
    // incremental run exactly — and corpus-only pairs (1,2) must NOT
    // appear even though they share buckets.
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_a", $"doc_b", $"jaccard")
        .as[(Long, Long, Double)].collect().toSet
    val full = asSet(TextDedup.minhashLshPairs(corpus, n = 3, k = 12,
      bands = 4, threshold = 0.3))
    val inc = asSet(TextDedup.minhashLshPairsIncremental(corpus,
      isNew = $"doc_id" >= 4L, n = 3, k = 12, bands = 4, threshold = 0.3))
    assert(inc === full.filter(p => p._1 >= 4L || p._2 >= 4L))
    assert(inc.contains((1L, 4L, 1.0))) // corpus↔new pair found
    assert(full.exists(p => p._1 == 1L && p._2 == 2L)) // corpus-only pair exists...
    assert(!inc.exists(p => p._1 == 1L && p._2 == 2L)) // ...and is excluded
    // minAgree pre-filter flows through identically
    val incAgree = asSet(TextDedup.minhashLshPairsIncremental(corpus,
      isNew = $"doc_id" >= 4L, n = 3, k = 12, bands = 4, threshold = 0.3,
      minAgree = 5))
    assert(incAgree.subsetOf(inc))
    assert(incAgree.contains((1L, 4L, 1.0))) // identical docs agree on all slots
  }

  test("incremental minhash: inline flag path equals the join path " +
      "and non-doc_id predicates take the fallback") {
    // r19 opt: a doc_id-only isNew evaluates inline on the band table
    // (no flag-attach join); forceJoinFlag replays the pre-r19 join
    // form — outputs must be identical.
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_a", $"doc_b", $"jaccard")
        .as[(Long, Long, Double)].collect().toSet
    val inline = asSet(TextDedup.minhashLshPairsIncremental(corpus,
      isNew = $"doc_id" >= 4L, n = 3, k = 12, bands = 4, threshold = 0.3,
      minAgree = 5))
    val joined = asSet(TextDedup.minhashLshPairsIncrementalImpl(corpus,
      isNew = $"doc_id" >= 4L, n = 3, k = 12, bands = 4, threshold = 0.3,
      minAgree = 5, forceJoinFlag = true))
    assert(inline === joined)
    assert(inline.contains((1L, 4L, 1.0)))
    // a predicate over a NON-doc_id column must route through the
    // join fallback (the inline form could not resolve it on the
    // band table) and still produce the correct pair set
    val flagged = corpus.withColumn("batch", $"doc_id" >= 4L)
    val viaOther = asSet(TextDedup.minhashLshPairsIncremental(flagged,
      isNew = $"batch", n = 3, k = 12, bands = 4, threshold = 0.3,
      minAgree = 5))
    assert(viaOther === inline)
    // r20 (r19 advice): a NON-DETERMINISTIC predicate — even one with
    // an empty reference set, which would pass the doc_id-refs check —
    // must take the join fallback, where it evaluates once per doc.
    // Inline it would run once per band row and a doc's bands could
    // disagree on is_new. The plan shows the path taken: the fallback
    // joins the flag onto the band table, one join more than inline.
    import org.apache.spark.sql.functions.rand
    def joins(isNew: org.apache.spark.sql.Column): Int =
      TextDedup.minhashLshPairsIncremental(corpus, isNew, n = 3, k = 12,
        bands = 4, threshold = 0.3, minAgree = 5).queryExecution.analyzed
        .collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
        .size
    val inlineJoins = joins($"doc_id" >= 0L)
    assert(joins(rand() >= 0) === inlineJoins + 1,
      "a non-deterministic isNew must take the join fallback")
  }

  test("simhash: identical docs share signature, near-dups are close") {
    val sigs = TextDedup.simhashSignatures(corpus)
      .as[(Long, String)].collect().toMap
    assert(sigs(1L) === sigs(4L))
    assert(sigs(1L).length === 32)
    def hamming(a: String, b: String) = a.zip(b).count(p => p._1 != p._2)
    assert(hamming(sigs(1L), sigs(2L)) < hamming(sigs(1L), sigs(3L)))
  }

  test("cosine near-dup: bucketed blocking agrees with exact on caught pairs") {
    val embs = Seq(
      (1L, Array(1.0f, 0.0f, 0.2f, 0.1f), 0),
      (2L, Array(0.9f, 0.05f, 0.25f, 0.1f), 0), // near-dup of 1
      (3L, Array(-1.0f, 0.5f, -0.2f, 0.3f), 1),
      (4L, Array(0.0f, 1.0f, 0.0f, 0.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val exact = Similarity.cosineNearDupPairs(embs, 0.95)
      .as[(Long, Long, Double)].collect().toSet
    assert(exact.map(p => (p._1, p._2)) === Set((1L, 2L)))
    val blocked = Similarity.cosineNearDupPairs(embs, 0.95, bucketBits = 2)
      .as[(Long, Long, Double)].collect().toSet
    assert(blocked === exact) // 1,2 share sign bucket "11"... "10": both caught
  }

  test("dsir: target-like docs weigh positive, off-target negative; weights shift-invariant") {
    // Target = lang 'en'. Docs sharing the target's bigrams must score
    // above docs made of source-only bigrams: ln p_t - ln p_s is
    // positive exactly for features overrepresented in the target.
    val d = Seq(
      (1L, "the cat sat on the mat", "en"),
      (2L, "the cat sat on the rug", "en"),
      (3L, "der hund lief durch den park", "de"),
      (4L, "the cat sat on the mat", "de"),  // target-like content, source label
      (5L, "el gato corre por la casa", "es"))
      .toDF("doc_id", "text", "lang")
    val w = graft.ml.Dsir.hashedBigramWeights(d, col("lang") === "en", buckets = 16)
      .as[(Long, Double, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(w.size === 5)
    // target-exclusive content scores positive and selected
    assert(w(2L)._1 > 0 && w(2L)._2 === 1L)
    // identical text ⇒ identical weight (pure function of features,
    // label plays no per-doc role)
    assert(w(1L)._1 === w(4L)._1)
    // target-overlapping content outranks off-target content, which
    // scores negative and unselected
    assert(w(1L)._1 > w(3L)._1 && w(1L)._1 > w(5L)._1)
    assert(w(3L)._1 < 0 && w(3L)._2 === 0L)
    assert(w(5L)._1 < 0 && w(5L)._2 === 0L)
  }

  test("semantic dedup: within-cell near-dup drops the centroid-farther member") {
    // cells = 2, first-k init → centroids are vecs 1 and 2's embeddings.
    // Vectors 1, 2, 5 land in cell 0's neighborhood: 5 is a high-cosine
    // copy of 1 but farther from the cell centroid, so 5 drops and 1
    // keeps; 3 and 4 have no same-cell near-dup and keep.
    val embs = Seq(
      (1L, Array(1.0f, 0.0f, 0.2f, 0.1f), 0),
      (2L, Array(-1.0f, 0.5f, -0.2f, 0.3f), 1),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f), 2),
      (4L, Array(-0.9f, 0.1f, 0.4f, -0.2f), 1),
      (5L, Array(0.98f, 0.01f, 0.21f, 0.1f), 0)) // near-copy of 1
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.semanticDedup(embs, cells = 2, threshold = 0.95)
      .as[(Long, Int, Long)].collect().sortBy(_._1).toSeq
    val keepOf = got.map(r => r._1 -> r._3).toMap
    assert(got.map(_._1) === Seq(1L, 2L, 3L, 4L, 5L)) // every vector decided
    assert(keepOf(1L) === 1L && keepOf(5L) === 0L)    // best copy kept
    assert(keepOf(2L) === 1L && keepOf(3L) === 1L && keepOf(4L) === 1L)
    // drop reasons are symmetric pairs: exactly one of a near-dup pair drops
    assert(got.count(_._3 === 0L) === 1)
  }

  test("brute-force topk ranks by cosine with deterministic ties") {
    val embs = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(0.0f, 1.0f), 1), (4L, Array(1.0f, 0.01f), 0))
      .toDF("vec_id", "embedding", "label")
    val p = Similarity.prepared(embs)
    val top = Similarity.bruteForceTopK(p.filter($"vec_id" === 1L), p, k = 2)
      .select($"cand_id", $"rank").as[(Long, Int)].collect().toSeq
    assert(top === Seq((4L, 1), (2L, 2))) // 4 is closest to 1, then 2
  }

  test("lang-id picks the profile with most marker hits") {
    val df = docs(
      1L -> "the cat and the dog of the house is to go",
      2L -> "der hund und die katze ist nicht hier und der baum")
    val out = df.select($"doc_id", TextAnalysis.langId($"text").as("l"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) === "en")
    assert(out(2L) === "de")
  }

  test("quality score rewards length, diversity, stopwords; punishes punct") {
    val df = docs(
      1L -> ("the data pipeline reads parquet files and writes curated shards " * 4),
      2L -> "x!!! ???? #### $$$$ %%%% x x x x x")
    val q = df.select($"doc_id", TextAnalysis.qualityScore($"text").as("q"))
      .as[(Long, Double)].collect().toMap
    assert(q(1L) > 0.7)
    assert(q(2L) < 0.4)
  }

  test("token counts: whitespace vs bpe-ish subwords") {
    val df = docs(1L -> "foo bar-baz 123 qux!")
    val r = df.select(
      TextAnalysis.wsTokenCount($"text").as("ws"),
      TextAnalysis.bpeishTokenCount($"text").as("bpe")).head()
    assert(r.getInt(0) === 4)
    assert(r.getInt(1) === 7) // foo, bar, -, baz, 123, qux, !
  }

  test("doc fingerprint is stable and collision-free on distinct docs") {
    val fp = TextAnalysis.docFingerprint(corpus, 3)
      .as[(Long, String, Long)].collect()
    val byDoc = fp.map(t => t._1 -> t._2).toMap
    assert(byDoc(1L) === byDoc(4L)) // same content, same fingerprint
    assert(byDoc(1L) !== byDoc(3L))
  }

  test("dedup clusters: components labeled by min id, keepers flagged") {
    val docs = (1L to 8L).toDF("doc_id")
    // components: {1,2,3} (chain), {5,6}, singletons 4,7,8
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val out = graft.ml.DedupClusters.assign(docs, pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L) === ((1L, true)))
    assert(out(2L) === ((1L, false)))
    assert(out(3L) === ((1L, false)))
    assert(out(4L) === ((4L, true))) // singleton keeps itself
    assert(out(5L) === ((5L, true)))
    assert(out(6L) === ((5L, false)))
  }

  test("short docs (< n tokens) shingle to whole text; jaccard sees them") {
    // Matches the oracle CTE's CASE fallback — a 2-token doc yields one
    // whole-text shingle instead of silently vanishing from the index.
    val df = docs(1L -> "tiny doc", 2L -> "tiny doc", 3L -> "something else entirely here")
    val sh = df.select($"doc_id", TextDedup.shingles($"text", 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sh(1L) === Seq("tiny doc"))
    val pairs = TextDedup.jaccardPairs(df, n = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(pairs.toSeq === Seq((1L, 2L, 1.0)))
  }

  test("posting-list jaccard variant matches the window form exactly") {
    val df = docs(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "the quick brown fox jumps over the lazy cat today",
      3L -> "completely different content about query engines here",
      4L -> "the quick brown fox jumps over the lazy dog today",
      5L -> "tiny doc")
    def norm(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2)).toSeq
    val a = norm(TextDedup.jaccardPairs(df, n = 3, threshold = 0.2, dfCap = 50))
    val b = norm(TextDedup.jaccardPairsPostings(df, n = 3, threshold = 0.2, dfCap = 50))
    assert(a === b)
    assert(a.nonEmpty)
    // int ids engage the packed-pair-key path; results must be
    // identical to the long-id struct path (including negative ids,
    // which exercise the sign-safe bitwise pack/unpack)
    val intDf = df.withColumn("doc_id",
      (col("doc_id") - 3).cast("int")) // ids -2..2: negatives included
    val c = TextDedup.jaccardPairsPostings(intDf, n = 3, threshold = 0.2, dfCap = 50)
      .as[(Int, Int, Double)].collect().sortBy(p => (p._1, p._2)).toSeq
    assert(c === a.map(p => ((p._1 - 3).toInt, (p._2 - 3).toInt, p._3))
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2), p._3))
      .sortBy(p => (p._1, p._2)))
  }

  test("prefix-filtered jaccard equals the postings form at every threshold — the filter may only cut CANDIDATES, never results") {
    // a corpus with graded similarity so different thresholds admit
    // different pair sets: exact dup, one-token edit, half overlap,
    // disjoint, plus shared boilerplate to give shingles varied df
    val df = docs(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "the quick brown fox jumps over the lazy dog today",
      3L -> "the quick brown fox jumps over the lazy cat today",
      4L -> "the quick brown fox sleeps under a warm sun today",
      5L -> "completely different content about query engines here",
      6L -> "the quick brown fox jumps over the lazy dog yesterday")
    def norm(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2)).toSeq
    var admitted = Set.empty[Int]
    for (t <- Seq(0.2, 0.5, 0.8, 1.0)) {
      val want = norm(TextDedup.jaccardPairsPostings(df, n = 3,
        threshold = t, dfCap = 50))
      val got = norm(TextDedup.jaccardPairsPrefixFilter(df, n = 3,
        threshold = t, dfCap = 50))
      assert(got === want, s"threshold $t")
      admitted += want.size
    }
    assert(admitted.size >= 2,
      s"fixture must differentiate thresholds, sizes seen: $admitted")
    // at t=1.0 only the exact-dup pair survives — the tightest prefix
    // (one element per set) must still find it
    val exact = norm(TextDedup.jaccardPairsPrefixFilter(df, n = 3,
      threshold = 1.0, dfCap = 50))
    assert(exact === Seq((1L, 2L, 1.0)))
    // dfCap semantics must match too: a tight cap changes the
    // rare-shingle subspace on BOTH paths identically
    val wantCap = norm(TextDedup.jaccardPairsPostings(df, n = 3,
      threshold = 0.3, dfCap = 2))
    val gotCap = norm(TextDedup.jaccardPairsPrefixFilter(df, n = 3,
      threshold = 0.3, dfCap = 2))
    assert(gotCap === wantCap)
  }

  test("containment catches short-doc-inside-long-doc that jaccard under-scores") {
    // doc 1 is a contiguous prefix of doc 2: every one of doc 1's
    // 4-grams appears in doc 2, so containment = 1.0 while jaccard is
    // diluted by doc 2's extra grams. doc 3 shares nothing.
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val tail = (1 to 40).map(i => s"w$i").mkString(" ")
    val df = docs(1L -> base, 2L -> s"$base $tail",
      3L -> "totally unrelated text about storage engines and shuffles")
    val cont = TextDedup.containmentPairsPostings(df, n = 4, threshold = 0.9)
      .select("doc_a", "doc_b", "shared", "containment", "n_a", "n_b")
      .as[(Long, Long, Long, Double, Long, Long)].collect().toSeq
    // 8 tokens -> 5 distinct 4-grams, all inside doc 2's 45
    assert(cont === Seq((1L, 2L, 5L, 1.0, 5L, 45L)))
    val jac = TextDedup.jaccardPairsPostings(df, n = 4, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(jac.isEmpty, s"jaccard should miss the containment pair: $jac")
    // below-threshold pair excluded: with threshold above 1.0 nothing passes
    assert(TextDedup.containmentPairsPostings(df, n = 4, threshold = 1.1).count() === 0)
  }

  test("containment dominates jaccard pairwise on a seeded random corpus") {
    // shared/min(|A|,|B|) >= shared/(|A|+|B|-shared) for every pair,
    // and at a near-zero threshold both measures see the identical
    // candidate set (same postings index) — so the jaccard pair set
    // is a subset and the per-pair inequality must hold everywhere.
    val rng = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val df = (1L to 40L).map(i =>
      (i, Vector.fill(4 + rng.nextInt(12))(vocab(rng.nextInt(8))).mkString(" ")))
      .toDF("doc_id", "text")
    val jac = TextDedup.jaccardPairsPostings(df, n = 3, threshold = 0.01)
      .as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    val cont = TextDedup.containmentPairsPostings(df, n = 3, threshold = 0.01)
      .select("doc_a", "doc_b", "containment")
      .as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(jac.nonEmpty)
    assert(jac.keySet.subsetOf(cont.keySet),
      s"jaccard pairs missing from containment: ${jac.keySet -- cont.keySet}")
    for ((k, j) <- jac)
      assert(cont(k) >= j - 1e-9, s"pair $k: containment ${cont(k)} < jaccard $j")
  }

  test("incremental containment equals the full variant restricted to new-touching pairs") {
    val rng = new scala.util.Random(13)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val df = (1L to 50L).map(i =>
      (i, Vector.fill(5 + rng.nextInt(10))(vocab(rng.nextInt(6))).mkString(" ")))
      .toDF("doc_id", "text")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4), r.getLong(5))
    val isNew = col("doc_id") > 35
    val full = TextDedup.containmentPairsPostings(df, n = 3, threshold = 0.2)
      .filter(col("doc_a") > 35 || col("doc_b") > 35)
      .collect().map(key).toSet
    val inc = TextDedup.containmentPairsIncremental(df, isNew, n = 3, threshold = 0.2)
      .collect().map(key).toSet
    assert(inc === full)
    assert(inc.nonEmpty)
    // corpus-only pairs never appear
    assert(inc.forall(p => p._1 > 35 || p._2 > 35))
  }

  test("incremental jaccard equals the full postings variant restricted to new-touching pairs (shared expansion with containment)") {
    val rng = new scala.util.Random(29)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val df = (1L to 50L).map(i =>
      (i, Vector.fill(5 + rng.nextInt(10))(vocab(rng.nextInt(6))).mkString(" ")))
      .toDF("doc_id", "text")
    val isNew = col("doc_id") > 35
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val full = TextDedup.jaccardPairsPostings(df, n = 3, threshold = 0.2)
      .filter(col("doc_a") > 35 || col("doc_b") > 35)
      .collect().map(key).toSet
    val postings = TextDedup.containmentPostings(df, isNew, n = 3, dfCap = 50)
    val inc = TextDedup.jaccardPairsIncrementalFromPostings(postings,
        threshold = 0.2)
      .collect().map(key).toSet
    assert(inc === full)
    assert(inc.nonEmpty)
    assert(inc.forall(p => p._1 > 35 || p._2 > 35))
  }

  test("sampled LSH recall probe: an all-docs sample reproduces the corpus-wide probe exactly") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"min_agree")
        .as[(Int, Long, Long, Double)].collect().toSeq
    val full = rows(TextDedup.lshRecallProbe(corpus, n = 3, k = 12,
      bands = 4, threshold = 0.3, agreePoints = Seq(5, 11)))
    val sampledAll = rows(TextDedup.lshRecallProbeSampled(corpus,
      isSample = lit(true), n = 3, k = 12, bands = 4, threshold = 0.3,
      agreePoints = Seq(5, 11)))
    assert(sampledAll === full)
    // a restrictive sample can only shrink the observed population
    val sampled = rows(TextDedup.lshRecallProbeSampled(corpus,
      isSample = $"doc_id" % 2 === 0, n = 3, k = 12, bands = 4,
      threshold = 0.3, agreePoints = Seq(5, 11)))
    assert(sampled.zip(full).forall { case (s, f) => s._2 <= f._2 })
  }

  test("leakage-safe split: cluster members always share a split; bucket arithmetic equals JVM md5; weights validated") {
    import graft.ml.DedupClusters
    val pairs = TextDedup.minhashLshPairs(corpus, n = 3, k = 12, bands = 4,
      threshold = 0.3)
    val labels = DedupClusters.assign(corpus.select($"doc_id"), pairs)
    val out = DedupClusters.leakageSafeSplit(labels,
        Seq(("train", 8000), ("validation", 1000), ("test", 1000)))
      .as[(Long, Long, Long, String)].collect()
    assert(out.length === corpus.count())
    // THE property: same cluster => same split (doc-granular q61
    // could straddle; cluster-granular cannot)
    assert(out.groupBy(_._2).values.forall(g => g.map(_._4).distinct.size == 1))
    // clusters exist in this fixture (1,2,4 near-dups) — the property
    // is exercised on a real multi-member group
    assert(out.groupBy(_._2).values.exists(_.size > 1))
    // bucket differential vs an independent JVM md5
    def jvmBucket(c: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(c.toString.getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 10000
    }
    assert(out.forall(r => r._3 === jvmBucket(r._2)))
    // thresholds: integer permyriads summing to 10000, enforced
    val e = intercept[IllegalArgumentException] {
      DedupClusters.leakageSafeSplit(labels, Seq(("train", 9000), ("test", 900)))
    }
    assert(e.getMessage.contains("10000"))
  }

  test("dedup clusters: long chain (diameter > 4) converges to one component") {
    // Regression for the fixed-round-count bug: a 13-node chain has
    // diameter 12; pointer doubling must still collapse it to a single
    // cluster labeled by the min id.
    val docs = (1L to 13L).toDF("doc_id")
    val pairs = (1L to 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // smallGraphEdgeBound = 0 forces the distributed loop — this test
    // exists to regression-guard the pointer-doubling round count
    val out = graft.ml.DedupClusters.assign(docs, pairs,
        smallGraphEdgeBound = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 13L).forall(out(_) === 1L), s"split clusters: $out")
  }

  test("dedup clusters: skewed giant component (hub graph) converges in few rounds") {
    // One hub-dominated component — the degree-skew shape of a crawl
    // where thousands of mirrors all near-dup the same original. The
    // hot hub key must be absorbed by map-side partial aggregation,
    // and pointer doubling must converge well under the cap (the full
    // 500k-node power-law run in SCALING.md measures 6 rounds).
    val n = 400L
    val docs = (0L until n).toDF("doc_id")
    // nodes 1..199 chain off the hub's neighbor 1; 200..399 attach
    // straight to hub 0 → one component, max degree ~200
    val pairs = ((1L until 200L).map(i => (i, i + 1)) ++
      (200L until n).map(i => (i, 0L)) :+ (0L, 1L)).toDF("doc_a", "doc_b")
    val a = graft.ml.DedupClusters.assignWithStats(docs, pairs,
      smallGraphEdgeBound = 0)
    assert(a.converged, "did not converge")
    assert(a.rounds <= 10, s"took ${a.rounds} rounds")
    val out = a.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until n).forall(out(_) === 0L), "split clusters")
  }

  test("dedup clusters: driver union-find fast path equals the distributed loop") {
    // Random multi-component graph incl. a chain, a hub, self-contained
    // triangles and isolated docs — labels must be IDENTICAL on both
    // paths (min doc id per component), rounds 0 on the fast path.
    val rng = new scala.util.Random(7)
    val n = 300L
    val docs = (0L until n).toDF("doc_id")
    val pairs = ((0L until 80L).map(i => (i, i + 1)) ++            // chain 0..80
      (100L until 140L).map(i => (i, 100L)) ++                     // hub
      Seq((150L, 151L), (151L, 152L), (152L, 150L)) ++             // triangle
      (0 until 60).map(_ => { val a = 160L + rng.nextInt(60)       // random
        val b = 160L + rng.nextInt(60); (a, b) }))                 // cluster soup
      .toDF("doc_a", "doc_b")
    val fast = graft.ml.DedupClusters.assignWithStats(docs, pairs)
    val dist = graft.ml.DedupClusters.assignWithStats(docs, pairs,
      smallGraphEdgeBound = 0)
    assert(fast.rounds === 0 && fast.converged)
    val f = fast.labels.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    val d = dist.labels.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    assert(f.sameElements(d), "fast path diverged from distributed labels")
  }

  test("dedup clusters: Long.MaxValue bound falls through to distributed, labels correct") {
    // r10 regression: an effectively-unbounded bound used to skip the
    // probe but still take the fast path over zero edges, silently
    // labeling every doc a singleton.
    val docs = (0L until 10L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("doc_a", "doc_b")
    val a = graft.ml.DedupClusters.assignWithStats(docs, pairs,
      smallGraphEdgeBound = Long.MaxValue)
    assert(a.rounds > 0, "expected the distributed path, not the fast path")
    assert(a.converged)
    val out = a.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(2L) === 0L && out(6L) === 5L && out(9L) === 9L)
  }

  test("dedup clusters: string doc ids take the distributed path with correct labels") {
    // r10 regression: string ids used to be cast-to-long (null) on the
    // fast path and NPE in the collect; now they must route distributed.
    val docs = Seq("a", "b", "c", "d").toDF("doc_id")
    val pairs = Seq(("a", "b"), ("b", "c")).toDF("doc_a", "doc_b")
    val out = graft.ml.DedupClusters.assign(docs, pairs).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
    assert(out("a") === (("a", true)))
    assert(out("c") === (("a", false)))
    assert(out("d") === (("d", true)))
  }

  test("multimodal: decode stub preserves batch shape and determinism") {
    val media = Multimodal.fakeMediaTable(
      corpus.withColumn("source", lit("srcA")).withColumnRenamed("doc_id", "doc_id"))
    val meta = Multimodal.decodeMeta(media).collect()
    assert(meta.length === 5)
    assert(meta.forall(m => m.width >= 64 && m.height >= 64))
    val again = Multimodal.decodeMeta(media).collect()
    assert(meta.map(_.width).toSeq === again.map(_.width).toSeq)
    // identical payloads (docs 1 and 4) decode identically
    val byId = meta.map(m => m.media_id -> m).toMap
    assert(byId(1L).width === byId(4L).width)
  }

  test("multimodal: real PNG/JPEG/GIF header bytes decode to true dimensions") {
    import Multimodal.{HeaderCodec, MediaRow}
    // real fixture bytes: actual encoders (javax.imageio ships with the
    // JVM), not hand-assembled headers
    def encoded(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, 0xff8040)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    val png = encoded("png", 1, 1)
    val jpg = encoded("jpg", 3, 2)
    val gif = encoded("gif", 5, 4)
    assert(HeaderCodec.imageHeader(png) === Some(("png", 1, 1)))
    assert(HeaderCodec.imageHeader(jpg) === Some(("jpeg", 3, 2)))
    assert(HeaderCodec.imageHeader(gif) === Some(("gif", 5, 4)))
    // lying envelope mime: the header wins
    val m = HeaderCodec.decode(MediaRow(7L, "application/octet-stream", jpg, "s"))
    assert(m.mime === "image/jpeg" && m.width === 3 && m.height === 2)
    assert(m.n_frames === 1 && m.duration_ms === 0L)
    // truncated payloads and garbage must fall back to the stub, never throw
    for (bad <- Seq(png.take(10), jpg.take(3), Array[Byte](),
        Array.fill(64)(0xff.toByte), "just text".getBytes("UTF-8"))) {
      val r = MediaRow(8L, "image/png", bad, "s")
      assert(HeaderCodec.imageHeader(bad).isEmpty)
      assert(HeaderCodec.decode(r) === Multimodal.DecodeStub.decode(r))
    }
    // and through the distributed decode stage: mixed real/opaque batch
    val rows = Seq(
      MediaRow(1L, "image/png", png, "s"),
      MediaRow(2L, "image/jpeg", jpg, "s"),
      MediaRow(3L, "application/octet-stream", "opaque".getBytes("UTF-8"), "s"))
    val meta = Multimodal.decodeMeta(spark.createDataset(rows)(
      org.apache.spark.sql.Encoders.product[MediaRow]))
      .collect().map(x => x.media_id -> x).toMap
    assert(meta(1L).width === 1 && meta(1L).height === 1)
    assert(meta(2L).width === 3 && meta(2L).height === 2)
    assert(meta(3L).width >= 64) // stub-derived
  }

  test("multimodal: pcmWav/windowEnergySums round trip — exact integer energies agree with the float envelope; non-mono/garbage refused") {
    import Multimodal.AudioCodec
    // deterministic samples with distinct per-window energy
    val n = 640
    val samples = Array.tabulate(n) { i =>
      val w = i * 8 / n
      if (w % 2 == 0) ((i * 7) % 61) - 30 else 0
    }
    val wav = AudioCodec.pcmWav(samples)
    // pcmWav writes a header the walk parses back verbatim
    val h = AudioCodec.wavHeader(wav).get
    assert(h.channels === 1 && h.bitsPerSample === 16 && h.frames === n.toLong)
    // exact integer energies equal the brute-force windowed sum of squares
    val got = AudioCodec.windowEnergySums(wav, 8).get
    val want = Array.tabulate(8) { w =>
      samples.zipWithIndex
        .filter { case (_, i) => i * 8 / n == w }
        .map { case (s, _) => s.toLong * s }.sum
    }
    assert(got.toSeq === want.toSeq)
    assert(got.zipWithIndex.forall { case (e, w) => (e > 0) == (w % 2 == 0) })
    // the float envelope is the peak-normalized sqrt of these —
    // proportionality differential (same windows hot, same order)
    val env = AudioCodec.energyEnvelope(wav, dim = 8).get
    val scaled = got.map(e => math.sqrt(e.toDouble / (n / 8)))
    val peak = scaled.max
    env.indices.foreach { w =>
      assert(math.abs(env(w) - scaled(w) / peak) < 1e-4,
        s"window $w: ${env(w)} vs ${scaled(w) / peak}")
    }
    // a JDK-encoder STEREO clip is refused (mono-only contract);
    // garbage never throws
    val fmt2 = new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, false)
    val pcm2 = new Array[Byte](400)
    val ais2 = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm2), fmt2, 100L)
    val bos2 = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais2,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos2)
    assert(AudioCodec.windowEnergySums(bos2.toByteArray, 8).isEmpty)
    assert(AudioCodec.windowEnergySums("not audio".getBytes("UTF-8"), 8).isEmpty)
    assert(AudioCodec.windowEnergySums(wav.take(50), 8).isEmpty)
  }

  test("multimodal: real WAV decode — header metadata and sample-level energy envelope") {
    import Multimodal.{AudioCodec, MediaRow}
    // real fixture: a 0.5 s 16-bit mono 8 kHz clip written by the JDK's
    // own WAV encoder — loud sine for the first half, silence after
    val rate = 8000
    val nSamples = rate / 2
    val pcm = new Array[Byte](nSamples * 2)
    for (i <- 0 until nSamples / 2) {
      val s = (math.sin(2 * math.Pi * 440 * i / rate) * 20000).toShort
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray

    // header walk recovers the true format fields and duration
    val h = AudioCodec.wavHeader(wav).get
    assert(h.channels === 1 && h.sampleRate === rate && h.bitsPerSample === 16)
    assert(h.frames === nSamples)
    assert(h.durationMs === 500L)
    // decode() integrates it as audio metadata (frames, duration)
    val meta = Multimodal.HeaderCodec.decode(MediaRow(1L, "application/octet-stream", wav, "s"))
    assert(meta.mime === "audio/wav" && meta.n_frames === nSamples &&
      meta.duration_ms === 500L)
    // REAL sample decode: the envelope hears the loud half and the
    // silent half, peak-normalized
    val env = AudioCodec.energyEnvelope(wav, dim = 8).get
    assert(env.length === 8)
    assert(env.take(4).forall(_ > 0.9f), env.toSeq) // sine half ≈ peak
    assert(env.drop(4).forall(_ < 0.01f), env.toSeq) // silent half ≈ 0
    // malformed/non-WAV payloads fall through, never throw
    assert(AudioCodec.wavHeader(wav.take(20)).isEmpty)
    assert(AudioCodec.wavHeader("RIFFgarbage".getBytes("UTF-8")).isEmpty)
    assert(AudioCodec.energyEnvelope("not audio".getBytes("UTF-8")).isEmpty)
    // and through the distributed stages: WAV rows get the real
    // envelope, others the stub vector — same batch shape
    val rows = Seq(
      MediaRow(1L, "audio/wav", wav, "s"),
      MediaRow(2L, "application/octet-stream", "opaque".getBytes("UTF-8"), "s"))
    val feats = Multimodal.extractFeatures(spark.createDataset(rows)(
        org.apache.spark.sql.Encoders.product[MediaRow]), dim = 8)
      .collect().map(f => f.media_id -> f.embedding).toMap
    assert(feats(1L).toSeq === env.toSeq)
    assert(feats(2L).toSeq === Multimodal.DecodeStub.features(rows(1), 8).embedding.toSeq)
  }

  test("multimodal: frame sampling explodes only multi-frame assets") {
    val media = Multimodal.fakeMediaTable(corpus.withColumn("source", lit("s")))
    val meta = Multimodal.decodeMeta(media)
    val frames = Multimodal.frameSamplePlan(meta, stride = 10)
    val ids = frames.select($"media_id").distinct().as[Long].collect().toSet
    val videos = meta.filter(_.n_frames > 1).collect().map(_.media_id).toSet
    assert(ids === videos)
  }

  test("multimodal: feature vectors feed similarity ops") {
    val media = Multimodal.fakeMediaTable(corpus.withColumn("source", lit("s")))
    val feats = Multimodal.extractFeatures(media, dim = 8).toDF()
      .withColumnRenamed("media_id", "vec_id").withColumn("label", lit(0))
    val pairs = Similarity.cosineNearDupPairs(feats, threshold = 0.999)
      .as[(Long, Long, Double)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 4L)) // identical payloads
  }

  test("perceptual hash: real PNG pixels, near-identical pair found, distinct pair not") {
    import Multimodal.{MediaRow, PerceptualHash}
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val v = f(x, y).max(0).min(255)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    def ham(a: String, b: String) = a.zip(b).count(p => p._1 != p._2)
    // base: gradient + bright square; near-copy: 5 scattered pixels
    // flipped (re-save noise); distinct: inverted layout
    val baseF = (x: Int, y: Int) =>
      if (x >= 8 && x < 24 && y >= 8 && y < 24) 230 else (x + y) * 3 / 2
    val base = png(baseF)
    val near = png((x, y) =>
      if ((x * 64 + y) % 823 == 0) 0 else baseF(x, y))
    val far = png((x, y) =>
      if (x >= 40 && x < 60 && y >= 36 && y < 60) 10 else 200 - x)
    val Some((aBase, dBase)) = PerceptualHash.ofImage(base)
    val Some((aNear, dNear)) = PerceptualHash.ofImage(near)
    val Some((aFar, dFar)) = PerceptualHash.ofImage(far)
    assert(aBase.length === 64 && dBase.length === 64)
    assert(ham(aBase, aNear) <= 2, s"near aHash dist ${ham(aBase, aNear)}")
    assert(ham(dBase, dNear) <= 2, s"near dHash dist ${ham(dBase, dNear)}")
    assert(ham(aBase, aFar) > 10, s"far aHash dist ${ham(aBase, aFar)}")
    assert(ham(dBase, dFar) > 10, s"far dHash dist ${ham(dBase, dFar)}")
    // PNG is lossless: a byte-identical re-decode hashes identically
    assert(PerceptualHash.ofImage(base.clone()) === Some((aBase, dBase)))
    // JPEG RE-ENCODE of the same picture stays within a few bits —
    // the actual perceptual-dedup claim (different bytes, same image)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(base))
    val jout = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", jout)
    val Some((aJpg, dJpg)) = PerceptualHash.ofImage(jout.toByteArray)
    assert(!java.util.Arrays.equals(jout.toByteArray, base))
    assert(ham(aBase, aJpg) <= 6, s"jpeg aHash dist ${ham(aBase, aJpg)}")
    assert(ham(dBase, dJpg) <= 6, s"jpeg dHash dist ${ham(dBase, dJpg)}")
    // undecodable payloads are None, never a throw
    assert(PerceptualHash.ofImage("not an image at all".getBytes("UTF-8")).isEmpty)
    assert(PerceptualHash.ofImage(base.take(30)).isEmpty)

    // distributed: signatures drop undecodables; banded pair join +
    // codegen bit_hamming finds exactly the planted near pair
    val rows = Seq(
      MediaRow(1L, "image/png", base, "s"),
      MediaRow(2L, "image/png", near, "s"),
      MediaRow(3L, "image/png", far, "s"),
      MediaRow(4L, "application/octet-stream", "opaque".getBytes("UTF-8"), "s"))
    val sigs = Multimodal.imageSignatures(spark.createDataset(rows)(
      org.apache.spark.sql.Encoders.product[MediaRow]))
    assert(sigs.collect().map(_.media_id).toSet === Set(1L, 2L, 3L))
    val pairs = Multimodal.hammingNearDupPairs(sigs.toDF(), "media_id", "ahash",
        maxDist = 6, bands = 8)
      .as[(Long, Long, Int)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) === Seq((1L, 2L)), pairs.toString)
    assert(pairs.head._3 === ham(aBase, aNear), "codegen hamming != JVM hamming")
    // pigeonhole precondition is enforced, not silently under-recalled
    intercept[IllegalArgumentException] {
      Multimodal.hammingNearDupPairs(sigs.toDF(), "media_id", "ahash",
        maxDist = 8, bands = 8)
    }
  }

  test("perceptual hash: JVM aHash bit rule == Column aHash bit rule on integer grids") {
    import Multimodal.PerceptualHash
    val rnd = new scala.util.Random(42)
    val grids = Seq.fill(25)(Array.fill(64)(rnd.nextInt(256).toLong)) :+
      Array.fill(64)(7L) :+ // all-equal grid: every bit is >= mean
      (Array.fill(63)(0L) :+ 64L) // one hot cell
    val jvm = grids.map(g => PerceptualHash.aHashBits(g.map(_.toDouble)))
    val colSide = grids.zipWithIndex
      .map { case (g, i) => (i, g.toSeq, g.sum) }
      .toDF("i", "grid", "total")
      .select($"i", Multimodal.aHashBitsCol($"grid", $"total").as("sig"))
      .orderBy($"i").as[(Int, String)].collect().map(_._2).toSeq
    assert(colSide === jvm,
      "Column-space aHash rule diverged from the JVM pixel-path rule")
  }

  test("span dedup: repeated passage excised, unique text kept") {
    // "alpha beta gamma delta epsilon" is a 5-gram planted in docs 1+2;
    // everything else is unique. dfMax=1 => exactly that span goes.
    val c = docs(
      1L -> "alpha beta gamma delta epsilon unique one tail words here",
      2L -> "prefix words alpha beta gamma delta epsilon other suffix text",
      3L -> "totally unrelated content with no repeated span at all")
    val out = graft.ml.SpanDedup.removeDuplicateSpans(c, k = 5, dfMax = 1)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L)._1 === 10 && out(1L)._2 === 5)
    assert(out(2L)._1 === 10 && out(2L)._2 === 5)
    assert(out(3L)._2 === 0)
    // cleaned text is the original minus the covered window, in order
    val h1 = c.sparkSession.range(1)
      .select(md5(lit("unique one tail words here"))).head().getString(0)
    assert(out(1L)._3 === h1)
    // doc 3 untouched: hash of its full text
    val h3 = c.sparkSession.range(1)
      .select(md5(lit("totally unrelated content with no repeated span at all")))
      .head().getString(0)
    assert(out(3L)._3 === h3)
  }

  test("span dedup: overlapping hot spans merge their coverage") {
    // docs 1+2 share a 6-token run => two overlapping hot 5-grams in
    // each; coverage must be the union (6 tokens), not double-counted.
    val c = docs(
      1L -> "a b c d e f unique1 unique2 unique3 unique4",
      2L -> "x0 a b c d e f other1 other2 other3")
    val out = graft.ml.SpanDedup.removeDuplicateSpans(c, k = 5, dfMax = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(1L) === 6)
    assert(out(2L) === 6)
  }

  test("span dedup: docs shorter than k pass through unchanged") {
    val c = docs(1L -> "tiny doc", 2L -> "tiny doc", 3L -> "one two three four")
    val out = graft.ml.SpanDedup.removeDuplicateSpans(c, k = 5, dfMax = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) === ((2L, 0L)) && out(2L) === ((2L, 0L)))
    assert(out(3L) === ((4L, 0L)))
  }

  test("wav header walk terminates on a lying chunk size (no executor hang)") {
    // RIFF/WAVE preamble + one chunk whose 32-bit size is 0xFFFFFFF8:
    // through toInt that is -8, and the pre-fix walk advanced i by
    // 8 + (-8) = 0 — a STATIONARY infinite loop inside decode.
    val b = new Array[Byte](64)
    "RIFF".getBytes.copyToArray(b, 0)
    "WAVE".getBytes.copyToArray(b, 8)
    "junk".getBytes.copyToArray(b, 12)
    b(16) = 0xF8.toByte; b(17) = 0xFF.toByte; b(18) = 0xFF.toByte; b(19) = 0xFF.toByte
    assert(Multimodal.AudioCodec.wavHeader(b) === None)
  }

  test("span dedup: randomized differential vs brute-force reference") {
    // 60 seeded-random docs over a 12-word vocab (every 5th a light
    // perturbation of its predecessor, so cross-doc shared grams are
    // guaranteed, plus natural collisions); SpanDedup must equal a
    // direct quadratic recomputation on every doc.
    val k = 4; val dfMax = 1
    val rng = new scala.util.Random(7)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh",
      "ii", "jj", "kk", "ll")
    val raw = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    for (id <- 0 until 60) {
      val text =
        if (id % 5 == 4 && raw.nonEmpty) {
          val prev = raw(id - 1)._2.split(" ")
          prev.map(t => if (rng.nextDouble() < 0.1) vocab(rng.nextInt(12)) else t)
            .mkString(" ")
        } else
          Vector.fill(2 + rng.nextInt(13))(vocab(rng.nextInt(12))).mkString(" ")
      raw += ((id.toLong, text))
    }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // brute force: positional grams, df over distinct docs, covered union
    val toksById = raw.map { case (id, t) => id -> t.split(" ").toVector }.toMap
    val grams = for {
      (id, tk) <- toksById.toSeq
      i <- 0 to tk.length - k
    } yield (id, i, tk.slice(i, i + k).mkString(" "))
    val hot = grams.groupBy(_._3).collect {
      case (g, xs) if xs.map(_._1).distinct.size > dfMax => g
    }.toSet
    val expected = toksById.map { case (id, tk) =>
      val covered = grams
        .filter(x => x._1 == id && hot(x._3))
        .flatMap(x => x._2 until x._2 + k).toSet
      val kept = tk.zipWithIndex.collect { case (t, i) if !covered(i) => t }
      id -> ((tk.size.toLong, (tk.size - kept.size).toLong, md5hex(kept.mkString(" "))))
    }
    val got = graft.ml.SpanDedup
      .removeDuplicateSpans(raw.toSeq.toDF("doc_id", "text"), k, dfMax)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got === expected)
    // the generator must have actually produced removals
    assert(expected.values.exists(_._2 > 0))
  }

  test("span dedup: within-doc repetition alone does not trigger removal") {
    // the same 5-gram twice in ONE doc stays (df counts DISTINCT docs)
    val c = docs(
      1L -> "r1 r2 r3 r4 r5 middle r1 r2 r3 r4 r5 end",
      2L -> "entirely different second document text here now")
    val out = graft.ml.SpanDedup.removeDuplicateSpans(c, k = 5, dfMax = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(1L) === 0)
    assert(out(2L) === 0)
  }
}
