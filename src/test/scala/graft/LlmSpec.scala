package graft

import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Multimodal, Similarity, TextStats}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
    (3L, "completely different content about spark distributed query engines and shuffles"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today") // exact dup of 1
  ).toDF("id", "text")

  test("exact dedup keeps smallest id per key") {
    val out = Dedup.exact(docs, Seq("text"), "id")
    assert(out.count() == 3)
    assert(out.filter($"text".contains("today")).select("id").as[Long].collect().toSet == Set(1L))
  }

  test("exactBest keeps the highest-quality copy per key, bounded by WindowGroupLimit") {
    val scored = Seq(
      (1L, "k1", 10L), (2L, "k1", 30L), (3L, "k1", 30L), // 2 wins: max quality, min id
      (4L, "k2", 5L)
    ).toDF("id", "key", "quality")
    val out = Dedup.exactBest(scored, Seq("key"), col("quality"), "id")
    assert(out.select("id").as[Long].collect().toSet == Set(2L, 4L))
    // the rank-1 filter must rewrite into WindowGroupLimit: each map
    // partition forwards one candidate per key before the shuffle — a
    // million-copy boilerplate key ships partitions, not the corpus
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
  }

  test("cdcDupStats: an edited copy keeps most chunks; fixed segments lose them all") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val edited = base.substring(0, 30) + " EDIT-MARK " + base.substring(30)
    val corpus = Seq((1L, base), (2L, edited),
      (3L, "entirely unrelated content with no overlap at all here")).toDF("id", "text")
    val cdc = Dedup.cdcDupStats(corpus, "id", "text", minLen = 8, maskBits = 4, maxLen = 64)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // both the original and the copy keep a majority of shared chunks
    assert(cdc.contains(1L) && cdc.contains(2L) && !cdc.contains(3L), s"got $cdc")
    assert(cdc(2L)._2 * 2 >= cdc(2L)._1, s"copy shares too few chunks: ${cdc(2L)}")
    // fixed 8-word segments shift past the inserted tokens: only the
    // windows wholly BEFORE the edit survive (here: the first one)
    val seg = Dedup.segmentDupStats(corpus, "id", "text", segWords = 8)
      .filter(col("id") === 2L).collect()
    val segShared = if (seg.isEmpty) 0L else seg.head.getLong(2)
    assert(segShared <= 1, s"fixed segments shared $segShared windows past an edit")
    assert(segShared < cdc(2L)._2,
      s"CDC (${cdc(2L)._2} shared) must beat fixed windows ($segShared) on edited copies")
  }

  test("segmentDupStats counts segments shared across documents") {
    // 4-word segments: doc 1 and doc 2 share their first 4-word segment
    // exactly; tails differ. doc 3 shares nothing.
    val d = Seq(
      (1L, "a b c d e f g h"),   // segs: "a b c d", "e f g h"
      (2L, "a b c d x y z w"),   // segs: "a b c d", "x y z w"
      (3L, "p q r s t u v m")    // segs: "p q r s", "t u v m"
    ).toDF("id", "text")
    val out = Dedup.segmentDupStats(d, "id", "text", segWords = 4)
      .orderBy("id").as[(Long, Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L, 1L), (2L, 2L, 1L))) // doc 3 filtered out
  }

  test("segmentDupStats: ragged tail segment counts; within-doc repeats are not shared") {
    val d = Seq(
      (1L, "a b c d e"),      // segs: "a b c d", "e" (ragged tail)
      (2L, "q q q q q q q q") // both segs identical WITHIN the doc only
    ).toDF("id", "text")
    val stats = Dedup.segmentDupStats(d, "id", "text", segWords = 4)
    // "q q q q" appears twice but only in doc 2 -> count_distinct(doc)=1 -> not shared
    assert(stats.count() == 0)
    // now make doc 3 share doc 1's tail segment "e"
    val d2 = d.union(Seq((3L, "x y z w e")).toDF("id", "text"))
    val out = Dedup.segmentDupStats(d2, "id", "text", segWords = 4)
      .orderBy("id").as[(Long, Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L, 1L), (3L, 2L, 1L)))
  }

  test("crossGroupOverlap counts distinct shared segments per group pair") {
    val d = Seq(
      ("train", "a b c d e f g h"),  // segs: "a b c d", "e f g h"
      ("train", "a b c d q q q q"),  // repeats "a b c d" within train
      ("eval",  "a b c d x y z w"),  // shares "a b c d" with train
      ("eval",  "e f g h n o p r"),  // shares "e f g h" with train
      ("test",  "m m m m n n n n")   // shares nothing
    ).toDF("split", "text")
    val out = Dedup.crossGroupOverlap(d, "split", "text", segWords = 4)
      .orderBy("split_a", "split_b")
      .as[(String, String, Long)].collect()
    // distinct (group, segment): train∩eval = {"a b c d", "e f g h"} = 2,
    // counted ONCE despite train's duplicate segment; test pairs absent.
    assert(out.toSeq == Seq(("eval", "train", 2L)))
  }

  test("simhashDedup drops near-dups within distance, keeps distinct docs") {
    val out = Dedup.simhashDedup(docs, "id", "text", maxDistance = 8)
    val kept = out.select("id").as[Long].collect().toSet
    assert(kept.contains(1L) && kept.contains(3L)) // lowest of the cluster + the distinct doc
    assert(!kept.contains(4L), "exact dup survived") // identical fingerprint
    // stage surface reaches the same engine
    val ctx = new graft.core.PipelineContext(spark)
    docs.createOrReplaceTempView("simdocs")
    graft.transform.DeduplicateTransform("d", "simdocs", "simdocs_out",
      idField = "id", textField = "text", method = "simhash", maxDistance = 8).execute(ctx)
    assert(spark.table("simdocs_out").select("id").as[Long].collect().toSet == kept)
  }

  test("shingles are distinct ordered n-grams") {
    val sh = docs.filter($"id" === 3).select(Dedup.shingles($"text", 3).as("s")).head().getSeq[String](0)
    assert(sh.contains("completely different content"))
    assert(sh.forall(_.split(" ").length == 3))
  }

  test("minhash pairs find near-dups, not unrelated docs") {
    val pairs = Dedup.minhashPairs(docs, "id", "text", shingleLen = 2, bands = 8, rowsPerBand = 2, threshold = 0.5)
      .collect()
    val idPairs = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(idPairs.contains((1L, 4L))) // exact dup always found
    assert(idPairs.contains((1L, 2L)) || idPairs.contains((2L, 4L))) // near-dup
    assert(!idPairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("minhashDedup drops near-dup partners, keeps distinct docs") {
    val kept = Dedup.minhashDedup(docs, "id", "text", shingleLen = 2, bands = 8, rowsPerBand = 2, threshold = 0.5)
      .select("id").as[Long].collect().toSet
    assert(kept.contains(3L))
    assert(kept.contains(1L)) // smallest of the dup cluster survives
    assert(!kept.contains(4L))
  }

  test("simhash: exact dups hash equal, near-dups within small hamming distance") {
    val fps = Dedup.simhash(docs, "id", "text").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(4L))
    val hamming12 = java.lang.Long.bitCount(fps(1L) ^ fps(2L))
    val hamming13 = java.lang.Long.bitCount(fps(1L) ^ fps(3L))
    assert(hamming12 < hamming13)
  }

  test("hot bucket degrades to linear star links, exact-dup recall survives") {
    // 10k identical docs: every band bucket holds all 10k rows — far over the
    // cap. All-pairs would be ~50M candidates; star-linking yields exactly
    // n-1, all anchored at the min id, so dedup still keeps one winner.
    val n = 10000
    val hot = spark.range(1, n + 1).selectExpr("id", "'the same boilerplate text repeated in every single document' AS text")
    val pairs = Dedup.minhashPairs(hot, "id", "text", shingleLen = 2, bands = 4, rowsPerBand = 2,
      threshold = 0.9, maxBucketSize = 64)
    assert(pairs.count() == n - 1)
    val kept = Dedup.minhashDedup(hot, "id", "text", shingleLen = 2, bands = 4, rowsPerBand = 2,
      threshold = 0.9, maxBucketSize = 64).count()
    assert(kept == 1)
  }

  test("SimilarityJoinTransform survives a 10k-identical-docs hot bucket (capped, not quadratic)") {
    // Through the STAGE (not just Dedup): 10k identical docs on each side
    // would be ~100M result pairs under an uncapped LSH join. The capped
    // engine star-links the hot bucket instead: pair count stays linear.
    val n = 10000
    val ctx = new graft.core.PipelineContext(spark)
    spark.range(1, n + 1)
      .selectExpr("id AS doc_id", "'the same boilerplate text repeated in every single document' AS text")
      .createOrReplaceTempView("hot_docs")
    val out = graft.transform.SimilarityJoinTransform(
      "sim", "hot_docs", "hot_docs", Seq("text"), Seq("text"), "hot_out",
      threshold = 0.8, shingleLength = 3, numHashTables = 5, maxBucketSize = 64
    ).execute(ctx).get
    val pairs = out.count()
    assert(pairs > 0 && pairs <= 2L * n, s"expected linear pair count, got $pairs")
    // every surviving pair is an exact dup here: similarity must be 1.0
    assert(out.agg(min($"similarity")).head().getDouble(0) == 1.0)
  }

  test("SimilarityJoinTransform clamps numHashTables > 32 instead of throwing") {
    val ctx = new graft.core.PipelineContext(spark)
    docs.createOrReplaceTempView("clamp_left")
    val out = graft.transform.SimilarityJoinTransform(
      "sim", "clamp_left", "clamp_left", Seq("text"), Seq("text"), "clamp_out",
      threshold = 0.5, shingleLength = 3, numHashTables = 64
    ).execute(ctx).get
    // exact dup pair (1,4) must still be found under the clamped banding
    assert(out.filter($"id" === 1L && $"id_right" === 4L && $"similarity" === 1.0).count() == 1)
  }

  test("SimilarityJoinTransform attaches scores to the right rows behind a shuffled upstream") {
    // Regression for the r5 advisory: _gid was monotonically_increasing_id
    // evaluated in two separate plan subtrees — a shuffle feeding the view
    // could reorder rows between the scans and silently join scores back to
    // the WRONG payload rows. The views here sit behind a repartition (round
    // robin, order not preserved); every doc matches ONLY its own copy on
    // the other view at threshold 0.95, so any id mix-up shows up as a pair
    // whose two payload texts differ.
    val ctx = new graft.core.PipelineContext(spark)
    val base = spark.range(0, 200).selectExpr(
      "id AS doc_id",
      "concat('unique document number ', id % 1000, ' with its own distinct words ', " +
        "md5(cast(id % 1000 AS STRING))) AS text")
    base.repartition(7).createOrReplaceTempView("shuf_left")
    base.repartition(5).createOrReplaceTempView("shuf_right")
    val out = graft.transform.SimilarityJoinTransform(
      "sim", "shuf_left", "shuf_right", Seq("text"), Seq("text"), "shuf_out",
      threshold = 0.95, shingleLength = 3, numHashTables = 8
    ).execute(ctx).get.cache()
    assert(out.count() > 0)
    assert(out.filter($"text" =!= $"text_right").count() == 0,
      "a reported pair joined back to payloads that are not actually similar")
    assert(out.filter($"doc_id" % 1000 =!= $"doc_id_right" % 1000).count() == 0)
    out.unpersist()
  }

  test("SimilarityJoinTransform finds cross-view near-dups with exact similarity") {
    val ctx = new graft.core.PipelineContext(spark)
    docs.createOrReplaceTempView("sim_left")
    docs.createOrReplaceTempView("sim_right")
    val out = graft.transform.SimilarityJoinTransform(
      "sim", "sim_left", "sim_right", Seq("text"), Seq("text"), "sim_pairs",
      threshold = 0.5, shingleLength = 3, numHashTables = 5
    ).execute(ctx).get.cache()
    val hits = out.select($"id".as[Long], $"id_right".as[Long], $"similarity".as[Double]).collect()
    // exact dup pair (1,4) present in both directions with similarity 1.0
    assert(hits.exists { case (a, b, s) => a == 1L && b == 4L && s == 1.0 })
    assert(hits.exists { case (a, b, s) => a == 4L && b == 1L && s == 1.0 })
    // unrelated doc 3 never pairs with others
    assert(!hits.exists { case (a, b, _) => (a == 3L) != (b == 3L) })
    out.unpersist()
  }

  test("simhash banding has full recall at maxDistance=8") {
    // Fingerprints crafted at exact Hamming distances: 8 (must be found),
    // 9 (must be filtered), 0 (exact dup, must be found).
    val base = 0x0123456789abcdefL
    val d8 = base ^ 0x00000000000000ffL // flip 8 low bits
    val d9 = base ^ 0x00000000000001ffL // flip 9 low bits
    val fps = Seq((1L, base), (2L, d8), (3L, d9), (4L, base)).toDF("id", "fp")
    val found = Dedup.simhashPairsFromFingerprints(fps, "id", "fp", maxDistance = 8)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(found.contains((1L, 2L)), "distance-8 pair must be recalled")
    assert(found.contains((1L, 4L)), "exact dup must be recalled")
    assert(found.contains((2L, 4L)))
    assert(found.contains((2L, 3L)), "2^3 is distance 1")
    assert(!found.contains((1L, 3L)) && !found.contains((3L, 4L)),
      "distance-9 pairs are over maxDistance")
  }

  test("connected components collapse transitive chains") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("idA", "idB")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connected components converge on a long chain (pointer jumping)") {
    // a 60-node path has diameter 59: one-hop propagation alone would need
    // 59 rounds and silently mislabel under the iteration cap; pointer
    // jumping converges in O(log n)
    val chain = (1L until 60L).map(i => (i, i + 1)).toDF("idA", "idB")
    val cc = Dedup.connectedComponents(chain, maxIterations = 12).collect()
    assert(cc.length == 60)
    assert(cc.forall(_.getLong(1) == 1L), cc.take(5).mkString(","))
  }

  test("connected components: reliable-checkpoint mode matches local mode") {
    // With a checkpoint dir configured, Lineage.pin upgrades every
    // per-iteration cut to a fault-tolerant checkpoint (survives executor
    // loss on a real cluster). Labels must be identical in both modes.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (7L, 3L)).toDF("idA", "idB")
    val local = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    sc.setCheckpointDir(dir)
    try {
      val reliable = Dedup.connectedComponents(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(reliable == local)
      assert(new java.io.File(dir).listFiles != null && new java.io.File(dir).listFiles.nonEmpty,
        "reliable mode must have written checkpoint data")
    } finally {
      // clear the dir so later suites keep the (default) local-checkpoint
      // path; no public unset API — the accessor is private[spark]
      sc.getClass.getMethod("checkpointDir_$eq", classOf[Option[_]])
        .invoke(sc, None)
    }
  }

  test("minhashDedupClusters keeps one doc per transitive cluster") {
    // 1~2 and 2~5 are near-dups; 1~5 may never be a direct pair — the
    // transitive closure must still collapse {1,2,5} to {1}.
    val chain = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (5L, "alpha beta gamma delta epsilon zeta eta theta mu lambda"),
      (9L, "totally unrelated content speaking about distributed query engines")
    ).toDF("id", "text")
    val kept = Dedup.minhashDedupClusters(chain, "id", "text", shingleLen = 2,
      bands = 8, rowsPerBand = 2, threshold = 0.5)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 9L), kept.toString)
  }

  test("jaccard exact values") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val j = df.select(Dedup.jaccard($"x", $"y")).head().getDouble(0)
    assert(math.abs(j - 0.5) < 1e-12)
  }

  test("embedding near-dup pairs via hyperplane LSH") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.01f, 0.0f, 0.0f)), // near-dup of 1
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("id", "vec")
    val pairs = Dedup.embeddingNearDupPairs(vecs, "id", "vec", dim = 4, planes = 4, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L)))
  }
}

class SpanDedupSpec extends SparkSpec {
  import spark.implicits._
  import graft.llm.SpanDedup

  // 8-token boilerplate paragraph shared by docs 1, 2 and 3 (min doc 1 keeps it)
  private val para = "alpha beta gamma delta epsilon zeta eta theta"

  test("an injected shared paragraph is excised from all but the min doc") {
    val docs = Seq(
      (1L, s"one two $para three"),
      (2L, s"$para four five"),
      (3L, s"six $para"),
      (4L, "unrelated text entirely without any shared runs at all")
    ).toDF("id", "text")
    val out = SpanDedup.dedupSpans(docs, "id", "text", k = 8)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(out(0) == ((1L, 0L, 0L, s"one two $para three")), out(0).toString)
    assert(out(1) == ((2L, 8L, 1L, "four five")), out(1).toString)
    assert(out(2) == ((3L, 8L, 1L, "six")), out(2).toString)
    assert(out(3) == ((4L, 0L, 0L, "unrelated text entirely without any shared runs at all")))
  }

  test("a shared run longer than k is removed in full as ONE span") {
    val long = para + " iota kappa lambda mu" // 12 tokens
    val docs = Seq((1L, long), (2L, s"prefix words here $long suffix")).toDF("id", "text")
    val r = SpanDedup.dedupSpans(docs, "id", "text", k = 8)
      .filter(col("doc_id") === 2).head()
    assert(r.getAs[Long]("n_tokens_removed") == 12L, r.toString)
    assert(r.getAs[Long]("n_spans") == 1L, r.toString)
    assert(r.getAs[String]("clean_text") == "prefix words here suffix")
  }

  test("docs shorter than k produce no windows; within-doc repeats alone do not count") {
    val docs = Seq(
      (1L, "tiny doc"),
      (2L, s"$para and then once more $para") // repeats only WITHIN one doc
    ).toDF("id", "text")
    val out = SpanDedup.dedupSpans(docs, "id", "text", k = 8)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_tokens_removed") == 0L)
    assert(out(0).getAs[String]("clean_text") == "tiny doc")
    // cross-DOCUMENT semantics: a run repeated twice inside one document
    // is not shared across documents, so nothing is removed
    assert(out(1).getAs[Long]("n_tokens_removed") == 0L)
  }

  test("repeatedWindows reports the shared boilerplate with min-doc attribution") {
    val docs = Seq(
      (5L, s"$para x"), (7L, s"y $para"), (9L, "nothing shared in this one at all ok")
    ).toDF("id", "text")
    val w = SpanDedup.repeatedWindows(docs, "id", "text", k = 8).collect()
    assert(w.length == 1, w.mkString(","))
    assert(w.head.getAs[Long]("n_docs") == 2L)
    assert(w.head.getAs[Long]("keeper_doc") == 5L)
  }

  test("disjoint docs pass through whitespace-normalized and untouched") {
    val docs = Seq((1L, "  a   b\tc  "), (2L, "d e f")).toDF("id", "text")
    val out = SpanDedup.dedupSpans(docs, "id", "text", k = 2)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[String]("clean_text") == "a b c")
    assert(out(0).getAs[Long]("n_tokens") == 3L)
    assert(out(1).getAs[String]("clean_text") == "d e f")
  }

  test("xxhash64 gram-key mode is output-identical to md5 (the scale-path contract)") {
    // the 8-byte key quarters the (doc,pos,hash) shuffle; identical hashes
    // per distinct window text → identical dup sets → identical output
    val docs = Seq(
      (1L, s"one two $para three"),
      (2L, s"$para four five"),
      (3L, s"six $para"),
      (4L, s"$para repeated inside too $para"),
      (5L, "unrelated text entirely without any shared runs at all")
    ).toDF("id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSeq
    assert(rows(SpanDedup.dedupSpans(docs, "id", "text", k = 8, hashMode = "xxhash64")) ==
      rows(SpanDedup.dedupSpans(docs, "id", "text", k = 8, hashMode = "md5")))
    assert(rows(SpanDedup.dedupSpansWithinDoc(docs, "id", "text", k = 8, hashMode = "xxhash64")) ==
      rows(SpanDedup.dedupSpansWithinDoc(docs, "id", "text", k = 8, hashMode = "md5")))
    intercept[IllegalArgumentException] {
      SpanDedup.dedupSpans(docs, "id", "text", k = 8, hashMode = "sha9000")
    }
  }

  test("null text normalizes to zero tokens and empty clean_text, not null poison") {
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, s"$para x"), (3L, s"y $para"))
      .toDF("id", "text")
    val r = SpanDedup.dedupSpans(docs, "id", "text", k = 8)
      .filter(col("doc_id") === 1).head()
    assert(r.getAs[Long]("n_tokens") == 0L, r.toString)
    assert(r.getAs[Long]("n_tokens_removed") == 0L)
    assert(r.getAs[String]("clean_text") == "")
  }

  test("within-doc: a re-appended paragraph is excised once, first occurrence kept") {
    val docs = Seq(
      (1L, s"$para middle words $para"), // para repeated inside ONE doc
      (2L, "no repeats in this document at all whatsoever today")
    ).toDF("id", "text")
    val out = SpanDedup.dedupSpansWithinDoc(docs, "id", "text", k = 8)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_tokens_removed") == 8L, out(0).toString)
    assert(out(0).getAs[Long]("n_spans") == 1L)
    assert(out(0).getAs[String]("clean_text") == s"$para middle words")
    assert(out(1).getAs[Long]("n_tokens_removed") == 0L)
  }

  test("within-doc: periodic repetition collapses to one period") {
    // 6 copies of a 4-token phrase, k=4: windows at every period repeat —
    // only the first occurrence's tokens survive
    val phrase = "w1 w2 w3 w4"
    val docs = Seq((1L, Seq.fill(6)(phrase).mkString(" "))).toDF("id", "text")
    val r = SpanDedup.dedupSpansWithinDoc(docs, "id", "text", k = 4).head()
    assert(r.getAs[String]("clean_text") == phrase, r.toString)
    assert(r.getAs[Long]("n_tokens_removed") == 20L)
  }

  test("within-doc is independent of cross-doc: two docs sharing a run are untouched") {
    val docs = Seq((1L, s"$para one"), (2L, s"$para two")).toDF("id", "text")
    val out = SpanDedup.dedupSpansWithinDoc(docs, "id", "text", k = 8).collect()
    assert(out.forall(_.getAs[Long]("n_tokens_removed") == 0L))
  }

  test("merge-walk kernels: remove_positions and span_count agree with the HOF formulation") {
    // the linear kernels must be value-identical to the quadratic
    // filter/array_contains forms they replaced, across edge shapes:
    // empty rem, full rem, runs at both ends, unicode tokens
    import graft.functions.SpanExpressions.{remove_positions, span_count}
    val cases = Seq(
      (Seq("a", "b", "c", "d"), Seq[Int]()),
      (Seq("a", "b", "c", "d"), Seq(0, 1, 2, 3)),
      (Seq("a", "b", "c", "d", "e"), Seq(0, 2, 3)),
      (Seq("😀", "x", "漢", "y"), Seq(1, 3)),
      (Seq("one"), Seq(0)))
    val df = cases.zipWithIndex
      .map { case ((a, r), i) => (i, a, r) }.toDF("i", "arr", "rem")
      .select(col("i"),
        remove_positions(col("arr"), col("rem")).as("kept"),
        span_count(col("rem")).as("spans"),
        concat_ws(" ", filter(col("arr"), (_, ix) => !array_contains(col("rem"), ix))).as("kept_hof"),
        size(filter(col("rem"), p => !array_contains(col("rem"), p - 1))).cast("long").as("spans_hof"))
      .orderBy("i").collect()
    df.foreach { r =>
      assert(r.getString(1) == r.getString(3), r.toString)
      assert(r.getLong(2) == r.getLong(4), r.toString)
    }
  }
}

class HtmlTextSpec extends SparkSpec {
  import spark.implicits._
  import graft.llm.HtmlText

  private def extract(html: String): String =
    Seq(Tuple1(html)).toDF("h").select(HtmlText.extractText(col("h"))).head.getString(0)

  test("scripts, styles and comments vanish; tags separate words; entities decode") {
    val html =
      """<html><head><title>T</title><style type="text/css">p { color: red; }</style>
        |<script>if (a < b && c > d) { run("x"); }</script></head>
        |<body><h1>Heading</h1><p>one</p><p>two</p>
        |<table><tr><td>cell1</td><td>cell2</td></tr></table>
        |<ul><li>A&amp;B</li><li>x &lt; y &gt; z</li><li>&quot;q&quot; &#39;a&#39; &apos;b&apos;</li></ul>
        |<!-- hidden --> tail&nbsp;words</body></html>""".stripMargin
    assert(extract(html) ==
      "T Heading one two cell1 cell2 A&B x < y > z \"q\" 'a' 'b' tail words")
  }

  test("double-encoded entities decode one level only (&amp;lt; -> &lt;, never <)") {
    assert(extract("<p>&amp;lt;tag&amp;gt;</p>") == "&lt;tag&gt;")
  }

  test("malformed HTML degrades deterministically") {
    // unclosed script: the opening tag strips as a tag, content stays
    assert(extract("<script>var x = 1; no closing tag") == "var x = 1; no closing tag")
    // a bare < with a LATER > parses as one tag (both engines, documented);
    // a < with no following > stays verbatim
    assert(extract("a < b and c > d") == "a d")
    assert(extract("a < b and no close") == "a < b and no close")
    assert(extract("") == "")
  }

  test("htmlToText appends the extracted column and its length") {
    val out = HtmlText.htmlToText(
      Seq((1L, "<p>five  chars</p>")).toDF("id", "h"), "h")
    val r = out.head()
    assert(r.getAs[String]("text_extracted") == "five chars")
    assert(r.getAs[Long]("text_extracted_chars") == 10L)
  }

  test("matches an independent straight-line reference on generated HTML") {
    // independent implementation: an indexOf/char-walk extractor written
    // without regexes — divergence means the regex chain does not do what
    // the contract says
    def ref(html: String): String = {
      def dropBlocks(s: String, open: String, close: String): String = {
        val sb = new StringBuilder
        var i = 0
        val lower = s.toLowerCase
        while (i < s.length) {
          if (lower.startsWith(open, i)) {
            // the opening tag must close with '>' before the block ends
            val tagEnd = s.indexOf('>', i)
            val blockEnd = lower.indexOf(close, i)
            val closeEnd = if (blockEnd < 0) -1 else s.indexOf('>', blockEnd)
            if (tagEnd >= 0 && blockEnd > tagEnd && closeEnd >= 0 &&
              !s.substring(i + 1, tagEnd).contains('>')) {
              sb.append(' '); i = closeEnd + 1
            } else { sb.append(s.charAt(i)); i += 1 }
          } else { sb.append(s.charAt(i)); i += 1 }
        }
        sb.toString
      }
      def dropComments(s: String): String = {
        val sb = new StringBuilder
        var i = 0
        while (i < s.length) {
          if (s.startsWith("<!--", i)) {
            val end = s.indexOf("-->", i + 4)
            if (end >= 0) { sb.append(' '); i = end + 3 }
            else { sb.append(s.charAt(i)); i += 1 }
          } else { sb.append(s.charAt(i)); i += 1 }
        }
        sb.toString
      }
      def dropTags(s: String): String = {
        val sb = new StringBuilder
        var i = 0
        while (i < s.length) {
          if (s.charAt(i) == '<') {
            val end = s.indexOf('>', i)
            if (end >= 0) { sb.append(' '); i = end + 1 }
            else { sb.append(s.charAt(i)); i += 1 }
          } else { sb.append(s.charAt(i)); i += 1 }
        }
        sb.toString
      }
      val t = dropTags(dropComments(dropBlocks(dropBlocks(html,
        "<script", "</script"), "<style", "</style")))
        .replace("&nbsp;", " ").replace("&lt;", "<").replace("&gt;", ">")
        .replace("&quot;", "\"").replace("&#39;", "'").replace("&apos;", "'")
        .replace("&amp;", "&")
      t.split("\\s+").filter(_.nonEmpty).mkString(" ")
    }
    val tags = Seq("<p>", "</p>", "<div class=\"a\">", "</div>", "<br/>", "<LI>", "</li>")
    val words = Seq("alpha", "beta", "x&amp;y", "a&lt;b", "&quot;", "&nbsp;", "q&#39;r", "&amp;lt;")
    val blocks = Seq("<script>var a < b;</script>", "<style>p{}</style>",
      "<!-- c -->", "<SCRIPT a=\"1\">x</SCRIPT>", "<script>unclosed")
    val rng = new scala.util.Random(13)
    val htmls = (0 until 120).map { _ =>
      (0 until rng.nextInt(12)).map { _ =>
        rng.nextInt(3) match {
          case 0 => tags(rng.nextInt(tags.length))
          case 1 => words(rng.nextInt(words.length))
          case 2 => blocks(rng.nextInt(blocks.length))
        }
      }.mkString(" ")
    }
    val got = htmls.toDF("h").select(HtmlText.extractText(col("h")))
      .collect().map(_.getString(0))
    htmls.zip(got).foreach { case (h, g) =>
      assert(g == ref(h), s"divergence on: $h\n  got: $g\n  ref: ${ref(h)}")
    }
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f), Array(-2.0f, 1.0f))).toDF("a", "b", "c")
    val r = df.select(Similarity.cosine($"a", $"b"), Similarity.cosine($"a", $"c")).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("bruteForceTopK returns k ranked neighbors per query, self first") {
    val em = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val out = Similarity.bruteForceTopK(em, "vec_id", "embedding", em.filter($"vec_id" < 3), "vec_id", "embedding", 4)
    val rows = out.collect()
    assert(rows.length == 12)
    val self = rows.filter(r => r.getAs[Int]("rank") == 1)
    assert(self.forall(r => r.getAs[Long]("query_id") == r.getAs[Long]("neighbor_id")))
  }

  test("ivfTopK: self is always recalled; rank-1 matches brute force") {
    val em = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val q = em.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(em, "vec_id", "embedding", q, "vec_id", "embedding", 1)
      .filter($"rank" === 1).select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val ivf = Similarity.ivfTopK(em, "vec_id", "embedding", q, "vec_id", "embedding",
      k = 1, nlist = 8, nprobe = 2)
      .filter($"rank" === 1).select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    // rank-1 neighbor is self (cos=1); an identical vector lands in the same
    // inverted list, so IVF must find it
    assert(ivf == exact)
  }

  test("ivfTopK above broadcastThreshold: centroids broadcast-joined, no literal blowup, self recalled") {
    // 4000 deterministic pseudo-random vectors, nlist=1024 (the √n-rule
    // regime where a literal centroid array would bloat the codegen constant
    // pool). The centroid table must ship as a broadcast join instead.
    val corpus = spark.range(4000).select(
      $"id".as("vec_id"),
      transform(sequence(lit(0), lit(7)),
        i => (pmod(xxhash64($"id", i), lit(1000L)).cast("double") / 500.0 - 1.0).cast("float"))
        .as("embedding"))
    val q = corpus.filter($"vec_id" < 5)
    val ivf = Similarity.ivfTopK(corpus, "vec_id", "embedding", q, "vec_id", "embedding",
      k = 1, nlist = 1024, nprobe = 2)
    val plan = ivf.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      "expected a broadcast join for the centroid table")
    // the plan string must not embed thousands of centroid constants
    assert(plan.length < 200000, s"plan string unexpectedly large: ${plan.length}")
    val self = ivf.filter($"rank" === 1).filter($"query_id" === $"neighbor_id").count()
    assert(self == 5, s"self-recall through broadcast centroids: got $self/5")
  }

  test("multi-probe lshTopK recalls at least as much as single-probe") {
    val em = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val q = em.filter($"vec_id" < 10)
    def hits(multiProbe: Boolean): Long =
      Similarity.lshTopK(em, "vec_id", "embedding", q, "vec_id", "embedding",
        dim = 64, k = 10, planes = 8, multiProbe = multiProbe).count()
    val single = hits(multiProbe = false)
    val multi = hits(multiProbe = true)
    assert(multi >= single, s"multi=$multi < single=$single")
    // self (cos=1, identical signature) always survives either way
    val self = Similarity.lshTopK(em, "vec_id", "embedding", q, "vec_id", "embedding",
      dim = 64, k = 1, planes = 8, multiProbe = true)
      .filter($"rank" === 1)
      .filter($"query_id" === $"neighbor_id").count()
    assert(self == 10)
  }

  test("lshTopK recall against brute force") {
    val em = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val q = em.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(em, "vec_id", "embedding", q, "vec_id", "embedding", 1)
      .filter($"rank" === 1).select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val approx = Similarity.lshTopK(em, "vec_id", "embedding", q, "vec_id", "embedding", dim = 64, k = 1, planes = 4)
      .filter($"rank" === 1).select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    // rank-1 neighbor is self (cos=1) and must survive LSH (same bucket trivially)
    assert(approx == exact)
  }
}

class HardNegativesSpec extends SparkSpec {
  import spark.implicits._
  import graft.llm.Similarity

  test("hardNegatives equals exclusion-filtered brute force, rank-for-rank") {
    val em = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val queries = em.filter(col("vec_id") < 6)
    val got = Similarity.hardNegatives(
      queries, "vec_id", "embedding", Seq("vec_id", "label"),
      em, "vec_id", "embedding", Seq("vec_id", "label"),
      k = 4, exclude = col("q_label") === col("neg_label"))
      .select(col("q_vec_id"), col("neg_vec_id"), col("neg_rank"))
      .as[(Long, Long, Long)].collect().toSet
    // reference: big-k brute force, drop same-label pairs, re-rank
    val labels = em.select("vec_id", "label").as[(Long, Int)].collect().toMap
    val want = Similarity.bruteForceTopK(em, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = em.count().toInt)
      .select(col("query_id"), col("neighbor_id"), col("score"))
      .as[(Long, Long, Double)].collect()
      .filter { case (q, n, _) => labels(n) != labels(q) }
      .groupBy(_._1).toSeq.flatMap { case (q, rows) =>
        rows.sortBy { case (_, n, sc) => (-sc, n.toString) }.take(4)
          .zipWithIndex.map { case ((_, n, _), i) => (q, n, (i + 1).toLong) }
      }.toSet
    assert(got == want)
    // every mined negative really has a different label
    got.foreach { case (q, n, _) => assert(labels(q) != labels(n)) }
  }
}

class HardNegativesIndexedSpec extends SparkSpec {
  import spark.implicits._
  import graft.llm.{IvfIndex, Similarity}

  test("indexed hard negatives equal the brute path under exhaustive probes + ample headroom") {
    val em = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val path = "/tmp/graft_test_hn_ivf"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    IvfIndex.write(em, "vec_id", "embedding", path, nlist = 8)
    val queries = em.filter(col("vec_id") < 5)
    val labels = em.select(col("vec_id").cast("string"), col("label"))
      .as[(String, Int)].collect().toMap
    val exclude = col("q_label") === col("neg_label")
    // headroom = enough that k true negatives always sit inside the
    // retrieved window even after dropping same-label rows
    val got = Similarity.hardNegativesIndexed(
      queries, "vec_id", "embedding", Seq("vec_id", "label"),
      path, k = 4, exclude = exclude, headroom = 100, nprobe = 8,
      corpusMeta = Some((em, "vec_id", Seq("label"))))
      .select(col("query_id"), col("neighbor_id"), col("neg_rank"))
      .as[(Long, Long, Long)].collect().toSet
    val brute = Similarity.hardNegatives(
      queries, "vec_id", "embedding", Seq("vec_id", "label"),
      em, "vec_id", "embedding", Seq("vec_id", "label"),
      k = 4, exclude = exclude)
      .select(col("q_vec_id"), col("neg_vec_id"), col("neg_rank"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got.map(t => (t._1, t._2)) == brute.map(t => (t._1, t._2)),
      s"indexed ${got.size} vs brute ${brute.size}")
    got.foreach { case (q, n, _) =>
      assert(labels(q.toString) != labels(n.toString)) }
  }
}

class TextStatsSpec extends SparkSpec {
  import spark.implicits._

  test("token counts") {
    val df = Seq("  hello   world  ", "one", "").toDF("t")
    val out = df.select(TextStats.tokenCount($"t")).as[Int].collect().toSeq
    assert(out == Seq(2, 1, 0))
  }

  test("repetitionStats: counts, distinct fraction, top-word fraction") {
    val df = Seq(
      (1L, "a a a b"),      // 4 words, 2 distinct, top=3
      (2L, "x y z"),        // 3 words, all distinct, top=1
      (3L, "w w")           // 2 words, 1 distinct, top=2
    ).toDF("id", "text")
    val out = TextStats.repetitionStats(df, "id", "text")
      .orderBy("id")
      .as[(Long, Long, Double, Double)]
      .collect()
      .toSeq
    assert(out == Seq(
      (1L, 4L, 2.0 / 4, 3.0 / 4),
      (2L, 3L, 1.0, 1.0 / 3),
      (3L, 2L, 1.0 / 2, 1.0)))
  }

  test("language id picks the stopword-dominant language") {
    val df = Seq(
      "the cat and the dog are in the house for it is warm",
      "der Hund und die Katze sind nicht mit der Maus",
      "le chat est dans la maison pour les enfants",
      "xyzzy plugh qwerty" // no stopwords
    ).toDF("t")
    val out = df.select(TextStats.languageId($"t")).as[String].collect().toSeq
    assert(out == Seq("en", "de", "fr", "und"))
  }

  test("quality score favors normal prose over junk") {
    val df = Seq(
      "This is a reasonably long and well formed sentence with the usual words and it continues for a while.",
      "!!!! ???? ;;;; @@@@ $$$$ %%%%"
    ).toDF("t")
    val scores = df.select(TextStats.qualityScore($"t")).as[Double].collect()
    assert(scores(0) > scores(1))
    assert(scores.forall(s => s >= 0 && s <= 1))
  }

  test("fingerprint is whitespace/case-insensitive") {
    val df = Seq(("Hello   World", "hello world")).toDF("a", "b")
    val r = df.select(TextStats.fingerprint($"a"), TextStats.fingerprint($"b")).head()
    assert(r.getLong(0) == r.getLong(1))
  }

  test("winnowing fingerprints overlap heavily for shared content") {
    val base = "the quick brown fox jumps over the lazy dog and keeps running through the field"
    val df = Seq((base, base + " tonight", "entirely different words appear here throughout")).toDF("a", "b", "c")
    val r = df.select(
      TextStats.winnowingFingerprints($"a").as("fa"),
      TextStats.winnowingFingerprints($"b").as("fb"),
      TextStats.winnowingFingerprints($"c").as("fc")
    ).head()
    val fa = r.getSeq[Long](0).toSet
    val fb = r.getSeq[Long](1).toSet
    val fc = r.getSeq[Long](2).toSet
    assert((fa & fb).size > (fa & fc).size)
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("decodeAndFeaturize appends meta and deterministic features") {
    val df = Seq((1L, Array[Byte](1, 2, 3)), (2L, Array[Byte](9, 9))).toDF("id", "blob")
    val out = Multimodal.decodeAndFeaturize(df, "blob")
    assert(out.columns.toSeq == Seq("id", "blob", "media_meta", "features"))
    val rows = out.orderBy("id").collect()
    assert(rows.length == 2)
    val f1 = rows(0).getSeq[Float](rows(0).fieldIndex("features"))
    assert(f1.length == 8)
    // determinism: same bytes -> same features
    val r2 = Multimodal.decodeAndFeaturize(df, "blob").orderBy("id").collect()(0)
    val again = r2.getSeq[Float](r2.fieldIndex("features"))
    assert(f1 == again)
  }

  test("decodeAndFeaturize decodes real PNG bytes: true dimensions + histogram") {
    val img = new java.awt.image.BufferedImage(16, 9, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 16).foreach(x => (0 until 9).foreach(y => img.setRGB(x, y, 0xffffff))) // all white
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val df = Seq((1L, baos.toByteArray)).toDF("id", "blob")
    val r = Multimodal.decodeAndFeaturize(df, "blob").head()
    val meta = r.getStruct(r.fieldIndex("media_meta"))
    assert(meta.getAs[Int]("width") == 16 && meta.getAs[Int]("height") == 9)
    val feats = r.getSeq[Float](r.fieldIndex("features"))
    assert(math.abs(feats(7) - 1.0f) < 1e-6) // all-white → everything in the top luminance bin
  }

  test("resize emits target-dim metadata and deterministic payload") {
    val df = Seq((1L, Array[Byte](1, 2, 3))).toDF("id", "blob")
    val out = Multimodal.resize(df, "blob", 64, 64)
    assert(out.columns.toSeq == Seq("id", "blob", "resized", "resized_meta"))
    val r = out.head()
    val meta = r.getStruct(r.fieldIndex("resized_meta"))
    assert(meta.getAs[Int]("width") == 64 && meta.getAs[Int]("height") == 64)
    val p1 = r.getAs[Array[Byte]]("resized")
    val p2 = Multimodal.resize(df, "blob", 64, 64).head().getAs[Array[Byte]]("resized")
    assert(p1.sameElements(p2)) // deterministic
    assert(p1.length == 64 * 64 / 64)
  }

  test("resize REALLY rescales a PNG: decode of the output has the target dims and content") {
    // a half-black / half-white 32x32 PNG resized to 8x8 must decode as a
    // REAL image at 8x8 whose luminance histogram still shows both halves —
    // pinning that the resize path is an actual decode-scale-reencode, not
    // the byte-level stub
    val img = new java.awt.image.BufferedImage(32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 32).foreach(x => (0 until 32).foreach(y =>
      img.setRGB(x, y, if (x < 16) 0x000000 else 0xffffff)))
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val df = Seq((1L, baos.toByteArray)).toDF("id", "blob")
    val r = Multimodal.resize(df, "blob", 8, 8).head()
    val meta = r.getStruct(r.fieldIndex("resized_meta"))
    assert(meta.getAs[String]("mime") == "image/png")
    val resized = r.getAs[Array[Byte]]("resized")
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(resized))
    assert(back != null && back.getWidth == 8 && back.getHeight == 8)
    val lums = for { x <- 0 until 8; y <- 0 until 8 } yield {
      val rgb = back.getRGB(x, y)
      (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
    }
    assert(lums.count(_ < 64) >= 24 && lums.count(_ > 192) >= 24,
      s"resized content lost the black/white halves: $lums")
    // non-image blobs still take the deterministic stub branch
    val fake = Multimodal.resize(Seq((1L, Array[Byte](1, 2, 3))).toDF("id", "blob"), "blob", 8, 8)
      .head()
    assert(fake.getStruct(fake.fieldIndex("resized_meta"))
      .getAs[String]("mime") == "application/octet-stream")
  }

  test("sampleFrames yields n rows per blob; non-container blobs take the offset stub") {
    val df = Seq((1L, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8))).toDF("id", "blob")
    val out = Multimodal.sampleFrames(df, "blob", 3)
    assert(out.count() == 3)
    assert(out.select("frame_id").as[Int].collect().toSet == Set(1, 2, 3))
    assert(out.select("frame_status").as[String].collect().forall(_ == "offset_stub"))
    assert(out.select("frame_bytes").collect().forall(_.isNullAt(0)))
  }

  private def solidJpeg(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until w).foreach(x => (0 until h).foreach(y => img.setRGB(x, y, rgb)))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpeg", bos)
    bos.toByteArray
  }

  test("MJPEG-in-AVI REALLY round-trips: header-exact meta, sampled frames decode to the encoded content") {
    // 5 solid frames black->white at 25 fps: the container is built by
    // buildMjpegAvi and read back by the SAME pure-JDK parser family a
    // crawl pipeline would use — no codec beyond ImageIO's JPEG support.
    val shades = Seq(0x000000, 0x404040, 0x808080, 0xC0C0C0, 0xFFFFFF)
    val avi = Multimodal.buildMjpegAvi(shades.map(solidJpeg(32, 24, _)), 32, 24, fps = 25)
    val df = Seq((1L, avi)).toDF("id", "blob")
    // decode: header-exact dimensions/frames/duration, video mime, and the
    // mean luminance histogram must span dark AND bright bins (real decode
    // — the hash fake can't see the frame content)
    val d = Multimodal.decodeAndFeaturize(df, "blob").head()
    val meta = d.getStruct(d.fieldIndex("media_meta"))
    assert(meta.getAs[String]("mime") == "video/x-msvideo")
    assert(meta.getAs[Int]("width") == 32 && meta.getAs[Int]("height") == 24)
    assert(meta.getAs[Long]("frames") == 5L)
    assert(meta.getAs[Long]("duration_ms") == 5L * 40L, meta.toString)
    val feats = d.getSeq[Float](d.fieldIndex("features"))
    assert(feats(0) > 0.1f && feats(7) > 0.1f, feats.toString)
    // sampleFrames: 3 evenly spaced real frames = source indices 0, 2, 4;
    // each payload is a REAL JPEG whose decoded mean luminance matches the
    // shade it was encoded from (JPEG is lossy — allow a small tolerance)
    val fr = Multimodal.sampleFrames(df, "blob", 3).orderBy("frame_id").collect()
    assert(fr.map(_.getAs[Long]("frame_index")).toSeq == Seq(0L, 2L, 4L))
    assert(fr.map(_.getAs[Long]("frame_ms")).toSeq == Seq(0L, 80L, 160L))
    assert(fr.forall(_.getAs[String]("frame_status") == "avi"))
    val lums = fr.map { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("frame_bytes")))
      assert(img != null && img.getWidth == 32 && img.getHeight == 24)
      val vals = for { x <- 0 until 32; y <- 0 until 24 } yield (img.getRGB(x, y) & 0xff)
      vals.sum / vals.length
    }
    assert(math.abs(lums(0) - 0x00) <= 8 && math.abs(lums(1) - 0x80) <= 8 &&
      math.abs(lums(2) - 0xFF) <= 8, lums.toSeq.toString)
    // truncated container: strict parser refuses, decode falls to the stub
    val cut = avi.take(avi.length - 10)
    val d2 = Multimodal.decodeAndFeaturize(Seq((2L, cut)).toDF("id", "blob"), "blob").head()
    assert(d2.getStruct(d2.fieldIndex("media_meta"))
      .getAs[String]("mime") == "application/octet-stream")
  }

  test("transcodeVideo rescales every frame, preserves count/timing; non-AVI passes through") {
    val shades = Seq(0x000000, 0x808080, 0xFFFFFF)
    val avi = Multimodal.buildMjpegAvi(shades.map(solidJpeg(32, 24, _)), 32, 24, fps = 10)
    val r = Multimodal.transcodeVideo(Seq((1L, avi)).toDF("id", "blob"), "blob", 16, 12)
      .head()
    assert(r.getAs[String]("transcode_status") == "transcoded")
    val out = r.getAs[Array[Byte]]("transcoded")
    // the output is itself a valid MJPEG AVI: header carries the NEW dims
    // and the SOURCE frame count and timing
    val d = Multimodal.decodeAndFeaturize(Seq((1L, out)).toDF("id", "blob"), "blob").head()
    val meta = d.getStruct(d.fieldIndex("media_meta"))
    assert(meta.getAs[String]("mime") == "video/x-msvideo")
    assert(meta.getAs[Int]("width") == 16 && meta.getAs[Int]("height") == 12)
    assert(meta.getAs[Long]("frames") == 3L)
    assert(meta.getAs[Long]("duration_ms") == 300L, meta.toString) // 3 frames at 10 fps
    // every transcoded frame decodes at the new dims with its shade intact
    val fr = Multimodal.sampleFrames(Seq((1L, out)).toDF("id", "blob"), "blob", 3)
      .orderBy("frame_id").collect()
    val lums = fr.map { row =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(row.getAs[Array[Byte]]("frame_bytes")))
      assert(img != null && img.getWidth == 16 && img.getHeight == 12)
      val vals = for { x <- 0 until 16; y <- 0 until 12 } yield (img.getRGB(x, y) & 0xff)
      vals.sum / vals.length
    }
    assert(math.abs(lums(0) - 0x00) <= 8 && math.abs(lums(1) - 0x80) <= 8 &&
      math.abs(lums(2) - 0xFF) <= 8, lums.toSeq.toString)
    // non-container bytes pass through UNCHANGED with a status — never fabricated
    val junk = Array[Byte](9, 8, 7, 6, 5)
    val p = Multimodal.transcodeVideo(Seq((2L, junk)).toDF("id", "blob"), "blob", 16, 12)
      .head()
    assert(p.getAs[String]("transcode_status") == "unsupported")
    assert(p.getAs[Array[Byte]]("transcoded").toSeq == junk.toSeq)
    // a frame-less (header-only) clip and a clip with an undecodable frame
    // pass through with their own statuses
    val empty = Multimodal.buildMjpegAvi(Nil, 8, 8, 25)
    val e = Multimodal.transcodeVideo(Seq((3L, empty)).toDF("id", "blob"), "blob", 16, 12)
      .head()
    assert(e.getAs[String]("transcode_status") == "no_frames")
    val badFrame = Multimodal.buildMjpegAvi(Seq(Array[Byte](0, 1, 2)), 8, 8, 25)
    val b = Multimodal.transcodeVideo(Seq((4L, badFrame)).toDF("id", "blob"), "blob", 16, 12)
      .head()
    assert(b.getAs[String]("transcode_status") == "frame_decode_failed")
    assert(b.getAs[Array[Byte]]("transcoded").toSeq == badFrame.toSeq)
    // non-fps-representable timing (29.97 fps ≈ 33367 µs/frame) survives
    // the transcode EXACTLY — duration is carried in µs, never re-derived
    // through an integer fps
    val ntsc = Multimodal.buildMjpegAviUspf(
      Seq(solidJpeg(8, 8, 0x808080)), 8, 8, 33367L)
    val t = Multimodal.transcodeVideo(Seq((5L, ntsc)).toDF("id", "blob"), "blob", 4, 4)
      .head()
    assert(t.getAs[String]("transcode_status") == "transcoded")
    val reparsed = graft.llm.LlmTestAccess.parseAvi(t.getAs[Array[Byte]]("transcoded")).get
    assert(reparsed.microSecPerFrame == 33367L && reparsed.width == 4, reparsed.toString)
  }

  test("decodeAndFeaturize REALLY decodes WAV PCM: header-exact frames, rate, channels, RMS") {
    // 16-bit mono PCM at 8 kHz: 1600 frames of silence then 1600 of a loud
    // square wave — decoded frame count must equal the header's, duration
    // must be frames/rate, and the 8 RMS segment features must show the
    // quiet→loud structure (pinning a REAL sample read, not a byte fake)
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val frames = 3200
    val pcm = new Array[Byte](frames * 2)
    (1600 until frames).foreach { i =>
      val v: Short = if (i % 2 == 0) 16384 else -16384
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong),
      AudioFileFormat.Type.WAVE, baos)
    val df = Seq((1L, baos.toByteArray)).toDF("id", "blob")
    val r = Multimodal.decodeAndFeaturize(df, "blob").head()
    val meta = r.getStruct(r.fieldIndex("media_meta"))
    assert(meta.getAs[String]("mime") == "audio/wav")
    assert(meta.getAs[Long]("frames") == frames.toLong)
    assert(meta.getAs[Int]("sample_rate") == 8000 && meta.getAs[Int]("channels") == 1)
    assert(meta.getAs[Long]("duration_ms") == 400L) // 3200 / 8000 s
    assert(meta.isNullAt(meta.fieldIndex("width"))) // image fields null on audio
    val f = r.getSeq[Float](r.fieldIndex("features"))
    assert(f.length == 8)
    assert(f.take(4).forall(_ < 0.01f), s"first half must be silent: $f")
    assert(f.drop(4).forall(v => math.abs(v - 0.5f) < 0.01f), s"square wave RMS ~0.5: $f")
  }

  test("non-media bytes still take the deterministic fake branch after the audio attempt") {
    val df = Seq((1L, Array[Byte](1, 2, 3))).toDF("id", "blob")
    val r = Multimodal.decodeAndFeaturize(df, "blob").head()
    val meta = r.getStruct(r.fieldIndex("media_meta"))
    assert(meta.getAs[String]("mime") == "application/octet-stream")
    assert(meta.getAs[Int]("width") >= 1 && meta.isNullAt(meta.fieldIndex("frames")))
  }

  private def monoWav(samples: Array[Short], rate: Float): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val pcm = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (v, i) =>
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(pcm),
        new AudioFormat(rate, 16, 1, true, false), samples.length.toLong),
      AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  private def wavSamples(bytes: Array[Byte]): (Array[Int], Int, Int) = {
    import javax.sound.sampled.AudioSystem
    val ais = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
    try {
      val f = ais.getFormat
      val n = ais.getFrameLength.toInt
      val buf = new Array[Byte](n * f.getFrameSize)
      var off = 0; var r = 0
      while (off < buf.length && { r = ais.read(buf, off, buf.length - off); r > 0 }) off += r
      val out = Array.tabulate(n) { i =>
        val base = i * f.getFrameSize
        (((buf(base + 1) & 0xff) << 8) | (buf(base) & 0xff)).toShort.toInt
      }
      (out, math.round(f.getSampleRate), f.getChannels)
    } finally ais.close()
  }

  test("resampleAudio: exact rational interpolation, hand-computed samples") {
    // mono [0,100,200,300] @8k -> 12k: positions j·2/3, ceil(4·3/2)=6
    // frames; integer truncation gives [0,66,133,200,266,300] exactly
    val in = monoWav(Array[Short](0, 100, 200, 300), 8000f)
    val out = Multimodal.resampleAudio(
      Seq((1L, in)).toDF("id", "blob"), "blob", targetRate = 12000).head()
    assert(out.getAs[String]("resample_status") == "ok")
    val (samples, rate, ch) = wavSamples(out.getAs[Array[Byte]]("audio_resampled"))
    assert(rate == 12000 && ch == 1)
    assert(samples.toSeq == Seq(0, 66, 133, 200, 266, 300), samples.toSeq.toString)
    // downsample 12k->8k of the RESULT round-trips the frame-count formula
    val down = Multimodal.resampleAudio(
      Seq((1L, out.getAs[Array[Byte]]("audio_resampled"))).toDF("id", "blob"),
      "blob", targetRate = 8000).head()
    val (s2, r2, _) = wavSamples(down.getAs[Array[Byte]]("audio_resampled"))
    assert(r2 == 8000 && s2.length == 4) // ceil(6·8000/12000)
  }

  test("resampleAudio: stereo mixdown averages channels; unsupported passes through") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // stereo: ch0 = 1000, ch1 = 3000 for every frame -> mono = 2000
    val frames = 100
    val pcm = new Array[Byte](frames * 4)
    (0 until frames).foreach { i =>
      pcm(4 * i) = (1000 & 0xff).toByte; pcm(4 * i + 1) = ((1000 >> 8) & 0xff).toByte
      pcm(4 * i + 2) = (3000 & 0xff).toByte; pcm(4 * i + 3) = ((3000 >> 8) & 0xff).toByte
    }
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(pcm),
        new AudioFormat(8000f, 16, 2, true, false), frames.toLong),
      AudioFileFormat.Type.WAVE, baos)
    val out = Multimodal.resampleAudio(
      Seq((1L, baos.toByteArray)).toDF("id", "blob"), "blob", targetRate = 8000).head()
    assert(out.getAs[String]("resample_status") == "ok")
    val (samples, rate, ch) = wavSamples(out.getAs[Array[Byte]]("audio_resampled"))
    assert(rate == 8000 && ch == 1 && samples.length == frames)
    assert(samples.forall(_ == 2000), samples.take(5).toSeq.toString)
    // non-audio blob: explicit status, no fabricated payload
    val bad = Multimodal.resampleAudio(
      Seq((1L, "plain text".getBytes("UTF-8"))).toDF("id", "blob"), "blob", 8000).head()
    assert(bad.getAs[String]("resample_status") == "unsupported")
    assert(bad.isNullAt(bad.fieldIndex("audio_resampled")))
    // over-long clip fails loudly instead of silently truncating
    val long = monoWav(Array.fill[Short](64)(5), 8000f)
    val tooLong = Multimodal.resampleAudio(
      Seq((1L, long)).toDF("id", "blob"), "blob", 8000, maxFrames = 10).head()
    assert(tooLong.getAs[String]("resample_status") == "too_long")
  }
}

class MinhashIndexSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("incremental dedup: new batch against a saved corpus index") {
    val path = java.nio.file.Files.createTempDirectory("mhidx").toString + "/idx"
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val corpus = docs.filter($"doc_id" < 400).select($"doc_id", $"text")
    graft.llm.MinhashIndex.write(corpus, "doc_id", "text", path)

    // batch = exact copies of 50 corpus docs (new ids) + 100 genuinely new docs
    val copies = corpus.filter($"doc_id" < 50).select(($"doc_id" + 10000).as("doc_id"), $"text")
    val novel = docs.filter($"doc_id" >= 400).select($"doc_id", $"text")
    val batch = copies.unionByName(novel)

    val m = graft.llm.MinhashIndex.matches(batch, "doc_id", "text", path, threshold = 0.8)
    val matchedIds = m.select("new_id").distinct().as[Long].collect().toSet
    // every exact copy must match its corpus original (identical shingle sets
    // collide in every band — LSH cannot miss them)
    assert((10000L until 10050L).forall(matchedIds.contains), s"missed copies: ${
      (10000L until 10050L).filterNot(matchedIds.contains)}")
    // a copy's best match is its original at jaccard 1.0
    val perfect = m.filter($"new_id" === 10007 && $"jaccard" === 1.0)
      .select("corpus_id").as[Long].collect()
    assert(perfect.contains(7L))

    val kept = graft.llm.MinhashIndex.dedupAgainst(batch, "doc_id", "text", path)
    val keptIds = kept.select("doc_id").as[Long].collect().toSet
    assert(keptIds.intersect((10000L until 10050L).toSet).isEmpty, "copies survived dedup")
    // incremental result == one-shot self-join result on corpus+batch for
    // the same pairs: every kept novel doc has no >=0.8 partner in corpus
    val oneShot = graft.llm.Dedup.minhashPairs(
      corpus.unionByName(batch), "doc_id", "text")
      .filter(($"idA" >= 400 && $"idA" < 10000) =!= ($"idB" >= 400 && $"idB" < 10000))
    val novelWithCorpusPartner = oneShot
      .select(when($"idA" >= 400 && $"idA" < 10000, $"idA").otherwise($"idB").as("nid"))
      .filter($"nid".isNotNull).distinct().as[Long].collect().toSet
    assert(novelWithCorpusPartner.intersect(keptIds).isEmpty,
      "kept a doc the one-shot self-join pairs with the corpus")
  }

  test("ingest: batch survivors join the index; write+ingests ≡ one-shot on the union") {
    val path = java.nio.file.Files.createTempDirectory("mhidx").toString + "/idx"
    // clique-shaped duplicate groups (12 words, 1 differing → jaccard
    // 9/11 ≈ 0.82 ≥ 0.8), where the survivor-index semantics coincide
    // with the one-shot single-link result exactly
    def t(template: String, tag: String) = s"$template $tag"
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    val other = "crimson sunset over quiet harbor waters tonight reflect calm gulls drift"
    val corpus = Seq(
      (0L, t(base, "one")), (1L, t(base, "two")),
      (2L, "completely different words entirely unrelated content block sits right here now"),
      (3L, "another unique document with its own content and nothing shared at all"))
      .toDF("doc_id", "text")
    val batch1 = Seq(
      (10L, t(base, "three")),   // dies vs index (near-dup of 0/1)
      (11L, t(other, "one")),    // new template — survives, must JOIN the index
      (12L, t(other, "two")))    // dies batch-internally against 11
      .toDF("doc_id", "text")
    val batch2 = Seq(
      (20L, t(other, "three")),  // dies ONLY if 11 was appended — the gap under test
      (21L, "fresh standalone content nothing in common with anything before it ever"))
      .toDF("doc_id", "text")
    graft.llm.MinhashIndex.write(corpus, "doc_id", "text", path)
    // per-partition-dir part-file counts, for the coalesced-append pin below
    def filesPerDir(table: String): Map[String, Int] = {
      val root = new java.io.File(s"$path/$table")
      root.listFiles().filter(d => d.isDirectory && !d.getName.startsWith("_"))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    }
    val baseline = Seq("bands", "shingles", "exact").map(t => t -> filesPerDir(t)).toMap
    val s1 = graft.llm.MinhashIndex.ingest(batch1, "doc_id", "text", path)
      .select("doc_id").as[Long].collect().toSet
    val s2 = graft.llm.MinhashIndex.ingest(batch2, "doc_id", "text", path)
      .select("doc_id").as[Long].collect().toSet
    assert(s1 == Set(11L), s1.toString)
    assert(s2 == Set(21L), s2.toString)
    // parity with the one-shot single-link dedup over the union corpus
    val union = corpus.unionByName(batch1).unionByName(batch2)
    val oneShotBatchKept = graft.llm.Dedup.minhashDedup(union, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet.filter(_ >= 10L)
    assert(s1 ++ s2 == oneShotBatchKept, s"${s1 ++ s2} vs $oneShotBatchKept")
    // watermark: reusing an indexed id fails fast
    val ex = intercept[IllegalArgumentException] {
      graft.llm.MinhashIndex.ingest(
        Seq((15L, "anything at all")).toDF("doc_id", "text"), "doc_id", "text", path)
    }
    assert(ex.getMessage.contains("strictly above"), ex.getMessage)
    // verbatim batch-internal copies die through the exact tier even when
    // too short to shingle
    val s3 = graft.llm.MinhashIndex.ingest(
      Seq((30L, "tiny"), (31L, "tiny")).toDF("doc_id", "text"), "doc_id", "text", path)
      .select("doc_id").as[Long].collect().toSet
    assert(s3 == Set(30L), s3.toString)
    // coalesced appends: each tiny ingest lands at most ONE new file per
    // partition dir (not one per writer task per dir) — 3 ingests so far
    Seq("bands", "shingles", "exact").foreach { t =>
      val now = filesPerDir(t)
      val worst = now.map { case (d, n) => (d, n - baseline(t).getOrElse(d, 0)) }
      assert(worst.values.forall(_ <= 3),
        s"$t grew by ${worst.filter(_._2 > 3)} files/dir over 3 ingests")
    }
    // compaction applies to all three partitioned tables and preserves
    // results: probe with the SAME near-dup text doc 20 died to (its LSH
    // collision with 11 is deterministic given the texts — a fresh tag
    // would make the ~0.82-jaccard detection a coin flip) plus a verbatim
    // copy of 11 (exact tier) and a genuinely new doc
    val (c, nb, na) = graft.llm.MinhashIndex.compact(spark, path, maxFilesPerPartition = 1)
    assert(c > 0 && na < nb, s"($c, $nb, $na)")
    val s4 = graft.llm.MinhashIndex.dedupAgainst(
      Seq((40L, t(other, "three")), (41L, t(other, "one")),
        (42L, "wholly novel text unlike all previous rows in every way possible"))
        .toDF("doc_id", "text"), "doc_id", "text", path)
      .select("doc_id").as[Long].collect().toSet
    assert(s4 == Set(42L), s4.toString)
    // the config-surface ingest action drives the same engine: two
    // verbatim copies of a new unique text — 50 survives and joins the
    // index, 51 dies batch-internally through the exact tier
    val ctx = new graft.core.PipelineContext(spark)
    val uniq = "meridian arc survey baseline triangulation network adjusted nightly by the observatory crew"
    Seq((50L, uniq), (51L, uniq)).toDF("doc_id", "text")
      .createOrReplaceTempView("mh_ing_batch")
    graft.transform.IndexDedupTransform("ing", "mh_ing_batch", "mh_ing_out", path,
      idField = "doc_id", textField = "text", action = "ingest").execute(ctx)
    val s5 = spark.table("mh_ing_out").select("doc_id").as[Long].collect().toSet
    assert(s5 == Set(50L), s5.toString)
    // half-landed-ingest tripwire: appended rows above a stale watermark
    // fail fast instead of silently exact-matching the batch against its
    // own half-landed fingerprints (simulated by restoring pre-ingest
    // params, the SpanIndex discipline)
    val savedP = new java.io.File(
      java.nio.file.Files.createTempDirectory("mhidx").toFile, "params")
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$path/params"), savedP)
    graft.llm.MinhashIndex.ingest(
      Seq((60L, "completely novel text sixty kept only for the tripwire case right here"))
        .toDF("doc_id", "text"), "doc_id", "text", path).collect()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$path/params"))
    org.apache.commons.io.FileUtils.copyDirectory(savedP, new java.io.File(s"$path/params"))
    val ex2 = intercept[IllegalArgumentException] {
      graft.llm.MinhashIndex.ingest(
        Seq((61L, "yet more novel words")).toDF("doc_id", "text"), "doc_id", "text", path)
    }
    assert(ex2.getMessage.contains("crashed between"), ex2.getMessage)
  }

  test("delete: taken-down docs stop matching in all three tables; watermark stays consumed") {
    val path = java.nio.file.Files.createTempDirectory("mhidx").toString + "/idx"
    def t(template: String, tag: String) = s"$template $tag"
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    val corpus = Seq(
      (0L, t(base, "one")), (1L, t(base, "two")),
      (2L, "completely different words entirely unrelated content block sits right here now"))
      .toDF("doc_id", "text")
    graft.llm.MinhashIndex.write(corpus, "doc_id", "text", path)
    // near-dup and verbatim probes die against the live index
    def survivors(rows: Seq[(Long, String)]) =
      graft.llm.MinhashIndex.dedupAgainst(
        rows.toDF("doc_id", "text"), "doc_id", "text", path)
        .select("doc_id").as[Long].collect().toSet
    assert(survivors(Seq((100L, t(base, "three")), (101L, corpus.head().getString(1)))).isEmpty)
    // take the whole clique down
    val (b, s, e) = graft.llm.MinhashIndex.delete(spark, path, Seq(0L, 1L))
    assert(e == 2L && s == 2L && b > 0L, (b, s, e).toString)
    // the same probes now survive — LSH, exact-fingerprint and shingle
    // verification all stopped seeing the deleted docs
    assert(survivors(Seq((100L, t(base, "three")),
      (101L, t(base, "one")))) == Set(100L, 101L))
    // doc 2 still matches (deletion touched only the listed ids)
    assert(survivors(Seq((102L,
      "completely different words entirely unrelated content block sits right here now"))).isEmpty)
    // the watermark did NOT move back: deleted ids stay consumed
    val ex = intercept[IllegalArgumentException] {
      graft.llm.MinhashIndex.ingest(
        Seq((1L, "anything")).toDF("doc_id", "text"), "doc_id", "text", path)
    }
    assert(ex.getMessage.contains("strictly above"))
    // deleting ids the index never held is a no-op, not an error
    assert(graft.llm.MinhashIndex.delete(spark, path, Seq(999L)) == ((0L, 0L, 0L)))
  }

  test("delete: shingles/exact discovery is id-derived — untouched pmod partitions are never read") {
    val path = java.nio.file.Files.createTempDirectory("mhidx").toString + "/idx"
    def t(tag: String) = s"alpha beta gamma delta epsilon zeta eta theta iota kappa $tag"
    val corpus = Seq((0L, t("one")), (1L, t("two")),
      (2L, "completely different words entirely unrelated content block sits right here now"))
      .toDF("doc_id", "text")
    graft.llm.MinhashIndex.write(corpus, "doc_id", "text", path)
    // garbage "parquet" planted in doc 2's pmod dirs (_p = 2, untouched by
    // the takedown): discovery that SCANNED shingles/exact would die on
    // the footer read — the id-derived discovery must never open them
    val g1 = new java.io.File(s"$path/shingles/_p=2/part-garbage.parquet")
    val g2 = new java.io.File(s"$path/exact/_p=2/part-garbage.parquet")
    Seq(g1, g2).foreach(f =>
      java.nio.file.Files.write(f.toPath, "this is not a parquet file".getBytes))
    graft.core.LogBuffer.drain()
    val (b, s, e) = graft.llm.MinhashIndex.delete(spark, path, Seq(0L, 1L))
    assert(e == 2L && s == 2L && b > 0L, (b, s, e).toString)
    // per-table completion is logged, so an interrupted takedown's
    // progress (earlier tables deleted, later live) is visible
    val log = graft.core.LogBuffer.drain().mkString("\n")
    Seq("bands complete", "shingles complete", "exact complete").foreach(m =>
      assert(log.contains(m), s"missing '$m' in:\n$log"))
    // the untouched dirs were neither read nor rewritten
    assert(g1.exists && g2.exists)
    Seq(g1, g2).foreach(f => java.nio.file.Files.delete(f.toPath))
    // delete results are the usual ones: copies of 0/1 survive, 2 still dies
    def survivors(rows: Seq[(Long, String)]) =
      graft.llm.MinhashIndex.dedupAgainst(
        rows.toDF("doc_id", "text"), "doc_id", "text", path)
        .select("doc_id").as[Long].collect().toSet
    assert(survivors(Seq((100L, t("one")), (101L,
      "completely different words entirely unrelated content block sits right here now")))
      == Set(100L))
  }

  test("candidate cap: maxCandidatesPerDoc=1 still catches exact copies in a hot cluster") {
    val path = java.nio.file.Files.createTempDirectory("mhidx").toString + "/idx"
    // 200 near-identical corpus docs — every band bucket is hot, so caps bite
    val corpus = spark.range(200).select($"id".as("doc_id"),
      concat(lit("shared boilerplate header repeated across the whole cluster body text "),
        $"id".cast("string")).as("text"))
    graft.llm.MinhashIndex.write(corpus, "doc_id", "text", path, maxBucketSize = 8)
    val batch = corpus.filter($"doc_id" < 20)
      .select(($"doc_id" + 1000).as("doc_id"), $"text")
    val kept = graft.llm.MinhashIndex
      .dedupAgainst(batch, "doc_id", "text", path, maxCandidatesPerDoc = 1)
    // every batch doc is a verbatim copy of a cluster member; with one
    // verification per doc the verified candidate is a bucket-mate from the
    // same boilerplate cluster — jaccard ≈ 1 — so all are dropped
    assert(kept.count() == 0, "exact copies survived a capped ingest dedup")
  }

  test("tiered dedup: exact tier is cap-proof, LSH tier still catches mutations") {
    val path = java.nio.file.Files.createTempDirectory("mhidx").toString + "/idx"
    val corpus = spark.range(200).select($"id".as("doc_id"),
      concat(lit("shared boilerplate header repeated across the whole cluster body text "),
        $"id".cast("string")).as("text"))
    graft.llm.MinhashIndex.write(corpus, "doc_id", "text", path, maxBucketSize = 4)
    // batch: one VERBATIM copy (the exact tier must catch it even if doc 137
    // was sampled out of every capped bucket), one MUTATED near-dup (exact
    // tier misses — only the LSH tier can drop it), one genuinely new doc
    val batch = Seq(
      (1000L, "shared boilerplate header repeated across the whole cluster body text 137"),
      (1001L, "shared boilerplate header repeated across the whole cluster body text 5 extra"),
      (1002L, "completely different content with no overlap whatsoever at all here")
    ).toDF("doc_id", "text")
    val exact = graft.llm.MinhashIndex.exactMatches(batch, "doc_id", "text", path)
    assert(exact.select("new_id").as[Long].collect().toSet == Set(1000L))
    assert(exact.filter($"new_id" === 1000L).select("corpus_id").as[Long].head() == 137L)
    // threshold 0.7: the mutated doc verifies against capped-bucket
    // REPRESENTATIVES (digit + suffix both differ, jaccard ≈ 0.75-0.85),
    // not necessarily its closest twin — which is the documented cap trade
    val kept = graft.llm.MinhashIndex.dedupAgainst(batch, "doc_id", "text", path, threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1002L), s"want only the novel doc kept, got $kept")
    // the config-surface stages drive the same engine
    val ctx = new graft.core.PipelineContext(spark)
    corpus.createOrReplaceTempView("mh_corpus")
    batch.createOrReplaceTempView("mh_batch")
    graft.transform.MinhashIndexLoad("b", "mh_corpus", s"$path-stage",
      idField = "doc_id", textField = "text", maxBucketSize = 4).execute(ctx)
    graft.transform.IndexDedupTransform("f", "mh_batch", "mh_kept", s"$path-stage",
      idField = "doc_id", textField = "text", threshold = 0.7).execute(ctx)
    assert(spark.table("mh_kept").select("doc_id").as[Long].collect().toSet == kept)
  }

  test("params compatibility: Spark-written legacy params read back; driver-written params read through spark.read.json") {
    import org.apache.commons.io.FileUtils
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    import graft.llm.{LlmTestAccess, MinhashIndex, SemIndex, SpanIndex}
    val base = java.nio.file.Files.createTempDirectory("mhparams").toString
    val corpus = (0L until 40L).map(i =>
      (i, s"doc $i unique alpha$i beta$i gamma$i delta$i epsilon$i")).toDF("doc_id", "text")

    // (1) a store from before the adaptive layout and the watermark: the
    // id tables laid out 64-way, params written by a Spark job without
    // idPartitions or maxId
    val legacy = s"$base/legacy"
    MinhashIndex.write(corpus, "doc_id", "text", legacy)
    Seq("shingles", "exact").foreach { t =>
      spark.read.parquet(s"$legacy/$t").drop("_p")
        .withColumn("_p", pmod(col("_id"), lit(64L)))
        .write.partitionBy("_p").parquet(s"$legacy/${t}_64")
      FileUtils.deleteDirectory(new java.io.File(s"$legacy/$t"))
      FileUtils.moveDirectory(new java.io.File(s"$legacy/${t}_64"),
        new java.io.File(s"$legacy/$t"))
    }
    FileUtils.deleteDirectory(new java.io.File(s"$legacy/params"))
    Seq((3, 8, 4, 256)).toDF("shingleLen", "bands", "rowsPerBand", "maxBucketSize")
      .coalesce(1).write.json(s"$legacy/params")
    assert(LlmTestAccess.minhashGeometry(spark, legacy) == ((64L, -1L)))
    // the 64-way geometry routes the delete to the right directories
    val victims = Seq(3L, 17L, 29L)
    val (_, shRemoved, exRemoved) = MinhashIndex.delete(spark, legacy, victims)
    assert(shRemoved == 3L && exRemoved == 3L, s"($shRemoved, $exRemoved)")
    Seq("bands", "shingles", "exact").foreach { t =>
      val ids = spark.read.parquet(s"$legacy/$t").select("_id").distinct()
        .as[Long].collect().toSet
      assert(ids == (0L until 40L).toSet -- victims, s"$t: $ids")
    }

    // (2) params written on the driver read back through the Spark
    // reader, under each store's schema from before the shared codec
    def viaSpark(dir: String, fields: (String, org.apache.spark.sql.types.DataType)*) = {
      val rows = spark.read.schema(StructType(fields.map { case (n, t) =>
        StructField(n, t) })).json(s"$dir/params").collect()
      assert(rows.length == 1, rows.mkString(", "))
      rows.head
    }
    val mh = s"$base/mh"
    MinhashIndex.write(corpus, "doc_id", "text", mh, bands = 6, rowsPerBand = 5)
    val mhRow = viaSpark(mh, Seq("shingleLen", "bands", "rowsPerBand",
      "maxBucketSize", "maxId", "idPartitions").map(_ -> LongType): _*)
    assert(mhRow.toSeq == Seq(3L, 6L, 5L, 256L, 39L, 4L), mhRow.toString)
    val sem = s"$base/sem"
    val tau = 0.1 + 0.2 // 0.30000000000000004: the last bit matters
    SemIndex.write(Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", sem, nclusters = 2, tau = tau)
    val semRow = viaSpark(sem, "tau" -> DoubleType, "maxClusterSize" -> LongType,
      "maxId" -> LongType)
    assert(java.lang.Double.doubleToRawLongBits(semRow.getDouble(0)) ==
      java.lang.Double.doubleToRawLongBits(tau), semRow.toString)
    assert(semRow.getLong(1) == 1024L && semRow.getLong(2) == 1L, semRow.toString)
    val (tauBack, _, _) = LlmTestAccess.semParams(spark, sem)
    assert(java.lang.Double.doubleToRawLongBits(tauBack) ==
      java.lang.Double.doubleToRawLongBits(tau))
    val span = s"$base/span"
    SpanIndex.write(corpus, "doc_id", "text", span, k = 3, nbuckets = 8).collect()
    val spanRow = viaSpark(span, "k" -> LongType, "hashMode" -> StringType,
      "nbuckets" -> LongType, "bits" -> LongType, "hashes" -> LongType,
      "maxId" -> LongType)
    assert(spanRow.toSeq == Seq(3L, "xxhash64", 8L, 1L << 26, 5L, 39L), spanRow.toString)

    // (3) anything but one object in one file fails loudly
    Seq((3, 8, 4, 256), (3, 8, 4, 128))
      .toDF("shingleLen", "bands", "rowsPerBand", "maxBucketSize")
      .coalesce(1).write.mode("overwrite").json(s"$mh/params")
    val e = intercept[IllegalArgumentException](LlmTestAccess.minhashGeometry(spark, mh))
    assert(e.getMessage.contains("one JSON object"), e.getMessage)
  }
}

class SketchStatsSpec extends SparkSpec {
  import spark.implicits._
  import graft.llm.SketchStats

  private def corpus(n: Int, offset: Long = 0L) =
    spark.range(offset, offset + n).select(
      (col("id") % 3).cast("string").as("source"),
      col("id").as("doc_id"),
      (col("id") % 500).cast("string").as("token"))

  test("estimate is within HLL error of exact distinct counts") {
    val est = SketchStats.estimate(corpus(30000), Seq("source"), Seq("doc_id", "token"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val exact = corpus(30000).groupBy("source")
      .agg(count(lit(1)), count_distinct(col("doc_id")), count_distinct(col("token")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    for ((src, (n, dDoc, dTok)) <- est) {
      val (en, eDoc, eTok) = exact(src)
      assert(n == en)
      assert(math.abs(dDoc - eDoc).toDouble / eDoc < 0.05, s"$src doc_id: $dDoc vs $eDoc")
      assert(math.abs(dTok - eTok).toDouble / eTok < 0.05, s"$src token: $dTok vs $eTok")
    }
  }

  test("segment merge is batch-invariant: split segments equal the one-shot estimate") {
    val a = SketchStats.segment(corpus(10000), Seq("source"), Seq("doc_id"))
    val b = SketchStats.segment(corpus(10000, offset = 5000), Seq("source"), Seq("doc_id"))
    val merged = SketchStats.merge(a.unionByName(b), Seq("source"), Seq("doc_id"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // overlapping ranges: 20k rows, 15k distinct ids; register-max union must
    // match the single-pass sketch over the union EXACTLY (associativity)
    val oneShot = SketchStats.estimate(
      corpus(10000).unionByName(corpus(10000, offset = 5000)), Seq("source"), Seq("doc_id"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(merged.keySet == oneShot.keySet)
    for ((src, (n, d)) <- merged) {
      assert(n == oneShot(src)._1)
      assert(d == oneShot(src)._2, s"$src: merged $d != one-shot ${oneShot(src)._2}")
    }
  }

  test("sketch segments round-trip through parquet and keep merging") {
    val dir = java.nio.file.Files.createTempDirectory("sketchseg").toString
    SketchStats.segment(corpus(8000), Seq("source"), Seq("doc_id"))
      .write.mode("overwrite").parquet(s"$dir/b1")
    SketchStats.segment(corpus(8000, offset = 8000), Seq("source"), Seq("doc_id"))
      .write.mode("overwrite").parquet(s"$dir/b2")
    val segs = spark.read.parquet(s"$dir/b1").unionByName(spark.read.parquet(s"$dir/b2"))
    val merged = SketchStats.merge(segs, Seq("source"), Seq("doc_id"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = corpus(8000).unionByName(corpus(8000, offset = 8000)).groupBy("source")
      .agg(count(lit(1)), count_distinct(col("doc_id")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    for ((src, (n, d)) <- merged) {
      assert(n == exact(src)._1)
      assert(math.abs(d - exact(src)._2).toDouble / exact(src)._2 < 0.05)
    }
  }
}

class HistSketchSpec extends SparkSpec {
  import spark.implicits._
  import graft.llm.HistSketch

  private lazy val values = spark.range(1, 1001).select((col("id") % 500).as("v"))

  test("quantile estimates bracket the exact percentile within one bin width") {
    val hist = HistSketch.segment(values, col("v"), 0.0, 500.0, bins = 50)
    val est = HistSketch.quantiles(hist, Seq(0.5, 0.9), 0.0, 500.0, 50)
      .as[(Double, Double)].collect().toMap
    val exact = values.stat.approxQuantile("v", Array(0.5, 0.9), 0.0)
    assert(math.abs(est(0.5) - exact(0)) <= 10.0, s"p50 est ${est(0.5)} exact ${exact(0)}")
    assert(math.abs(est(0.9) - exact(1)) <= 10.0, s"p90 est ${est(0.9)} exact ${exact(1)}")
  }

  test("segments merge to the one-shot histogram (linearity)") {
    val (a, b) = (values.filter(col("v") < 250), values.filter(col("v") >= 250))
    val merged = HistSketch.merge(
      HistSketch.segment(a, col("v"), 0.0, 500.0, 50)
        .unionByName(HistSketch.segment(b, col("v"), 0.0, 500.0, 50)))
      .as[(Long, Long)].collect().toSet
    val oneShot = HistSketch.segment(values, col("v"), 0.0, 500.0, 50)
      .as[(Long, Long)].collect().toSet
    assert(merged == oneShot)
  }

  test("out-of-range values clamp into edge bins, never dropped") {
    val df = Seq(-100.0, 0.0, 250.0, 499.0, 500.0, 9999.0).toDF("v")
    val hist = HistSketch.segment(df, col("v"), 0.0, 500.0, 50)
      .as[(Long, Long)].collect().toMap
    assert(hist.values.sum == 6, s"histogram lost rows: $hist")
    assert(hist(0L) == 2L, "underflow + exact-lo must land in bin 0")
    assert(hist(49L) == 3L, "hi, overflow, and last-bin values must land in bin 49")
  }

  test("per-group form: each group's histogram and quantiles equal the global form on that group") {
    // Two groups with different distributions; segmentBy/quantilesBy on the
    // union must reproduce segment/quantiles run per group in isolation.
    val grouped = spark.range(1, 1001).select(
      when(col("id") % 2 === 0, "even").otherwise("odd").as("g"),
      (col("id") % 500).as("v"))
    val byG = HistSketch.segmentBy(grouped, Seq("g"), col("v"), 0.0, 500.0, 50)
    for (g <- Seq("even", "odd")) {
      val fromBy = byG.filter(col("g") === g).select("bin", "cnt")
        .as[(Long, Long)].collect().toSet
      val solo = HistSketch.segment(grouped.filter(col("g") === g), col("v"), 0.0, 500.0, 50)
        .as[(Long, Long)].collect().toSet
      assert(fromBy == solo, s"group $g histogram differs")
      val qBy = HistSketch.quantilesBy(byG.filter(col("g") === g), Seq("g"),
        Seq(0.5, 0.9), 0.0, 500.0, 50).select("p", "est").as[(Double, Double)].collect().toMap
      val qSolo = HistSketch.quantiles(solo.toSeq.toDF("bin", "cnt"),
        Seq(0.5, 0.9), 0.0, 500.0, 50).as[(Double, Double)].collect().toMap
      assert(qBy == qSolo, s"group $g quantiles differ: $qBy vs $qSolo")
    }
  }

  test("per-group segments merge to the one-shot per-group histogram") {
    val grouped = spark.range(1, 1001).select(
      when(col("id") % 2 === 0, "even").otherwise("odd").as("g"),
      (col("id") % 500).as("v"))
    val (a, b) = (grouped.filter(col("v") < 250), grouped.filter(col("v") >= 250))
    val merged = HistSketch.mergeBy(
      HistSketch.segmentBy(a, Seq("g"), col("v"), 0.0, 500.0, 50)
        .unionByName(HistSketch.segmentBy(b, Seq("g"), col("v"), 0.0, 500.0, 50)), Seq("g"))
      .as[(String, Long, Long)].collect().toSet
    val oneShot = HistSketch.segmentBy(grouped, Seq("g"), col("v"), 0.0, 500.0, 50)
      .as[(String, Long, Long)].collect().toSet
    assert(merged == oneShot)
  }
}

class HistDriftSpec extends SparkSpec {
  import spark.implicits._
  import graft.llm.HistSketch

  private def drift1(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
    HistSketch.drift(a, b).collect().head

  test("identical histograms drift zero; disjoint histograms drift one") {
    val a = Seq((0L, 10L), (1L, 30L)).toDF("bin", "cnt")
    val same = drift1(a, a.select((col("bin")), (col("cnt") * 5).as("cnt")))
    // scaling mass doesn't change shares
    assert(same.getAs[Double]("tv") == 0.0 && same.getAs[Double]("linf") == 0.0, same)
    assert(same.getAs[Double]("ks") == 0.0, same)
    val b = Seq((2L, 7L)).toDF("bin", "cnt")
    val far = drift1(a, b)
    assert(far.getAs[Double]("tv") == 1.0 && far.getAs[Double]("linf") == 1.0, far)
    assert(far.getAs[Double]("ks") == 1.0, far)
    assert(far.getAs[Long]("total_a") == 40L && far.getAs[Long]("total_b") == 7L)
  }

  test("hand-computed partial shift, exact common-denominator arithmetic") {
    // A: bin0 3/4, bin1 1/4; B: bin0 1/2, bin1 1/2
    // |3/4-1/2| = 1/4 per bin → tv = 1/4, linf = 1/4 — all powers of two,
    // so even the double division is exact
    val a = Seq((0L, 3L), (1L, 1L)).toDF("bin", "cnt")
    val b = Seq((0L, 2L), (1L, 2L)).toDF("bin", "cnt")
    val r = drift1(a, b)
    assert(r.getAs[Double]("tv") == 0.25 && r.getAs[Double]("linf") == 0.25, r)
    // cum at bin0: |3/4 - 1/2| = 1/4; at bin1: 0
    assert(r.getAs[Double]("ks") == 0.25, r)
  }

  test("empty side yields NULL metrics, not a division blowup") {
    val a = Seq((0L, 3L)).toDF("bin", "cnt")
    val empty = a.filter(col("cnt") < 0)
    val r = drift1(a, empty)
    assert(r.isNullAt(r.fieldIndex("tv")) && r.isNullAt(r.fieldIndex("linf"))
      && r.isNullAt(r.fieldIndex("ks")), r)
  }

  test("driftBy matches per-group drift(), NULL groups included") {
    val a = Seq(("s1", 0L, 3L), ("s1", 1L, 1L), ("s2", 0L, 5L), (null, 0L, 2L), (null, 1L, 2L))
      .toDF("src", "bin", "cnt")
    val b = Seq(("s1", 0L, 2L), ("s1", 1L, 2L), ("s3", 0L, 4L), (null, 0L, 4L), (null, 1L, 4L))
      .toDF("src", "bin", "cnt")
    val by = HistSketch.driftBy(a, b, Seq("src")).collect()
      .map(r => Option(r.getString(0)) -> r).toMap
    assert(by.keySet == Set(Some("s1"), Some("s2"), Some("s3"), None), by.keySet)
    // s1 must equal the global drift of the s1 slices
    val s1Global = drift1(a.filter(col("src") === "s1").drop("src"),
      b.filter(col("src") === "s1").drop("src"))
    assert(by(Some("s1")).getAs[Double]("tv") == s1Global.getAs[Double]("tv"))
    assert(by(Some("s1")).getAs[Double]("ks") == s1Global.getAs[Double]("ks"))
    // the NULL group is compared across sides, not dropped: identical
    // shares scaled 2× → zero drift
    assert(by(None).getAs[Double]("tv") == 0.0 && by(None).getAs[Double]("ks") == 0.0, by(None))
    // one-sided groups report NULL metrics
    assert(by(Some("s2")).isNullAt(by(Some("s2")).fieldIndex("tv")))
    assert(by(Some("s3")).isNullAt(by(Some("s3")).fieldIndex("tv")))
    assert(by(Some("s2")).getAs[Long]("total_a") == 5L
      && by(Some("s2")).getAs[Long]("total_b") == 0L)
  }

  test("drift of merged segments equals drift of one-shot histograms") {
    val va = spark.range(0, 2000).select((col("id") % 97).cast("double").as("v"))
    val vb = spark.range(0, 3000).select((col("id") % 83).cast("double").as("v"))
    val oneShot = drift1(
      HistSketch.segment(va, col("v"), 0.0, 100.0, 20),
      HistSketch.segment(vb, col("v"), 0.0, 100.0, 20))
    val seg = drift1(
      HistSketch.merge(
        HistSketch.segment(va.filter(col("v") < 50), col("v"), 0.0, 100.0, 20)
          .unionByName(HistSketch.segment(va.filter(col("v") >= 50), col("v"), 0.0, 100.0, 20))),
      HistSketch.segment(vb, col("v"), 0.0, 100.0, 20))
    assert(oneShot.toSeq == seg.toSeq, s"$oneShot vs $seg")
  }
}

class CmsSketchSpec extends SparkSpec {
  import spark.implicits._
  import graft.llm.CmsSketch

  // Zipf-ish key stream: key k appears ~1000/k times — heavy hitters plus a
  // long tail, deterministic.
  private lazy val stream = spark.range(1, 101)
    .selectExpr("id AS k", "CAST(1000 / id AS INT) AS reps")
    .selectExpr("k", "explode(sequence(1, reps)) AS _i")
    .select(col("k"))

  test("estimates are one-sided: est >= exact for every key, within 2N/width") {
    val sk = CmsSketch.build(stream, col("k"), depth = 4, width = 512)
    val exact = stream.groupBy("k").agg(count(lit(1)).as("exact_cnt"))
    val est = CmsSketch.estimate(sk, exact, col("k"), depth = 4, width = 512)
      .select(col("k").cast("long"), col("exact_cnt"), col("est"))
      .as[(Long, Long, Long)].collect()
    val n = stream.count()
    assert(est.length == 100)
    est.foreach { case (k, ex, e) =>
      assert(e >= ex, s"key $k: est $e < exact $ex — CMS guarantee broken")
      assert(e - ex <= 2 * n / 512 + 1, s"key $k: overestimate ${e - ex} beyond bound")
    }
  }

  test("merge of segment sketches equals the one-shot sketch (linearity)") {
    val (a, b) = (stream.filter(col("k") <= 50), stream.filter(col("k") > 50))
    val merged = CmsSketch.merge(
      CmsSketch.build(a, col("k"), 4, 128).unionByName(CmsSketch.build(b, col("k"), 4, 128)))
    val oneShot = CmsSketch.build(stream, col("k"), 4, 128)
    val m = merged.as[(Int, Long, Long)].collect().toSet
    val o = oneShot.as[(Int, Long, Long)].collect().toSet
    assert(m == o, s"merged ${m.size} cells != one-shot ${o.size}")
  }

  test("weighted build: weights sum into cells like repeated rows") {
    val rows = Seq(("a", 5L), ("b", 3L), ("a", 2L)).toDF("k", "w")
    val sk = CmsSketch.build(rows, col("k"), 4, 64, weight = col("w"))
    val keys = Seq("a", "b").toDF("k")
    val est = CmsSketch.estimate(sk, keys, col("k"), 4, 64)
      .as[(String, Long)].collect().toMap
    assert(est("a") == 7L && est("b") == 3L, s"got $est")
  }

  test("the sketch never exceeds depth*width rows no matter the input size") {
    val sk = CmsSketch.build(stream, col("k"), depth = 4, width = 32)
    assert(sk.count() <= 4L * 32)
  }
}

class LangModelSpec extends SparkSpec {
  import spark.implicits._
  import graft.llm.LangModel

  // training corpus "a b a b c": bigrams (a,b)x2 (b,a)x1 (b,c)x1,
  // unigrams a:2 b:2 c:1, V=3
  private lazy val corpus = Seq((1L, "a b a b c")).toDF("doc_id", "text")
  private lazy val bg = LangModel.bigramCounts(corpus, "text")
  private lazy val ug = LangModel.unigramCounts(corpus, "text")

  test("bigram/unigram counts are exact (punctuation-splitting normalization)") {
    val b = bg.as[(String, String, Long)].collect().toSet
    assert(b == Set(("a", "b", 2L), ("b", "a", 1L), ("b", "c", 1L)))
    val u = ug.as[(String, Long)].collect().toSet
    assert(u == Set(("a", 2L), ("b", 2L), ("c", 1L)))
  }

  test("score: hand-computed smoothed NLL, unseen/rare tallies, short-doc NULLs") {
    val docs = Seq((10L, "a b. C!"), (11L, "c z"), (12L, "x")).toDF("doc_id", "text")
    val got = LangModel.score(docs, "doc_id", "text", bg, ug, vocabSize = 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 10: bigrams (a,b) p=(2+1)/(2+3)=0.6 and (b,c) p=(1+1)/(2+3)=0.4;
    // both are rare under rareMax=2 (counts 2 and 1)
    val r10 = got(10L)
    assert(r10.getLong(1) == 2 && r10.getLong(2) == 0 && r10.getLong(3) == 2)
    assert(math.abs(r10.getAs[Double]("avg_nll") - (-(math.log(0.6) + math.log(0.4)) / 2)) < 1e-12)
    assert(math.abs(r10.getAs[Double]("ppl") - 1.0 / math.sqrt(0.24)) < 1e-12)
    assert(r10.getAs[Double]("novelty") == 0.0)
    // doc 11: one unseen bigram (c,z): p=(0+1)/(1+3)=0.25 → ppl=4
    val r11 = got(11L)
    assert(r11.getLong(1) == 1 && r11.getLong(2) == 1 && r11.getLong(3) == 1)
    assert(r11.getAs[Double]("novelty") == 1.0)
    assert(math.abs(r11.getAs[Double]("ppl") - 4.0) < 1e-12)
    // doc 12: under 2 tokens — zero counts, NULL ratios
    val r12 = got(12L)
    assert(r12.getLong(1) == 0 && r12.getLong(2) == 0 && r12.getLong(3) == 0)
    assert(r12.isNullAt(r12.fieldIndex("novelty")) && r12.isNullAt(r12.fieldIndex("ppl")))
  }

  test("scoring the training corpus itself reports zero unseen bigrams everywhere") {
    // exact invariant, corpus-independent: every bigram of a training doc
    // is by construction in the trained counts; out-of-vocabulary text
    // (impossible tokens) is 100% novel and strictly worse under the model
    val train = spark.read.parquet(s"${sf()}/documents.parquet")
    val b = LangModel.bigramCounts(train, "text")
    val u = LangModel.unigramCounts(train, "text")
    val v = u.count()
    val self = LangModel.score(train, "doc_id", "text", b, u, v)
    assert(self.filter(col("n_unseen") =!= 0L).count() == 0,
      "a training doc scored unseen bigrams against its own model")
    val oov = train.limit(50).select(col("doc_id"),
      regexp_replace(col("text"), "[a-z]", "q").as("text"))
    val scored = LangModel.score(oov, "doc_id", "text", b, u, v)
    assert(scored.filter(col("n_bigrams") > 0 && col("novelty") =!= 1.0).count() == 0,
      "impossible-token text must be 100% novel")
  }

  test("structured corpus: in-order text scores strictly lower perplexity than reordered") {
    // a corpus with real bigram structure (the synthetic documents table is
    // near-uniform word salad, where no LM separates — Jensen even pushes
    // in-domain ppl slightly ABOVE the uniform 1/V): fixed sentence
    // repeated, so the in-order probe hits only high-count bigrams and the
    // reordered probe (same unigrams) hits zero-count ones
    val train = spark.range(0, 200)
      .select(col("id").as("doc_id"), lit("alpha beta gamma delta epsilon").as("text"))
    val b = LangModel.bigramCounts(train, "text")
    val u = LangModel.unigramCounts(train, "text")
    val probes = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "delta beta epsilon alpha")).toDF("doc_id", "text")
    val ppl = LangModel.score(probes, "doc_id", "text", b, u, vocabSize = 5)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("ppl")).toMap
    assert(ppl(1L) < ppl(2L) / 10,
      f"in-order ppl ${ppl(1L)}%.2f should be far below reordered ${ppl(2L)}%.2f")
  }
}

class BloomSketchSpec extends SparkSpec {
  import spark.implicits._
  import graft.llm.BloomSketch

  private lazy val members = spark.range(0, 500).selectExpr("id * 3 AS k")
  private lazy val outsiders = spark.range(0, 500).selectExpr("id * 3 + 1 AS k")

  test("no false negatives: every build key probes true, at any sizing") {
    for (bits <- Seq(256L, 1L << 16)) {
      val sk = BloomSketch.build(members, col("k"), bits = bits, hashes = 3)
      val probed = BloomSketch.mightContain(sk, members, col("k"), bits = bits, hashes = 3)
      assert(probed.filter(!col("might_contain")).count() == 0,
        s"false negative at bits=$bits — Bloom contract broken")
    }
  }

  test("well-sized filter rejects most non-members; tiny filter still sound") {
    // m = 2^16 bits for 500 keys, k = 3 → fp rate ~1e-5: outsiders nearly
    // all definite-not. m = 256 forces collisions — fp may be high but the
    // probe must stay sound (exercised by the antiJoin exactness test).
    val sk = BloomSketch.mightContain(
      BloomSketch.build(members, col("k"), 1L << 16, 3),
      outsiders, col("k"), 1L << 16, 3)
    val fps = sk.filter(col("might_contain")).count()
    assert(fps <= 10, s"$fps of 500 outsiders flagged — fp rate far beyond sizing")
  }

  test("merge of segment bitmaps equals the one-shot bitmap (semilattice)") {
    val (a, b) = (members.filter(col("k") <= 750), members.filter(col("k") > 750))
    val merged = BloomSketch.merge(
      BloomSketch.build(a, col("k"), 4096, 3)
        .unionByName(BloomSketch.build(b, col("k"), 4096, 3)))
    val oneShot = BloomSketch.build(members, col("k"), 4096, 3)
    assert(merged.as[(Long, Long)].collect().toSet ==
      oneShot.as[(Long, Long)].collect().toSet)
  }

  test("antiJoin is exactly the anti-join, even with a collision-heavy filter") {
    // 256 bits for 500 build keys: most probes collide to maybe — the
    // exact-check path must scrub every false positive.
    val big = spark.range(0, 1500).selectExpr("id AS k", "id % 7 AS tag")
    val got = BloomSketch.antiJoin(big, col("k"), members, col("k"), bits = 256, hashes = 3)
      .as[(Long, Long)].collect().toSet
    val want = big.join(members, Seq("k"), "left_anti").as[(Long, Long)].collect().toSet
    assert(got == want, s"bloom anti-join diverged: ${got.size} vs ${want.size} rows")
  }

  test("mightContain plan: k broadcast word-joins, probe side never shuffles") {
    // probe against a materialized bitmap (the persisted-filter shape) so
    // the plan shows only the probe path: every join must be a
    // BroadcastHashJoin and NO shuffle exchange may touch the probe rows —
    // the 100 TB contract is that definite-nots are discarded without the
    // corpus ever entering an exchange
    val sk = BloomSketch.build(members, col("k"), 4096, 3).localCheckpoint(true)
    val out = BloomSketch.mightContain(sk, outsiders, col("k"), 4096, 3)
    val plan = out.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size == 3, plan.take(3000))
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(3000))
  }

  test("NULL keys: dropped from the build, probe false, kept by antiJoin (left-anti semantics)") {
    val withNulls = spark.sql(
      "SELECT CASE WHEN id % 2 = 0 THEN id END AS k, id AS v FROM range(10)")
    val sk = BloomSketch.build(withNulls, col("k"), 4096, 3)
    assert(sk.filter(col("word").isNull).count() == 0, "NULL key leaked a NULL-word row")
    val probed = BloomSketch.mightContain(sk, withNulls, col("k"), 4096, 3)
    assert(probed.filter(col("k").isNull && col("might_contain")).count() == 0,
      "NULL key probed true")
    // a NULL big-side key matches nothing, so the anti-join keeps it —
    // exactly what left_anti does
    val small = spark.range(0, 5).toDF("k")
    val got = BloomSketch.antiJoin(withNulls, col("k"), small, col("k"), 4096, 3)
      .select("v").as[Long].collect().toSet
    val want = withNulls.join(small, Seq("k"), "left_anti")
      .select("v").as[Long].collect().toSet
    assert(got == want, s"NULL-key anti-join diverged: $got vs $want")
  }

  test("the bitmap never exceeds ceil(bits/64) words no matter the input size") {
    val sk = BloomSketch.build(members, col("k"), bits = 1024, hashes = 5)
    assert(sk.count() <= 16)
    // and the plan is ONE map-side-combined shuffle: partial bit_or before
    // the exchange — keys never shuffle whole
    val plan = sk.queryExecution.executedPlan.toString
    assert(plan.contains("partial_bit_or") || plan.contains("bit_or"), plan.take(2000))
  }
}

class IvfIndexSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.llm.{IvfIndex, Similarity}

  private lazy val em = spark.read.parquet(s"${sf()}/embeddings.parquet")
  private lazy val idx = {
    val path = "/tmp/graft_test_ivfindex"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    IvfIndex.write(em, "vec_id", "embedding", path, nlist = 8)
    path
  }

  private def key(df: org.apache.spark.sql.DataFrame) = df
    .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("score"), 6))
    .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet

  test("exhaustive probe (nprobe = nlist) equals bruteForceTopK exactly") {
    val queries = em.filter(col("vec_id") < 10)
    val fromIndex = key(IvfIndex.topK(queries, "vec_id", "embedding", idx, k = 5, nprobe = 8))
    val brute = key(Similarity.bruteForceTopK(em, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5))
    assert(fromIndex == brute)
  }

  test("partial probe keeps recall and reads only probed list partitions") {
    val queries = em.filter(col("vec_id") < 50)
    val out = IvfIndex.topK(queries, "vec_id", "embedding", idx, k = 5, nprobe = 3)
    val got = key(out)
    val brute = key(Similarity.bruteForceTopK(em, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5))
    val recall = got.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.5, f"recall $recall%.2f under 3/8 probes")
    // the vectors scan must carry a partition filter on the list id — the
    // inverted-file structure IS the parquet partition layout
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("_list"), plan.take(3000))
  }

  test("every query gets results under the narrowest probe (no query vanishes)") {
    val queries = em.filter(col("vec_id") < 5)
    val out = IvfIndex.topK(queries, "vec_id", "embedding", idx, k = 3, nprobe = 1)
    val byQ = out.groupBy("query_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ALL five queries must appear: each query is a corpus member, so its
    // own probed list is non-empty — a query returning zero rows means a
    // probed partition went unreadable or the pruning filter over-pruned
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L), s"queries vanished: $byQ")
    assert(byQ.values.forall(c => c >= 1 && c <= 3), s"counts out of range: $byQ")
  }

  test("sample-trained quantizer: exhaustive probe stays exactly brute force") {
    // Force the sampling path (samplePerList × nlist well below corpus
    // size): centroid placement changes, but exhaustive-probe exactness is
    // assignment-independent — the parity contract must hold bit-for-bit.
    val path = "/tmp/graft_test_ivfindex_sampled"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    IvfIndex.write(em, "vec_id", "embedding", path, nlist = 8, samplePerList = 4)
    val queries = em.filter(col("vec_id") < 10)
    val fromIndex = key(IvfIndex.topK(queries, "vec_id", "embedding", path, k = 5, nprobe = 8))
    val brute = key(Similarity.bruteForceTopK(em, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5))
    assert(fromIndex == brute)
    // partial probes over sample-trained centroids still find real neighbors
    val partial = key(IvfIndex.topK(queries, "vec_id", "embedding", path, k = 5, nprobe = 3))
    val recall = partial.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.5, f"recall $recall%.2f under 3/8 probes with sampled training")
  }

  test("rerank is the salted two-level window, not one sort per query over raw candidates") {
    // Skewed shape: two inverted lists (KMeans floor), exhaustive probe —
    // every query sees EVERY corpus vector as a candidate, the hot-list
    // case where a bare per-query window would sort the whole candidate
    // set in a single task. The plan must show the salted level-1 window
    // (partitioned by (query_id, _tks) — a hot query's candidates sort
    // across salt buckets) feeding the bounded level-2 ranking, and parity
    // must hold.
    val path = "/tmp/graft_test_ivfindex_hotlist"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    IvfIndex.write(em, "vec_id", "embedding", path, nlist = 2)
    val queries = em.filter(col("vec_id") < 5)
    val out = IvfIndex.topK(queries, "vec_id", "embedding", path, k = 5, nprobe = 2)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("_tks"), plan.take(3000))
    val brute = key(Similarity.bruteForceTopK(em, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5))
    assert(key(out) == brute)
  }

  test("quantized retrieval: covering shortlist + exhaustive probe rescores to exact brute force") {
    // IVF-SQ8 contract: the int8 shortlist only GATES candidates; scores
    // come from the exact float rescore. With every candidate shortlisted
    // and every list probed, the result must equal brute force bit-for-bit.
    val queries = em.filter(col("vec_id") < 10)
    val quant = key(IvfIndex.topKQuantized(queries, "vec_id", "embedding", idx,
      k = 5, nprobe = 8, shortlistFactor = 1000))
    val brute = key(Similarity.bruteForceTopK(em, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5))
    assert(quant == brute)
  }

  test("quantized retrieval: tight shortlist keeps recall; codes scan never reads float vectors") {
    val queries = em.filter(col("vec_id") < 50)
    val out = IvfIndex.topKQuantized(queries, "vec_id", "embedding", idx,
      k = 5, nprobe = 8, shortlistFactor = 4)
    // the shortlist pass must scan ONLY the codes column — the 4× I/O
    // shrink is the point of storing codes in the layout
    val plan = out.queryExecution.executedPlan.toString
    // match the schema-field syntax "vec:" — the scan PATH (.../vectors)
    // contains the substring "vec" on every line
    val codesOnlyScan = plan.linesIterator.exists(l =>
      l.contains("ReadSchema") && l.contains("codes:") && !l.contains("vec:"))
    assert(codesOnlyScan, plan.take(4000))
    val got = key(out)
    val brute = key(Similarity.bruteForceTopK(em, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5))
    val recall = got.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.8, f"recall $recall%.2f with a 4k shortlist under exhaustive probes")
  }

  test("recallProbe reports sampled recall correctly, including decay after drifted ingest") {
    // Drifted daily batches: build on the real embeddings, ingest the
    // NEGATED vectors (maximally far from the training distribution — each
    // lands in the list whose centroid its negation is least unlike). The
    // exhaustive probe must still report recall = 1.0 (assignment only
    // shapes placement); the partial probe's reported recall must equal
    // the manually recomputed value from topK vs brute force.
    val path = "/tmp/graft_test_ivfindex_drift"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    IvfIndex.write(em, "vec_id", "embedding", path, nlist = 8)
    val drifted = em.select(
      (col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), x => -x).as("embedding"))
    IvfIndex.ingest(drifted, "vec_id", "embedding", path)
    val queries = drifted.filter(col("vec_id") < 100010L)
    val full = IvfIndex.recallProbe(queries, "vec_id", "embedding", path, k = 5, nprobe = 8)
      .collect().head
    assert(full.getAs[Double]("recall") == 1.0, s"exhaustive probe must be exact: $full")
    assert(full.getAs[Long]("n_queries") == 10 && full.getAs[Long]("n_exact") == 50, s"$full")
    val partial = IvfIndex.recallProbe(queries, "vec_id", "embedding", path, k = 5, nprobe = 2)
      .collect().head
    // recompute the same recall by hand from the public operators
    val corpus = spark.read.parquet(s"$path/vectors").select(col("id"), col("vec"))
    val exact = Similarity.bruteForceTopK(corpus, "id", "vec", queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = IvfIndex.topK(queries, "vec_id", "embedding", path, k = 5, nprobe = 2)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val manual = approx.intersect(exact).size.toDouble / exact.size
    assert(partial.getAs[Double]("recall") == manual,
      s"reported ${partial.getAs[Double]("recall")} vs manual $manual")
    assert(partial.getAs[Double]("recall") <= 1.0 && partial.getAs[Long]("n_hit") <= 50)
    assert(full.getAs[String]("mode") == "flat")
    // the SQ8 path is monitorable too: covering shortlist + exhaustive
    // probe rescores to exact brute force, so recall must report 1.0
    val q8 = IvfIndex.recallProbe(queries, "vec_id", "embedding", path, k = 5, nprobe = 8,
      quantized = true, shortlistFactor = 100000)
      .collect().head
    assert(q8.getAs[String]("mode") == "sq8" && q8.getAs[Double]("recall") == 1.0, s"$q8")
    // a tight shortlist may drop true neighbors — recall stays a valid
    // fraction and the monitor surfaces the trade
    val tight = IvfIndex.recallProbe(queries, "vec_id", "embedding", path, k = 5, nprobe = 8,
      quantized = true, shortlistFactor = 1)
      .collect().head
    assert(tight.getAs[Double]("recall") >= 0.0 && tight.getAs[Double]("recall") <= 1.0)
  }

  test("ingest appends a batch without retraining; exhaustive probe stays exactly brute force") {
    // Build on the first half, ingest the second half: O(batch) daily path.
    // Assignment only shapes partition placement, so the exhaustive probe
    // must equal brute force over the FULL corpus bit-for-bit.
    val path = "/tmp/graft_test_ivfindex_ingest"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    IvfIndex.write(em.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", path, nlist = 8)
    IvfIndex.ingest(em.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", path)
    val queries = em.filter(col("vec_id") < 10)
    val fromIndex = key(IvfIndex.topK(queries, "vec_id", "embedding", path, k = 5, nprobe = 8))
    val brute = key(Similarity.bruteForceTopK(em, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5))
    assert(fromIndex == brute)
  }

  test("ingest refuses already-indexed ids; replace=true swaps them atomically") {
    // Re-ingesting an indexed id used to silently APPEND a second copy —
    // two top-k slots with identical cosine, displacing a real neighbor.
    // The tripwire refuses; replace=true deletes the old copies (staged,
    // audit-logged) and appends the refreshed batch in one call.
    val path = "/tmp/graft_test_ivfindex_replace"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    IvfIndex.write(em.filter(col("vec_id") < 40), "vec_id", "embedding", path, nlist = 4)
    val ex = intercept[IllegalArgumentException] {
      IvfIndex.ingest(em.filter(col("vec_id") >= 10 && col("vec_id") < 45),
        "vec_id", "embedding", path)
    }
    assert(ex.getMessage.contains("already indexed") &&
      ex.getMessage.contains("replace=true"), ex.getMessage)
    // the refusal left the index untouched
    val idsAfterRefusal = spark.read.parquet(s"$path/vectors")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(idsAfterRefusal == (0L until 40L), s"${idsAfterRefusal.take(5)}…")
    // replace: ids 10–19 arrive with DIFFERENT vectors (borrowed from ids
    // 50–59) alongside genuinely new ids 40–44 — old copies must vanish,
    // new ids append, and retrieval must reflect the refreshed corpus
    val refreshed = em.filter(col("vec_id") >= 50 && col("vec_id") < 60)
      .select((col("vec_id") - 40).as("vec_id"), col("embedding"))
      .unionByName(em.filter(col("vec_id") >= 40 && col("vec_id") < 45)
        .select(col("vec_id"), col("embedding")))
    IvfIndex.ingest(refreshed, "vec_id", "embedding", path, replace = true)
    val copies = spark.read.parquet(s"$path/vectors").groupBy("id").count()
    assert(copies.agg(max("count")).head().getLong(0) == 1L, "duplicate copies")
    assert(copies.count() == 45L)
    // exhaustive probe equals brute force over the REPLACED corpus —
    // proof the old id-10..19 vectors are gone from retrieval
    val corpus = em.filter(col("vec_id") < 10 ||
        (col("vec_id") >= 20 && col("vec_id") < 40))
      .select(col("vec_id"), col("embedding")).unionByName(refreshed)
    val queries = em.filter(col("vec_id") < 6)
    val fromIndex = key(IvfIndex.topK(queries, "vec_id", "embedding", path, k = 5, nprobe = 4))
    val brute = key(Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5))
    assert(fromIndex == brute)
    // replace IS a removal: the takedown audit trail records it
    val log = IvfIndex.takedownLog(spark, path).collect()
    assert(log.length == 1 && log.head.getAs[Long]("rowsRemoved") == 10L,
      log.mkString(","))
  }

  test("ingest fails fast on a legacy vectors layout instead of mixing schemas") {
    // An index written before the vnorm/codes columns: appending
    // current-layout rows next to it would leave the read schema
    // footer-dependent (legacy rows read NULL vnorm and silently vanish
    // from PQ shortlists). The guard must refuse with a rebuild hint.
    val path = "/tmp/graft_test_ivfindex_legacy"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    IvfIndex.write(em.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", path, nlist = 4)
    // simulate the pre-r12 layout: strip the newer columns and rewrite
    val legacy = spark.read.parquet(s"$path/vectors").select("id", "vec", "_list")
    val tmp = "/tmp/graft_test_ivfindex_legacy_rewrite"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    legacy.write.partitionBy("_list").parquet(tmp)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$path/vectors"))
    org.apache.commons.io.FileUtils.moveDirectory(
      new java.io.File(tmp), new java.io.File(s"$path/vectors"))
    val ex = intercept[IllegalArgumentException] {
      IvfIndex.ingest(em.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", path)
    }
    assert(ex.getMessage.contains("rebuild"), ex.getMessage)
  }

  test("IVF-PQ: covering shortlist + exhaustive probe rescores to exact brute force") {
    val path = "/tmp/graft_test_ivfindex_pq"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    IvfIndex.write(em, "vec_id", "embedding", path, nlist = 8, pqSubspaces = 8)
    val queries = em.filter(col("vec_id") < 10)
    val got = key(IvfIndex.topKPq(queries, "vec_id", "embedding", path,
      k = 5, nprobe = 8, shortlistFactor = 1000))
    val brute = key(Similarity.bruteForceTopK(em, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5))
    assert(got == brute)
    // the shortlist pass must scan ONLY the pq column — neither the float
    // vectors nor the (4× larger) SQ8 codes
    val out = IvfIndex.topKPq(queries, "vec_id", "embedding", path,
      k = 5, nprobe = 8, shortlistFactor = 4)
    val plan = out.queryExecution.executedPlan.toString
    val pqOnlyScan = plan.linesIterator.exists(l =>
      l.contains("ReadSchema") && l.contains("pq:") &&
        !l.contains("vec:") && !l.contains("codes:"))
    assert(pqOnlyScan, plan.take(4000))
    // tight shortlist keeps usable recall — i.i.d. vectors are PQ's worst
    // case (PqSpec note); chance for a random 4k shortlist would be ~0.08
    val recall = key(out).intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.3, f"recall $recall%.2f with a 4k ADC shortlist")
  }

  test("IVF-PQ: ingest encodes against the persisted codebooks; recallProbe reports mode pq") {
    val path = "/tmp/graft_test_ivfindex_pq_ingest"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    IvfIndex.write(em.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", path,
      nlist = 8, pqSubspaces = 8)
    IvfIndex.ingest(em.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", path)
    val queries = em.filter(col("vec_id") < 10)
    val got = key(IvfIndex.topKPq(queries, "vec_id", "embedding", path,
      k = 5, nprobe = 8, shortlistFactor = 1000))
    val brute = key(Similarity.bruteForceTopK(em, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5))
    assert(got == brute, "ingested rows must carry codebook-consistent pq codes")
    val probe = IvfIndex.recallProbe(queries, "vec_id", "embedding", path,
      k = 5, nprobe = 8, shortlistFactor = 1000, pq = true).collect().head
    assert(probe.getAs[String]("mode") == "pq" && probe.getAs[Double]("recall") == 1.0, s"$probe")
  }

  test("IVF-PQ residual: exact parity under covering shortlist; ingest stays consistent") {
    val path = "/tmp/graft_test_ivfindex_pqres"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    IvfIndex.write(em.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", path,
      nlist = 8, pqSubspaces = 8, pqResidual = true)
    IvfIndex.ingest(em.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", path)
    val queries = em.filter(col("vec_id") < 10)
    val got = key(IvfIndex.topKPq(queries, "vec_id", "embedding", path,
      k = 5, nprobe = 8, shortlistFactor = 1000))
    val brute = key(Similarity.bruteForceTopK(em, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5))
    assert(got == brute,
      "residual index must rescore to exact brute force; ingest must encode residuals")
  }

  test("IVF-PQ residual: tighter shortlist recall on a clustered corpus beats raw codes") {
    // the shape residual coding exists for: vectors = centroid + small
    // noise. Raw-vector PQ spends its ksub codes per subspace describing
    // WHICH cluster a vector sits in; residual PQ encodes only the noise,
    // so the ADC shortlist separates within-cluster neighbors.
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val centers = Array.fill(8)(Array.fill(16)(rng.nextFloat() * 2f - 1f))
    val vecs = (0L until 2000L).map { i =>
      val c = centers((i % 8).toInt)
      (i, c.map(x => x + rng.nextFloat() - 0.5f).toSeq)
    }.toDF("vec_id", "embedding")
    def buildAndRecall(residual: Boolean): Double = {
      val path = s"/tmp/graft_test_ivfres_cluster_$residual"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      IvfIndex.write(vecs, "vec_id", "embedding", path,
        nlist = 8, pqSubspaces = 8, pqResidual = residual)
      IvfIndex.recallProbe(vecs.filter(col("vec_id") < 20), "vec_id", "embedding",
        path, k = 10, nprobe = 8, shortlistFactor = 4, pq = true)
        .collect().head.getAs[Double]("recall")
    }
    // measured on this fixture: raw 0.625, residual 0.915 — the codes stop
    // re-describing the cluster offset and spend themselves on the noise
    val rawRecall = buildAndRecall(residual = false)
    val resRecall = buildAndRecall(residual = true)
    assert(resRecall >= rawRecall + 0.15,
      f"residual recall $resRecall%.3f did not beat raw $rawRecall%.3f")
    assert(resRecall >= 0.8, f"residual recall $resRecall%.3f too low on clustered data")
  }

  test("IVF-PQ: querying a non-PQ index fails fast with a rebuild hint") {
    val e = intercept[IllegalArgumentException] {
      IvfIndex.topKPq(em.filter(col("vec_id") < 2), "vec_id", "embedding", idx, k = 2)
        .collect()
    }
    assert(e.getMessage.contains("pqSubspaces"), e.getMessage)
  }
}

class PqSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.llm.{Pq, Similarity}

  private lazy val em = spark.read.parquet(s"${sf()}/embeddings.parquet")

  private def key(df: org.apache.spark.sql.DataFrame) = df
    .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("score"), 6))
    .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet

  test("covering shortlist rescores to exact brute force (scores are never approximate)") {
    val queries = em.filter(col("vec_id") < 10)
    val pq = key(Pq.pqTopK(em, "vec_id", "embedding", queries, "vec_id", "embedding",
      dim = 64, k = 5, m = 8, ksub = 16, shortlistFactor = 1000))
    val brute = key(Similarity.bruteForceTopK(em, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5))
    assert(pq == brute)
  }

  test("tight shortlist keeps recall under ADC ranking, improving with the factor") {
    // i.i.d. random vectors are PQ's WORST case (no cluster structure for
    // the codebooks to exploit); a random 4k/500 shortlist would land
    // recall ≈ 0.08, so these bounds assert the ADC ranking is informative
    // and that widening the shortlist buys recall back
    val queries = em.filter(col("vec_id") < 50)
    val brute = key(Similarity.bruteForceTopK(em, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5))
    def recallAt(factor: Int): Double = {
      val got = key(Pq.pqTopK(em, "vec_id", "embedding", queries, "vec_id", "embedding",
        dim = 64, k = 5, m = 8, ksub = 16, shortlistFactor = factor))
      got.intersect(brute).size.toDouble / brute.size
    }
    val r4 = recallAt(4)
    val r16 = recallAt(16)
    assert(r4 >= 0.3, f"recall $r4%.2f with a 4k ADC shortlist")
    assert(r16 >= r4, f"widening the shortlist lost recall: $r16%.2f < $r4%.2f")
    assert(r16 >= 0.6, f"recall $r16%.2f with a 16k ADC shortlist")
  }

  test("codes have m entries in [0, ksub) and encoding is deterministic") {
    val cbs = Pq.trainCodebooks(em, "vec_id", "embedding", dim = 64, m = 8, ksub = 16)
    assert(cbs.size == 8 * 16)
    assert(cbs.forall(e => e.vec.size == 8))
    val a = Pq.encode(em, "vec_id", "embedding", cbs, dim = 64, m = 8)
      .select("id", "codes").collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toMap
    assert(a.values.forall(c => c.size == 8 && c.forall(x => x >= 0 && x < 16)))
    val b = Pq.encode(em, "vec_id", "embedding", cbs, dim = 64, m = 8)
      .select("id", "codes").collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toMap
    assert(a == b, "re-encoding the same corpus with the same codebooks diverged")
  }

  test("both top-k passes are salted windows, never one sort per query") {
    val queries = em.filter(col("vec_id") < 5)
    val out = Pq.pqTopK(em, "vec_id", "embedding", queries, "vec_id", "embedding",
      dim = 64, k = 5, m = 8, ksub = 16, shortlistFactor = 4)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("_tks"), plan.take(3000))
  }

  test("exact duplicates of a query vector rank first under PQ retrieval") {
    // a copy of vec 0 must be its own nearest neighbor with score 1.0
    val base = em.select(col("vec_id"), col("embedding"))
    val dup = base.filter(col("vec_id") === 0)
      .select(lit(900000L).as("vec_id"), col("embedding"))
    val corpus = base.unionAll(dup)
    val queries = dup
    val top = Pq.pqTopK(corpus, "vec_id", "embedding", queries, "vec_id", "embedding",
      dim = 64, k = 2, m = 8, ksub = 16, shortlistFactor = 16)
      .orderBy("rank").collect()
    val ids = top.map(_.getAs[Long]("neighbor_id")).toSet
    assert(ids == Set(0L, 900000L), s"PQ missed the exact duplicates: ${ids.mkString(",")}")
    assert(top.forall(r => math.abs(r.getAs[Double]("score") - 1.0) < 1e-9))
  }
}

class SemDedupSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.llm.Dedup

  private lazy val em = spark.read.parquet(s"${sf()}/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  test("exact copies collapse to the minimum id; singletons survive") {
    val dups = em.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val all = em.unionAll(dups)
    val kept = Dedup.semDedup(all, "vec_id", "embedding", nclusters = 8, tau = 0.999)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // every copied id keeps its ORIGINAL (minimum) and drops the copy
    val copied = em.filter(col("vec_id") % 5 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(copied.subsetOf(kept), "an original lost to its own copy")
    assert(copied.map(_ + 100000L).intersect(kept).isEmpty, "a copy survived")
    // i.i.d. non-copied vectors are nobody's near-dup at tau=0.999
    val rest = em.filter(col("vec_id") % 5 =!= 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(rest.subsetOf(kept), "a non-duplicate was dropped")
  }

  test("transitive chains collapse to one survivor even without a direct pair") {
    // a ~ b (cos 1), b ~ c (cos 1) via copies: all three share a component
    val a = em.filter(col("vec_id") === 2)
    val chain = a.select(lit(500000L).as("vec_id"), col("embedding"))
      .unionAll(a.select(lit(500001L).as("vec_id"), col("embedding")))
      .unionAll(a.select(lit(500002L).as("vec_id"), col("embedding")))
    val all = em.unionAll(chain)
    val kept = Dedup.semDedup(all, "vec_id", "embedding", nclusters = 8, tau = 0.999)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(2L) && !kept.contains(500000L) &&
      !kept.contains(500001L) && !kept.contains(500002L),
      "transitive closure failed to collapse the copy chain")
  }

  test("pairs are same-cluster only, idA < idB, and at-or-above tau") {
    val dups = em.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val all = em.unionAll(dups)
    val pairs = Dedup.semDedupPairs(all, "vec_id", "embedding", nclusters = 8, tau = 0.999)
      .collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(r => r.getAs[Long]("idA") < r.getAs[Long]("idB")))
    assert(pairs.forall(r => r.getAs[Double]("cosine") >= 0.999))
    val clusters = Dedup.semClusters(all, "vec_id", "embedding", nclusters = 8)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(pairs.forall(r =>
      clusters(r.getAs[Long]("idA")) == clusters(r.getAs[Long]("idB"))))
  }

  test("a corpus with no near-dups above tau is returned unchanged") {
    val kept = Dedup.semDedup(em, "vec_id", "embedding", nclusters = 8, tau = 0.999)
    assert(kept.count() == em.count())
  }

  test("assignment is deterministic across recomputation") {
    val a = Dedup.semClusters(em, "vec_id", "embedding", nclusters = 8)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = Dedup.semClusters(em, "vec_id", "embedding", nclusters = 8)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a == b)
  }

  test("semDedupReport agrees with semDedup's kept set and covers every row") {
    val dups = em.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val all = em.unionAll(dups)
    val report = Dedup.semDedupReport(all, "vec_id", "embedding", nclusters = 8, tau = 0.999)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(report.size == all.count(), "report must emit one row per input row")
    val kept = Dedup.semDedup(all, "vec_id", "embedding", nclusters = 8, tau = 0.999)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(report.filter(_._2).keySet == kept)
  }
}

class SemIndexSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.llm.{Dedup, SemIndex}

  // pattern p -> one-hot base vector (identical within a group, orthogonal
  // across groups): near-dup structure is total within a pattern, zero
  // across, so one-shot vs incremental parity is exact and assertable
  private def vec(p: Int): Seq[Float] =
    Seq.tabulate(8)(i => if (i == p % 8) 1f else 0f)

  private def rows(ids: Seq[(Long, Int)]) =
    ids.map { case (id, p) => (id, vec(p)) }.toDF("vec_id", "embedding")

  test("batch ingest ≡ one-shot semDedup on the union corpus") {
    val path = java.nio.file.Files.createTempDirectory("semidx").toString + "/idx"
    // corpus: patterns 0..4, three copies each (ids 0..14) → kept = 0..4
    val corpus = rows((0L until 15L).map(id => (id, (id % 5).toInt)))
    SemIndex.write(corpus, "vec_id", "embedding", path, nclusters = 4, tau = 0.95)
    val keptCorpus = spark.read.parquet(s"$path/vectors").select("id").as[Long].collect().toSet
    assert(keptCorpus == Set(0L, 1L, 2L, 3L, 4L), keptCorpus.toString)

    // batch: copies of patterns 0..2 (→ die against the index), a NEW
    // pattern 6 twice (batch-internal dup → min id survives), pattern 7 once
    val batch = rows(Seq((100L, 0), (101L, 1), (102L, 2), (200L, 6), (201L, 6), (300L, 7)))
    val survivors = SemIndex.ingest(batch, "vec_id", "embedding", path)
      .select("vec_id").as[Long].collect().toSet
    assert(survivors == Set(200L, 300L), survivors.toString)

    // parity: incremental kept set == one-shot semDedup over the union
    val oneShot = Dedup.semDedup(corpus.unionByName(batch), "vec_id", "embedding",
      nclusters = 4, tau = 0.95)
      .select("vec_id").as[Long].collect().toSet
    val incremental = keptCorpus ++ survivors
    assert(incremental == oneShot, s"incremental $incremental vs one-shot $oneShot")

    // the ingest APPENDED the survivors: a second batch repeating pattern 6
    // must now die against the index, and a fresh pattern still survives
    val batch2 = rows(Seq((400L, 6), (500L, 3), (600L, 5)))
    val s2 = SemIndex.ingest(batch2, "vec_id", "embedding", path)
      .select("vec_id").as[Long].collect().toSet
    assert(s2 == Set(600L), s2.toString)
  }

  test("delete: taken-down vectors stop matching; the next copy survives and re-protects") {
    val path = java.nio.file.Files.createTempDirectory("semidx").toString + "/idx"
    val corpus = rows((0L until 15L).map(id => (id, (id % 5).toInt)))
    SemIndex.write(corpus, "vec_id", "embedding", path, nclusters = 4, tau = 0.95)
    // a copy of pattern 0 dies against the live index
    assert(SemIndex.dedupAgainst(rows(Seq((100L, 0))), "vec_id", "embedding", path)
      .count() == 0)
    // take down the pattern-0 keeper
    assert(SemIndex.delete(spark, path, Seq(0L)) == 1L)
    // the same copy now survives; other patterns still match
    assert(SemIndex.dedupAgainst(rows(Seq((100L, 0))), "vec_id", "embedding", path)
      .count() == 1)
    assert(SemIndex.dedupAgainst(rows(Seq((101L, 1))), "vec_id", "embedding", path)
      .count() == 0)
    // an ingest of the freed pattern re-protects it for the batch after
    val s1 = SemIndex.ingest(rows(Seq((100L, 0))), "vec_id", "embedding", path)
      .select("vec_id").as[Long].collect().toSet
    assert(s1 == Set(100L), s1.toString)
    val s2 = SemIndex.ingest(rows(Seq((200L, 0))), "vec_id", "embedding", path)
      .select("vec_id").as[Long].collect().toSet
    assert(s2.isEmpty, s2.toString)
  }

  test("two sequential batches ≡ one combined batch") {
    val p1 = java.nio.file.Files.createTempDirectory("semidx").toString + "/a"
    val p2 = java.nio.file.Files.createTempDirectory("semidx").toString + "/b"
    val corpus = rows((0L until 6L).map(id => (id, (id % 3).toInt)))
    SemIndex.write(corpus, "vec_id", "embedding", p1, nclusters = 2, tau = 0.95)
    SemIndex.write(corpus, "vec_id", "embedding", p2, nclusters = 2, tau = 0.95)
    val b1 = rows(Seq((100L, 4), (101L, 0)))
    val b2 = rows(Seq((200L, 4), (201L, 5)))
    SemIndex.ingest(b1, "vec_id", "embedding", p1)
    SemIndex.ingest(b2, "vec_id", "embedding", p1)
    SemIndex.ingest(b1.unionByName(b2), "vec_id", "embedding", p2)
    def keptAt(p: String) =
      spark.read.parquet(s"$p/vectors").select("id").as[Long].collect().toSet
    assert(keptAt(p1) == keptAt(p2), s"${keptAt(p1)} vs ${keptAt(p2)}")
    // 100 survives (new pattern 4), 101 dies (pattern 0 indexed), 200 dies
    // against 100's ingested copy, 201 survives (new pattern 5)
    assert(keptAt(p1) == Set(0L, 1L, 2L, 100L, 201L), keptAt(p1).toString)
  }

  test("negative batch ids are rejected (they would conflate with the index sentinels)") {
    val path = java.nio.file.Files.createTempDirectory("semidx").toString + "/idx"
    SemIndex.write(rows(Seq((0L, 0), (1L, 1))), "vec_id", "embedding", path, nclusters = 2)
    val ex = intercept[IllegalArgumentException] {
      SemIndex.dedupAgainst(rows(Seq((-5L, 3))), "vec_id", "embedding", path).count()
    }
    assert(ex.getMessage.contains("non-negative"), ex.getMessage)
  }

  test("ingest rejects batch ids at or below the persisted max indexed id") {
    // a batch reusing an indexed id would append a duplicate-id row and
    // silently break min-id attribution — the maxId persisted in params/
    // makes the check one agg on the batch, no index scan
    val path = java.nio.file.Files.createTempDirectory("semidx").toString + "/idx"
    SemIndex.write(rows(Seq((0L, 0), (7L, 1))), "vec_id", "embedding", path, nclusters = 2)
    val ex = intercept[IllegalArgumentException] {
      SemIndex.ingest(rows(Seq((7L, 3))), "vec_id", "embedding", path)
    }
    assert(ex.getMessage.contains("strictly above"), ex.getMessage)
    // a valid ingest advances the watermark: a second batch reusing the
    // FIRST batch's ids is rejected too (even ids the dedup dropped)
    SemIndex.ingest(rows(Seq((10L, 3), (11L, 3))), "vec_id", "embedding", path)
    val ex2 = intercept[IllegalArgumentException] {
      SemIndex.ingest(rows(Seq((11L, 5))), "vec_id", "embedding", path)
    }
    assert(ex2.getMessage.contains("strictly above"), ex2.getMessage)
    // and ids above the watermark still ingest fine
    val s = SemIndex.ingest(rows(Seq((12L, 6))), "vec_id", "embedding", path)
      .select("vec_id").as[Long].collect().toSet
    assert(s == Set(12L))
  }

  test("params swap crash: readParams recovers the watermark from params_tmp") {
    val path = java.nio.file.Files.createTempDirectory("semidx").toString + "/idx"
    SemIndex.write(rows(Seq((0L, 0), (1L, 1))), "vec_id", "embedding", path, nclusters = 2)
    SemIndex.ingest(rows(Seq((5L, 2))), "vec_id", "embedding", path)
    // simulate the writeParams crash window: the delete of params/
    // happened, the rename of params_tmp didn't
    val live = new java.io.File(s"$path/params")
    val tmp = new java.io.File(s"$path/params_tmp")
    org.apache.commons.io.FileUtils.moveDirectory(live, tmp)
    assert(!live.exists && tmp.exists)
    // the next ingest recovers params (tau AND the maxId=5 watermark): a
    // watermark-violating batch still fails fast...
    val ex = intercept[IllegalArgumentException] {
      SemIndex.ingest(rows(Seq((3L, 3))), "vec_id", "embedding", path)
    }
    assert(ex.getMessage.contains("strictly above"), ex.getMessage)
    assert(live.exists && !tmp.exists)
    // ...and a legal batch ingests normally against the recovered params
    val s = SemIndex.ingest(rows(Seq((9L, 3))), "vec_id", "embedding", path)
      .select("vec_id").as[Long].collect().toSet
    assert(s == Set(9L))
  }

  test("ingest fails fast on a foreign vectors layout") {
    val path = java.nio.file.Files.createTempDirectory("semidx").toString + "/idx"
    val corpus = rows(Seq((0L, 0), (1L, 1)))
    SemIndex.write(corpus, "vec_id", "embedding", path, nclusters = 2)
    val legacy = spark.read.parquet(s"$path/vectors").select("id", "_cluster")
    val tmp = java.nio.file.Files.createTempDirectory("semidx").toString + "/rw"
    legacy.write.partitionBy("_cluster").parquet(tmp)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$path/vectors"))
    org.apache.commons.io.FileUtils.moveDirectory(
      new java.io.File(tmp), new java.io.File(s"$path/vectors"))
    val ex = intercept[IllegalArgumentException] {
      SemIndex.ingest(rows(Seq((9L, 3))), "vec_id", "embedding", path)
    }
    assert(ex.getMessage.contains("rebuild"), ex.getMessage)
  }
}

class SpanIndexSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.llm.{SpanDedup, SpanIndex}

  // shared boilerplate runs: `boiler` crosses base->batch1->batch2,
  // `newRun` is born inside batch1 and repeated by batch2
  private val boiler = "b1 b2 b3 b4 b5 b6"
  private val newRun = "n1 n2 n3 n4 n5"
  private val base = Seq(
    (0L, s"u01 u02 u03 $boiler u04 u05"),
    (1L, s"v01 v02 $boiler v03 v04 v05 v06"),
    (2L, "w01 w02 w03 w04 w05 w06 w07"))
  private val batch1 = Seq(
    (10L, s"x01 x02 $boiler x03 x04"),
    (11L, s"y01 y02 y03 $newRun y04 y05"),
    (12L, s"z01 z02 $newRun z03 z04 z05"))
  private val batch2 = Seq(
    (20L, s"p01 p02 $newRun p03"),
    (21L, "q01 q02 q03 q04 q05"))

  private def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
  private def rowsOf(d: org.apache.spark.sql.DataFrame) =
    d.select("doc_id", "n_tokens", "n_tokens_removed", "n_spans", "clean_text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).sortBy(_._1).toSeq

  for (mode <- Seq("xxhash64", "md5"))
  test(s"write + ingests ≡ one-shot span dedup on the union corpus ($mode)") {
    val path = java.nio.file.Files.createTempDirectory("spanidx").toString + "/idx"
    val got = rowsOf(SpanIndex.write(df(base), "doc_id", "text", path,
        k = 4, hashMode = mode, nbuckets = 8)) ++
      rowsOf(SpanIndex.ingest(df(batch1), "doc_id", "text", path)) ++
      rowsOf(SpanIndex.ingest(df(batch2), "doc_id", "text", path))
    val oneShot = rowsOf(SpanDedup.dedupSpans(
      df(base ++ batch1 ++ batch2), "doc_id", "text", k = 4, hashMode = mode))
    assert(got.sortBy(_._1) == oneShot, s"\ngot:     $got\noneShot: $oneShot")
    // spot the semantics: 0 keeps the boilerplate, 1/10 lose it; 11 keeps
    // the batch-born run, 12 (same ingest) and 20 (later ingest) lose it
    val byId = got.map(r => r._1 -> r._3).toMap
    assert(byId(0L) == 0L && byId(1L) > 0L && byId(10L) > 0L)
    assert(byId(11L) == 0L && byId(12L) > 0L && byId(20L) > 0L && byId(21L) == 0L)
  }

  test("ingest enforces the disjoint-id watermark") {
    val path = java.nio.file.Files.createTempDirectory("spanidx").toString + "/idx"
    SpanIndex.write(df(base), "doc_id", "text", path, k = 4, nbuckets = 4)
    SpanIndex.ingest(df(batch1), "doc_id", "text", path).collect()
    val ex = intercept[IllegalArgumentException] {
      SpanIndex.ingest(df(Seq((5L, "a b c d e"))), "doc_id", "text", path)
    }
    assert(ex.getMessage.contains("strictly above"), ex.getMessage)
  }

  test("half-landed ingest tripwire: stale watermark + appended grams fails fast") {
    val path = java.nio.file.Files.createTempDirectory("spanidx").toString + "/idx"
    SpanIndex.write(df(base), "doc_id", "text", path, k = 4, nbuckets = 4)
    // simulate the crash window: grams+bloom landed, params didn't — by
    // saving params before the ingest and restoring them after
    val saved = new java.io.File(
      java.nio.file.Files.createTempDirectory("spanidx").toFile, "params")
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$path/params"), saved)
    SpanIndex.ingest(df(batch1), "doc_id", "text", path).collect()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$path/params"))
    org.apache.commons.io.FileUtils.copyDirectory(saved, new java.io.File(s"$path/params"))
    // re-running the batch passes the (stale) watermark but must trip on
    // its own leftover grams instead of silently over-deduping
    val ex = intercept[IllegalArgumentException] {
      SpanIndex.ingest(df(batch1), "doc_id", "text", path).collect()
    }
    assert(ex.getMessage.contains("crashed between"), ex.getMessage)
  }

  test("delete: removing a keeper's grams frees its spans for future batches") {
    val path = java.nio.file.Files.createTempDirectory("spanidx").toString + "/idx"
    SpanIndex.write(df(base), "doc_id", "text", path, k = 4, nbuckets = 8)
    // a batch doc repeating the boilerplate loses it (kept by doc 0)
    val s1 = rowsOf(SpanIndex.ingest(
      df(Seq((10L, s"x01 x02 $boiler x03 x04"))), "doc_id", "text", path))
    assert(s1.head._3 > 0L, s1.toString)
    // take down doc 0 — every gram it kept leaves the index
    val removed = SpanIndex.delete(spark, path, Seq(0L))
    assert(removed > 0L, removed.toString)
    // a later batch doc with the same boilerplate now KEEPS it: the bloom
    // still remembers the grams (false positive), but verification finds
    // nothing in the rewritten buckets — the takedown intent
    val s2 = rowsOf(SpanIndex.ingest(
      df(Seq((20L, s"r01 r02 $boiler r03 r04"))), "doc_id", "text", path))
    assert(s2.head._3 == 0L && s2.head._5.contains("b1 b2 b3"), s2.toString)
    // ...and doc 20's freshly-kept grams immediately protect the corpus:
    // a third repetition loses the run again
    val s3 = rowsOf(SpanIndex.ingest(
      df(Seq((30L, s"s01 s02 $boiler s03 s04"))), "doc_id", "text", path))
    assert(s3.head._3 > 0L, s3.toString)
  }

  test("compaction shrinks the gram table without changing ingest results") {
    val path = java.nio.file.Files.createTempDirectory("spanidx").toString + "/idx"
    SpanIndex.write(df(base), "doc_id", "text", path, k = 4, nbuckets = 2)
    (0 until 5).foreach { i =>
      SpanIndex.ingest(df(Seq((100L + i, s"f${i}a f${i}b f${i}c f${i}d"))),
        "doc_id", "text", path).collect()
    }
    val before = spark.read.parquet(s"$path/grams").count()
    val (compacted, nb, na) = SpanIndex.compact(spark, path, maxFilesPerPartition = 2)
    assert(compacted > 0 && na < nb, s"($compacted, $nb, $na)")
    assert(spark.read.parquet(s"$path/grams").count() == before)
    // the compacted index still dedups: a batch repeating the boilerplate
    val out = rowsOf(SpanIndex.ingest(
      df(Seq((200L, s"g1 g2 $boiler g3"))), "doc_id", "text", path))
    assert(out.head._3 > 0L, out.toString)
  }
}

class IndexCompactSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.llm.{IvfIndex, SemIndex}

  // orthogonal one-hots: every distinct pattern is cosine-0 to every
  // other, so ingest batches are never near-dups of the corpus
  private def vec(p: Int): Seq[Float] =
    Seq.tabulate(64)(i => if (i == p % 64) 1f else 0f)

  private def rows(ids: Seq[(Long, Int)]) =
    ids.map { case (id, p) => (id, vec(p)) }.toDF("vec_id", "embedding")

  private def partFiles(dir: String): Map[String, Int] = {
    val root = new java.io.File(dir)
    root.listFiles().filter(f => f.isDirectory && f.getName.contains("="))
      .map(d => d.getName ->
        d.listFiles().count(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith(".")))
      .toMap
  }

  test("SemIndex.compact: fewer files, identical dedup, ingest still consistent") {
    val path = java.nio.file.Files.createTempDirectory("cmpa").toString + "/idx"
    SemIndex.write(rows((0L until 8L).map(id => (id, id.toInt))), "vec_id", "embedding",
      path, nclusters = 2, tau = 0.95)
    // many tiny ingest batches -> many small files per cluster dir
    (0 until 6).foreach { b =>
      SemIndex.ingest(rows(Seq((100L + b, 8 + b))), "vec_id", "embedding", path)
    }
    val before = partFiles(s"$path/vectors")
    assert(before.values.max > 2, before.toString)
    val probe = rows(Seq((500L, 0), (501L, 8), (502L, 40)))
    val beforeSurvivors = SemIndex.dedupAgainst(probe, "vec_id", "embedding", path)
      .select("vec_id").as[Long].collect().toSet
    val (compacted, nBefore, nAfter) =
      SemIndex.compact(spark, path, maxFilesPerPartition = 2)
    assert(compacted > 0 && nAfter < nBefore, s"($compacted, $nBefore, $nAfter)")
    val after = partFiles(s"$path/vectors")
    assert(after.keySet == before.keySet, s"$before vs $after")
    // identical dedup semantics against the compacted layout
    val afterSurvivors = SemIndex.dedupAgainst(probe, "vec_id", "embedding", path)
      .select("vec_id").as[Long].collect().toSet
    assert(afterSurvivors == beforeSurvivors, s"$beforeSurvivors vs $afterSurvivors")
    // and the kept-row set is bit-identical
    val kept = spark.read.parquet(s"$path/vectors").select("id").as[Long].collect().toSet
    assert(kept == (0L until 8L).toSet ++ (0 until 6).map(100L + _), kept.toString)
    // ingest after compact: appends still land and dedup against them works
    val s2 = SemIndex.ingest(rows(Seq((600L, 8), (601L, 30))), "vec_id", "embedding", path)
      .select("vec_id").as[Long].collect().toSet
    assert(s2 == Set(601L), s2.toString)
  }

  test("IvfIndex.compact: fewer files, identical topK across all three read paths") {
    val path = java.nio.file.Files.createTempDirectory("cmpb").toString + "/idx"
    IvfIndex.write(rows((0L until 32L).map(id => (id, id.toInt))), "vec_id", "embedding",
      path, nlist = 4, pqSubspaces = 4)
    (0 until 6).foreach { b =>
      IvfIndex.ingest(rows(Seq((200L + b, b))), "vec_id", "embedding", path)
    }
    val queries = rows(Seq((900L, 3), (901L, 9)))
    def results() = Seq(
      IvfIndex.topK(queries, "vec_id", "embedding", path, k = 5, nprobe = 4),
      IvfIndex.topKQuantized(queries, "vec_id", "embedding", path, k = 5, nprobe = 4),
      IvfIndex.topKPq(queries, "vec_id", "embedding", path, k = 5, nprobe = 4)
    ).map(_.collect().map(_.toString).sorted.toSeq)
    val beforeR = results()
    val (compacted, nBefore, nAfter) =
      IvfIndex.compact(spark, path, maxFilesPerPartition = 2)
    assert(compacted > 0 && nAfter < nBefore, s"($compacted, $nBefore, $nAfter)")
    assert(results() == beforeR)
    // ingest after compact still lands in the same layout
    IvfIndex.ingest(rows(Seq((300L, 3))), "vec_id", "embedding", path)
    val ids = spark.read.parquet(s"$path/vectors").select("id").as[Long].collect().toSet
    assert(ids.contains(300L) && ids.contains(205L) && ids.contains(0L))
  }

  test("compaction crash mid-swap: compact refuses, recover restores, re-run succeeds") {
    import org.apache.hadoop.fs.Path
    import graft.llm.IndexCompact
    val path = java.nio.file.Files.createTempDirectory("cmpc").toString + "/idx"
    SemIndex.write(rows((0L until 8L).map(id => (id, id.toInt))), "vec_id", "embedding",
      path, nclusters = 2, tau = 0.95)
    (0 until 6).foreach { b =>
      SemIndex.ingest(rows(Seq((100L + b, 8 + b))), "vec_id", "embedding", path)
    }
    val vecDir = s"$path/vectors"
    val fs = new Path(vecDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def ids() = spark.read.parquet(vecDir).select("id").as[Long].collect().sorted.toSeq
    def live(p: Path) = fs.listStatus(p).filter(f => f.isFile &&
      !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
    val beforeIds = ids()

    // hand-build the exact mid-swap state of an interrupted run on the
    // busiest partition: replacement written to tmp, marker recorded, ALL
    // old files parked, only PART of the new copy moved in
    val root = new Path(vecDir)
    val part = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .maxBy(p => live(p.getPath).length).getPath
    val runId = "11111111-2222-3333-4444-555555555555"
    val tmpPart = new Path(root, s"_compact_tmp/${part.getName}")
    spark.read.parquet(part.toString).coalesce(2)
      .write.mode("overwrite").parquet(tmpPart.toString)
    val oldPart = new Path(root, s"_compact_old/${part.getName}")
    fs.mkdirs(oldPart)
    val marker = fs.create(new Path(root, "_compact_old/_runid"), true)
    marker.write(runId.getBytes("UTF-8")); marker.close()
    live(part).foreach(f =>
      assert(fs.rename(f.getPath, new Path(oldPart, f.getPath.getName))))
    val newFiles = live(tmpPart)
    assert(newFiles.length == 2)
    // the "crash": only the first new file made it in
    assert(fs.rename(newFiles.head.getPath,
      new Path(part, s"compact-$runId-${newFiles.head.getPath.getName}")))

    // a fresh compaction must refuse to run over the wreckage
    val refused = intercept[IllegalArgumentException] {
      SemIndex.compact(spark, path, maxFilesPerPartition = 2)
    }
    assert(refused.getMessage.contains("recover"), refused.getMessage)

    // recovery restores the pre-compaction content exactly
    assert(IndexCompact.recover(spark, vecDir) == 1)
    assert(ids() == beforeIds)
    assert(!fs.exists(new Path(root, "_compact_old")))
    assert(!fs.exists(new Path(root, "_compact_tmp")))
    assert(live(part).forall(f => !f.getPath.getName.startsWith(s"compact-$runId")))

    // and compaction now runs clean on the recovered index
    val (c, nb, na) = SemIndex.compact(spark, path, maxFilesPerPartition = 2)
    assert(c > 0 && na < nb, s"($c, $nb, $na)")
    assert(ids() == beforeIds)

    // SECOND-compaction crash mid-park: the live files are now themselves
    // compact-<run1>-* — recovery keyed on the marker's runId must NOT
    // touch the un-parked originals (prefix-only matching would)
    val part2 = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .maxBy(p => live(p.getPath).length).getPath
    val lf = live(part2)
    assert(lf.nonEmpty)
    val old2 = new Path(root, s"_compact_old/${part2.getName}")
    fs.mkdirs(old2)
    val m2 = fs.create(new Path(root, "_compact_old/_runid"), true)
    m2.write("99999999-8888-7777-6666-000000000000".getBytes("UTF-8")); m2.close()
    // crash after parking ONE file, before any new file moved in
    assert(fs.rename(lf.head.getPath, new Path(old2, lf.head.getPath.getName)))
    assert(IndexCompact.recover(spark, vecDir) == 1)
    assert(ids() == beforeIds)
    assert(!fs.exists(new Path(root, "_compact_old")))

    // COMMITTED originals (_compact_done — step 4 crashed mid-delete) are
    // garbage, never a restore source: their rows are already live, so
    // recovery must discard them without doubling anything, and a fresh
    // compact must clear them instead of refusing
    val part3 = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.contains("=")).head.getPath
    val done3 = new Path(root, s"_compact_done/${part3.getName}")
    fs.mkdirs(done3)
    val src = live(part3).head.getPath
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, new Path(done3, src.getName),
      false, spark.sparkContext.hadoopConfiguration)
    assert(IndexCompact.recover(spark, vecDir) == 0)
    assert(ids() == beforeIds)
    assert(!fs.exists(new Path(root, "_compact_done")))
  }

  test("IvfIndex.delete: the taken-down vector vanishes from all three read tiers") {
    val path = java.nio.file.Files.createTempDirectory("cmpe").toString + "/idx"
    IvfIndex.write(rows((0L until 32L).map(id => (id, id.toInt))), "vec_id", "embedding",
      path, nlist = 4, pqSubspaces = 4)
    val queries = rows(Seq((900L, 3)))
    def hits(): Set[Set[Long]] = Set(
      IvfIndex.topK(queries, "vec_id", "embedding", path, k = 1, nprobe = 4),
      IvfIndex.topKQuantized(queries, "vec_id", "embedding", path, k = 1,
        nprobe = 4, shortlistFactor = 1000),
      IvfIndex.topKPq(queries, "vec_id", "embedding", path, k = 1,
        nprobe = 4, shortlistFactor = 1000))
      .map(_.select("neighbor_id").as[Long].collect().toSet)
    // vector 3 is the exact one-hot match for pattern-3 queries everywhere
    assert(hits() == Set(Set(3L)), hits().toString)
    assert(IvfIndex.delete(spark, path, Seq(3L)) == 1L)
    // every tier now returns some OTHER (orthogonal) neighbor — 3 is gone
    hits().foreach(h => assert(h.nonEmpty && !h.contains(3L), h.toString))
    // the remaining corpus is intact
    assert(spark.read.parquet(s"$path/vectors").count() == 31L)
  }

  test("interrupted delete: refuse over wreckage, recover restores, re-run removes exactly the target") {
    import org.apache.hadoop.fs.Path
    import graft.llm.IndexCompact
    val path = java.nio.file.Files.createTempDirectory("cmpd").toString + "/idx"
    SemIndex.write(rows((0L until 8L).map(id => (id, id.toInt))), "vec_id", "embedding",
      path, nclusters = 2, tau = 0.95)
    val vecDir = s"$path/vectors"
    val fs = new Path(vecDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def ids() = spark.read.parquet(vecDir).select("id").as[Long].collect().sorted.toSeq
    def live(p: Path) = fs.listStatus(p).filter(f => f.isFile &&
      !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
    val beforeIds = ids()
    // hand-build an interrupted DELETE's mid-swap state (same staging
    // layout as compaction: filtered replacement in tmp, marker recorded,
    // originals parked, NOTHING moved in yet)
    val root = new Path(vecDir)
    val part = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.contains("=")).head.getPath
    val runId = "aaaaaaaa-bbbb-cccc-dddd-eeeeeeeeeeee"
    spark.read.parquet(part.toString).filter($"id" =!= 3L).coalesce(1)
      .write.mode("overwrite").parquet(new Path(root, s"_compact_tmp/${part.getName}").toString)
    val oldPart = new Path(root, s"_compact_old/${part.getName}")
    fs.mkdirs(oldPart)
    val marker = fs.create(new Path(root, "_compact_old/_runid"), true)
    marker.write(runId.getBytes("UTF-8")); marker.close()
    live(part).foreach(f =>
      assert(fs.rename(f.getPath, new Path(oldPart, f.getPath.getName))))
    // a fresh delete refuses to run over the wreckage
    val refused = intercept[IllegalArgumentException] {
      SemIndex.delete(spark, path, Seq(3L))
    }
    assert(refused.getMessage.contains("recover"), refused.getMessage)
    // the interrupted run left NO audit record — evidence is completion
    assert(IndexCompact.takedownLog(spark, vecDir).count() == 0)
    // recovery restores the full pre-delete content; the re-run delete
    // then removes exactly the target row
    assert(IndexCompact.recover(spark, vecDir) == 1)
    assert(ids() == beforeIds)
    assert(SemIndex.delete(spark, path, Seq(3L)) == 1L)
    assert(ids() == beforeIds.filterNot(_ == 3L))
    // ...and exactly the completed re-run is on the audit trail
    val log = IndexCompact.takedownLog(spark, vecDir)
      .select("rowsRemoved").as[Long].collect().toSeq
    assert(log == Seq(1L), log.toString)
  }

  test("deleteMatching: id-derived discovery reads only the touched partitions") {
    import graft.llm.IndexCompact
    val dir = java.nio.file.Files.createTempDirectory("cmpf").toString + "/tbl"
    spark.range(16).select($"id", pmod($"id", lit(4L)).as("p"))
      .write.partitionBy("p").parquet(dir)
    // garbage "parquet" in p=3: ANY scan of that directory throws, so the
    // delete can only succeed if discovery computes the touched dirs from
    // the ids (4 → p=0, 9 → p=1) instead of scanning the table
    val bad = new java.io.File(s"$dir/p=3/part-garbage.parquet")
    java.nio.file.Files.write(bad.toPath, "this is not a parquet file".getBytes)
    intercept[Exception] {
      IndexCompact.deleteMatching(spark, dir, "id", "p", Seq(4L, 9L))
    }
    val removed = IndexCompact.deleteMatching(spark, dir, "id", "p",
      Seq(4L, 9L).toDF("id"), Some(id => pmod(id, lit(4L))))
    assert(removed == 2L)
    // p=3 was never read or rewritten — the garbage file is untouched
    assert(bad.exists)
    java.nio.file.Files.delete(bad.toPath)
    val left = spark.read.parquet(dir).select("id").as[Long].collect().toSet
    assert(left == (0L until 16L).toSet -- Set(4L, 9L), left.toString)
  }

  test("takedown audit log: one record per completed delete (no-ops included), none for a crashed run") {
    import graft.llm.IndexCompact
    val dir = java.nio.file.Files.createTempDirectory("cmph").toString + "/tbl"
    spark.range(12).select($"id", pmod($"id", lit(3L)).as("p"))
      .write.partitionBy("p").parquet(dir)
    assert(IndexCompact.takedownLog(spark, dir).count() == 0)
    assert(IndexCompact.deleteMatching(spark, dir, "id", "p", Seq(4L, 8L)) == 2L)
    assert(IndexCompact.deleteMatching(spark, dir, "id", "p", Seq(999L)) == 0L)
    val log = IndexCompact.takedownLog(spark, dir)
      .orderBy("completedAtMs")
      .select("table", "idColumn", "nIds", "rowsRemoved", "partitionsRewritten")
      .collect().map(_.toSeq).toSeq
    assert(log == Seq(
      Seq(dir, "id", 2L, 2L, 2L),
      Seq(dir, "id", 1L, 0L, 0L)), log.toString)
    // the log directory is invisible to table reads
    assert(spark.read.parquet(dir).count() == 10)
    // MinhashIndex.delete contributes one record per table
    val idx = java.nio.file.Files.createTempDirectory("cmph").toString + "/idx"
    graft.llm.MinhashIndex.write(
      Seq((0L, "alpha beta gamma delta epsilon zeta eta"),
        (1L, "different words entirely here now")).toDF("doc_id", "text"),
      "doc_id", "text", idx)
    graft.llm.MinhashIndex.delete(spark, idx, Seq(0L))
    val byTable = graft.llm.MinhashIndex.takedownLog(spark, idx)
      .select("table").as[String].collect().toSet
    assert(byTable == Set(s"$idx/bands", s"$idx/shingles", s"$idx/exact"), byTable.toString)
  }

  test("deleteMatching DataFrame ids: nulls fail fast; isin and semi-join discovery agree") {
    import graft.llm.IndexCompact
    val base = java.nio.file.Files.createTempDirectory("cmpg").toString
    val dirA = s"$base/a"; val dirB = s"$base/b"
    val data = spark.range(40).select($"id", pmod($"id", lit(4L)).as("p"))
    data.write.partitionBy("p").parquet(dirA)
    data.write.partitionBy("p").parquet(dirB)
    val e = intercept[IllegalArgumentException] {
      IndexCompact.deleteMatching(spark, dirA, "id", "p",
        Seq[Option[Long]](Some(1L), None).toDF("id"))
    }
    assert(e.getMessage.contains("NULL"), e.getMessage)
    assert(spark.read.parquet(dirA).count() == 40)
    // ≤1000 ids ride as an isin literal; the same two targets padded past
    // the threshold take the broadcast-semi-join path — identical results
    assert(IndexCompact.deleteMatching(spark, dirA, "id", "p", Seq(5L, 17L)) == 2L)
    assert(IndexCompact.deleteMatching(spark, dirB, "id", "p",
      (Seq(5L, 17L) ++ (10000L until 11100L)).toDF("id")) == 2L)
    def setOf(d: String) = spark.read.parquet(d).select("id").as[Long].collect().toSet
    assert(setOf(dirA) == setOf(dirB) && !setOf(dirA).contains(5L), setOf(dirA).toString)
  }

  test("Takedown index fan-out: every store settles, every failure surfaces, the trail holds exactly the committed stores") {
    val base = java.nio.file.Files.createTempDirectory("tdfanout").toString
    val (mdir, sdir, semdir, ivfdir, adir) =
      (s"$base/mh", s"$base/span", s"$base/sem", s"$base/ivf", s"$base/audit")
    val corpus = (0L until 12L).map(i =>
      (i, s"doc $i alpha$i beta$i gamma$i delta$i epsilon$i")).toDF("doc_id", "text")
    graft.llm.MinhashIndex.write(corpus, "doc_id", "text", mdir)
    graft.llm.SpanIndex.write(corpus, "doc_id", "text", sdir, k = 3, nbuckets = 4).collect()
    // the sem and ivf stores exist for the preflight but hold no vector
    // table: both deletes fail after the minhash and span stores commit
    new java.io.File(semdir).mkdirs()
    new java.io.File(ivfdir).mkdirs()
    val e = intercept[IllegalArgumentException] {
      graft.llm.Takedown.run(spark, Seq(2L, 5L).toDF("doc_id"),
        minhashURI = mdir, spanURI = sdir, semURI = semdir, ivfURI = ivfdir,
        auditURI = adir, requestId = "fanout-req")
    }
    // the first failure in store order, the other attached
    assert(e.getMessage.contains(s"$semdir/vectors"), e.getMessage)
    assert(e.getSuppressed.map(_.getMessage).toSeq.exists(_.contains(s"$ivfdir/vectors")),
      e.getSuppressed.map(_.getMessage).mkString(" | "))
    val trail = graft.llm.Takedown.consolidatedLog(spark, adir)
      .filter($"request_id" === "fanout-req")
      .select("store_type").as[String].collect().toSeq.sorted
    assert(trail == Seq("minhash", "span"), trail.toString)
    // and the committed stores really are clean of the ids
    assert(spark.read.parquet(s"$mdir/exact").filter($"_id".isin(2L, 5L)).count() == 0L)
    assert(spark.read.parquet(s"$sdir/grams").filter($"keeper".isin(2L, 5L)).count() == 0L)
  }
}

class HeavyHittersSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.llm.HeavyHitters

  // skewed stream: 3 hot keys with ~70% of the mass, a long uniform tail
  private def skewed(n: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      if (i % 10 < 7) s"hot-${i % 3}" else s"cold-${i / 10}"
    }.toDF("k")
  }

  private def exact(df: org.apache.spark.sql.DataFrame) =
    df.groupBy("k").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("MG bounds hold for every reported key, on any partition layout") {
    val df = skewed(20000)
    val truth = exact(df)
    val n = 20000L
    for (parts <- Seq(1, 4, 13)) {
      val cap = 16
      val est = HeavyHitters.heavyHitters(df.repartition(parts), col("k"), cap)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      est.foreach { case (k, e) =>
        val t = truth(k)
        assert(e <= t, s"overestimate at $k: $e > $t (parts=$parts)")
        assert((t - e) * (cap + 1) <= n, s"deficit bound broken at $k: $t - $e (parts=$parts)")
      }
      // completeness: every key with true count > n/(cap+1) is present
      truth.filter(_._2 * (cap + 1) > n).keys.foreach { k =>
        assert(est.contains(k), s"true heavy hitter $k missing (parts=$parts)")
      }
    }
  }

  test("summary size is bounded by cap per partition") {
    val df = skewed(20000).repartition(4)
    val perPart = HeavyHitters.summarize(df, col("k"), 8)
    assert(perPart.count() <= 4 * 8)
  }

  test("merge compacts to cap rows and keeps the MG guarantees") {
    val a = skewed(10000)
    val b = skewed(10000).select(concat(lit("x"), col("k")).as("k"))
    val both = a.unionAll(b)
    val truth = exact(both)
    val cap = 16
    val summaries = HeavyHitters.summarize(a, col("k"), cap)
      .unionAll(HeavyHitters.summarize(b, col("k"), cap))
    val merged = HeavyHitters.merge(summaries, cap)
    assert(merged.count() <= cap)
    val est = merged.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    est.foreach { case (k, e) => assert(e <= truth(k), s"merge overestimated $k") }
    // the 6 hot keys (3 per segment) each hold ~23% of their segment —
    // far above any pruning threshold, so all must survive the compaction
    val hot = truth.filter(_._2 > 2000).keys
    hot.foreach { k => assert(est.contains(k), s"hot key $k lost in merge") }
  }

  test("nulls are dropped; an all-null column yields an empty summary") {
    import spark.implicits._
    val df = Seq[Option[String]](None, None, Some("a"), Some("a"), None).toDF("k")
    val est = HeavyHitters.heavyHitters(df, col("k"), 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est == Map("a" -> 2L))
    val empty = HeavyHitters.heavyHitters(df.filter(col("k").isNull), col("k"), 4)
    assert(empty.count() == 0)
  }

  test("cardinality at or below cap is exact") {
    val df = skewed(1000).filter(col("k").startsWith("hot-"))
    val truth = exact(df)
    val est = HeavyHitters.heavyHitters(df, col("k"), 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est == truth, "small-cardinality summary must be exact counts")
  }
}

class UrlNormSpec extends SparkSpec {
  import spark.implicits._
  import graft.llm.UrlNorm

  private def canon(urls: String*): Seq[String] =
    urls.toDF("u").select(UrlNorm.canonicalizeUrl(col("u"))).as[String].collect().toSeq

  test("canonicalization: scheme, www, host case, fragment, trailing slash, index.html") {
    assert(canon(
      "https://WWW.Example.COM/A/B/",
      "http://example.com/A/B",
      "https://example.com/A/B/index.html#frag",
      "https://example.com",
      "http://example.com/"
    ) == Seq(
      "example.com/A/B", // path case preserved, host lowered, www stripped
      "example.com/A/B",
      "example.com/A/B",
      "example.com",
      "example.com"
    ))
  }

  test("canonicalization: tracking params dropped, survivors sorted, ? removed when empty") {
    assert(canon(
      "https://example.com/p?utm_source=x&utm_campaign=y",
      "https://example.com/p?b=2&a=1",
      "https://example.com/p?a=1&b=2",
      "https://example.com/p?ref=rss&page=2&gclid=z#s",
      "https://example.com/p/index.html?fbclid=abc&page=2"
    ) == Seq(
      "example.com/p",
      "example.com/p?a=1&b=2",
      "example.com/p?a=1&b=2",
      "example.com/p?page=2",
      "example.com/p?page=2"
    ))
  }

  test("host and apexDomain: scheme/www/case handling, subdomains collapse to apex") {
    assert(
      Seq("https://WWW.Site.COM/a", "http://cdn.site.com/x?q=1", "https://a.b.site.com#f",
        "http://site.com", "https://localhost/x")
        .toDF("u")
        .select(UrlNorm.host(col("u")), UrlNorm.apexDomain(col("u")))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("site.com", "site.com"), ("cdn.site.com", "site.com"),
        ("a.b.site.com", "site.com"), ("site.com", "site.com"),
        ("localhost", ""))) // single-label host has no 2-label apex
  }

  test("null url stays null") {
    val out = Seq[Option[String]](None, Some("http://a.com/x"))
      .toDF("u").select(UrlNorm.canonicalizeUrl(col("u")).as("c"))
      .as[Option[String]].collect().toSet
    assert(out == Set(None, Some("a.com/x")))
  }

  test("dedupByUrl keeps the smallest tiebreaker per canonical key with the group count") {
    val df = Seq(
      (1L, "https://www.site.com/page?utm_source=a"),
      (2L, "http://site.com/page/"),
      (3L, "https://SITE.com/page/index.html"),
      (4L, "https://site.com/other"),
      (5L, "https://site.com/page?x=1")
    ).toDF("id", "url")
    val out = UrlNorm.dedupByUrl(df, "url", "id")
      .select("id", "canonical_url", "n_dups")
      .as[(Long, String, Long)].collect().toSet
    assert(out == Set(
      (1L, "site.com/page", 3L),
      (4L, "site.com/other", 1L),
      (5L, "site.com/page?x=1", 1L)
    ))
  }
}

class RobustStatsSpec extends SparkSpec {
  import spark.implicits._
  import graft.llm.RobustStats

  test("groupedQuantiles matches Spark's exact percentile bit-for-bit, NULL group included") {
    val rng = new scala.util.Random(7)
    val rows = (1 to 500).map { i =>
      val g = if (i % 11 == 0) null else s"g${i % 4}"
      (g, rng.nextInt(1000).toDouble)
    }
    val df = rows.toDF("g", "v")
    val ps = Seq(0.0, 0.25, 0.37, 0.5, 0.9, 1.0)
    val got = RobustStats.groupedQuantiles(df, Seq("g"), col("v"), ps)
      .collect().map(r => (Option(r.getString(0)), r.getDouble(1)) -> r.getDouble(2)).toMap
    val exp = df.groupBy("g")
      .agg(expr(s"percentile(v, array(${ps.mkString(",")}))").as("qs"))
      .collect().flatMap { r =>
        val qs = r.getSeq[Double](1)
        ps.zip(qs).map { case (p, q) => (Option(r.getString(0)), p) -> q }
      }.toMap
    assert(got.keySet == exp.keySet)
    got.foreach { case (k, v) => assert(v == exp(k), s"$k: got $v expected ${exp(k)}") }
  }

  test("groupedQuantiles: ties, single-row group, and p=1 boundary") {
    val df = Seq(("a", 5.0), ("a", 5.0), ("a", 5.0), ("a", 9.0), ("b", 3.0))
      .toDF("g", "v")
    val got = RobustStats.groupedQuantiles(df, Seq("g"), col("v"), Seq(0.5, 1.0))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(got == Map(
      ("a", 0.5) -> 5.0, ("a", 1.0) -> 9.0,
      ("b", 0.5) -> 3.0, ("b", 1.0) -> 3.0))
  }

  test("madOutliers flags the junk tail; zero-MAD group stays unflagged with NULL z") {
    // group a: median 10, MAD 1 -> 100 is a huge outlier; group z: all equal
    val df = Seq(
      ("a", 9.0), ("a", 10.0), ("a", 11.0), ("a", 10.0), ("a", 100.0),
      ("z", 7.0), ("z", 7.0), ("z", 7.0)
    ).toDF("g", "v")
    val out = RobustStats.madOutliers(df, Seq("g"), col("v"), k = 3.5)
    val flagged = out.filter(col("is_outlier")).select("g", "v")
      .as[(String, Double)].collect().toSet
    assert(flagged == Set(("a", 100.0)))
    val zRows = out.filter(col("g") === "z")
      .select(col("robust_z").isNull, col("is_outlier")).collect()
    assert(zRows.length == 3 && zRows.forall(r => r.getBoolean(0) && !r.getBoolean(1)))
    // stats columns are exact
    val aStats = out.filter(col("g") === "a").select("median", "mad").head()
    assert(aStats.getDouble(0) == 10.0 && aStats.getDouble(1) == 1.0)
  }

  test("no per-group data window, no percentile buffer in the plan") {
    val df = Seq(("a", 1.0), ("b", 2.0)).toDF("g", "v")
    val plan = RobustStats.groupedQuantiles(df, Seq("g"), col("v"), Seq(0.5))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("percentile"), "must not fall back to the buffering aggregate")
    // the only windows run over (spark_partition_id, group) slices or the
    // bounded counts table — never partitioned by the bare group over data
    assert(!plan.contains("SinglePartition") || !plan.contains("Window"),
      plan.take(3000))
  }
}

class BpeSpec extends SparkSpec {
  import spark.implicits._
  import graft.llm.Bpe

  test("trainFromCounts reproduces the textbook merge sequence with deterministic ties") {
    // Sennrich-style fixture: low:3 lower:2 newest:4 widest:1
    // round 1: (w,e)=6 wins; round 2: (l,o)=5 ties (s,t)=5, lexicographic
    // tie-break picks (l,o); round 3: (s,t)=5.
    val merges = Bpe.trainFromCounts(
      Seq(("low", 3L), ("lower", 2L), ("newest", 4L), ("widest", 1L)), 3)
    assert(merges == Seq(("w", "e"), ("l", "o"), ("s", "t")), merges.toString)
  }

  test("tokenize applies merges greedily by rank; reassembly holds") {
    val merges = Seq(("w", "e"), ("l", "o"), ("s", "t"))
    val out = Seq("lowest", "low lowest", "  spaced   out  ", "")
      .toDF("t").select(Bpe.tokenize(col("t"), merges)).as[Seq[String]].collect()
    assert(out(0) == Seq("lo", "we", "st"))
    assert(out(1) == Seq("lo", "w", "lo", "we", "st"))
    assert(out(2) == Seq("s", "p", "a", "c", "e", "d", "o", "u", "t"))
    assert(out(3) == Seq.empty)
  }

  test("end-to-end: merges trained on a corpus shrink its token count; reassembly exact") {
    val docs = Seq.fill(20)("the merger merged the merging mergers").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val merges = Bpe.trainMerges(docs, "text", numMerges = 12)
    assert(merges.nonEmpty && merges.length <= 12)
    val tok = Bpe.tokenized(docs, "text", merges)
    val row = tok.select(
      concat_ws("", col("tokens")) === regexp_replace(col("text"), "\\s+", ""),
      col("n_bpe_tokens"),
      length(regexp_replace(col("text"), "\\s+", "")).cast("long")).collect()
    assert(row.forall(_.getBoolean(0)), "reassembly must be exact")
    // trained merges must actually compress below character count
    assert(row.forall(r => r.getLong(1) < r.getLong(2)), "no compression happened")
  }

  test("vocab ids are frequency-ordered and encodeIds round-trips with zero OOV") {
    val docs = Seq.fill(8)("aa bb aa cc").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val merges = Seq(("a", "a"), ("b", "b"), ("c", "c"))
    val v = Bpe.vocab(docs, "text", merges)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // "aa" appears 16 times, "bb" and "cc" 8 each (tie -> lexicographic)
    assert(v.toSeq == Seq(("aa", 0L, 16L), ("bb", 1L, 8L), ("cc", 2L, 8L)), v.toSeq.toString)
    val enc = Bpe.encodeIds(docs, "text", merges, Bpe.vocab(docs, "text", merges))
    val r = enc.head()
    assert(r.getSeq[Long](r.fieldIndex("ids")) == Seq(0L, 1L, 0L, 2L))
    assert(r.getAs[Long]("n_tokens") == 4 && r.getAs[Long]("n_oov") == 0)
    // an out-of-corpus token encodes as -1
    val oov = Bpe.encodeIds(Seq((9L, "aa zz")).toDF("id", "text"), "text",
      merges, Bpe.vocab(docs, "text", merges)).head()
    assert(oov.getSeq[Long](oov.fieldIndex("ids")) == Seq(0L, -1L, -1L))
    assert(oov.getAs[Long]("n_oov") == 2)
  }

  test("multi-byte symbols merge as code points, never split") {
    val merges = Seq(("é", "t"), ("c", "a"))
    val out = Seq("café été").toDF("t")
      .select(Bpe.tokenize(col("t"), merges)).as[Seq[String]].head
    assert(out == Seq("ca", "f", "é", "ét", "é"), out.toString)
  }

  test("training and apply share one whitespace definition (Java \\s, not Unicode)") {
    // U+2000 (EN QUAD) is Character.isWhitespace but NOT Java-regex \s:
    // training's split("\\s+") keeps it inside the word, so apply must too
    // — otherwise merges are trained against a segmentation apply never
    // sees (r12 ADVICE finding).
    val docs = Seq((1L, "a b a b")).toDF("id", "text")
    val words = Bpe.wordCounts(docs, "text").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(words.toSeq == Seq(("a b", 2L)), words.toSeq.toString)
    val toks = docs.select(Bpe.tokenize(col("text"), Seq(("x", "y")))).as[Seq[String]].head
    assert(toks == Seq("a", " ", "b", "a", " ", "b"), toks.toString)
  }

  test("vocabTotal reserves ids 0..255 for bytes; learned tokens contiguous from 256") {
    val docs = Seq.fill(4)("aa bb").zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val merges = Seq(("a", "a"), ("b", "b"))
    val v = Bpe.vocabTotal(docs, "text", merges).orderBy("id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(v.length == 258)
    assert(v(0) == ("<0x00>", 0L, 0L) && v(65) == ("<0x41>", 65L, 0L) &&
      v(255) == ("<0xFF>", 255L, 0L))
    assert(v(256) == ("aa", 256L, 4L) && v(257) == ("bb", 257L, 4L), v.drop(256).toSeq.toString)
  }

  test("encodeIdsTotal: unseen emoji/CJK take the byte route, decode exactly, zero OOV") {
    val train = Seq.fill(4)("aa bb").zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val merges = Seq(("a", "a"), ("b", "b"))
    val v = Bpe.vocabTotal(train, "text", merges)
    val docs = Seq((1L, "aa 😀🌍 漢字 bb"), (2L, "aa bb"), (3L, "")).toDF("id", "text")
    val enc = Bpe.encodeIdsTotal(docs, "text", merges, v)
      .withColumn("decoded", Bpe.decodeIds(col("ids"), v))
      .orderBy("id").collect()
    val r1 = enc(0)
    val ids1 = r1.getSeq[Long](r1.fieldIndex("ids"))
    // "aa"→256, the emoji/CJK words decompose to UTF-8 bytes (4+4 and 3+3), "bb"→257
    assert(ids1.head == 256L && ids1.last == 257L)
    assert(ids1.count(_ < 256L) == 14, ids1.toString)
    assert(r1.getAs[Long]("n_oov") == 0L && r1.getAs[Long]("n_fallback_tokens") == 4L)
    assert(r1.getAs[String]("decoded") == "aa😀🌍漢字bb")
    // fully-covered doc: no fallback, same ids as the non-total encoder
    val r2 = enc(1)
    assert(r2.getSeq[Long](r2.fieldIndex("ids")) == Seq(256L, 257L))
    assert(r2.getAs[Long]("n_fallback_tokens") == 0L)
    assert(r2.getAs[String]("decoded") == "aabb")
    // empty text: empty ids, decodes to empty string
    val r3 = enc(2)
    assert(r3.getSeq[Long](r3.fieldIndex("ids")).isEmpty)
    assert(r3.getAs[String]("decoded") == "")
  }

  test("utf8_byte_ids exposes the exact UTF-8 byte decomposition (fallback building block)") {
    val out = Seq(("A", 1L), ("é", 2L), ("😀", 3L), ("", 4L))
      .toDF("t", "id").orderBy("id")
      .select(graft.functions.Utf8ByteIdsExpr.utf8_byte_ids(col("t")))
      .as[Seq[Long]].collect()
    assert(out(0) == Seq(0x41L))
    assert(out(1) == Seq(0xC3L, 0xA9L))
    assert(out(2) == Seq(0xF0L, 0x9FL, 0x98L, 0x80L))
    assert(out(3) == Seq.empty)
  }

  test("fertilityReport: exact counts, byte accounting, and fallback rate per group") {
    val train = Seq.fill(4)("aa bb").zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val merges = Seq(("a", "a"), ("b", "b"))
    val v = Bpe.vocabTotal(train, "text", merges)
    val docs = Seq(
      ("clean", "aa bb"), ("clean", "aa aa bb"),
      ("salted", "aa 漢 bb") // 漢 = 3 UTF-8 bytes via the fallback
    ).toDF("source", "text")
    val rep = Bpe.fertilityReport(docs, "text", "source", merges, v)
      .orderBy("source").collect()
    val clean = rep(0)
    assert(clean.getAs[Long]("n_docs") == 2L && clean.getAs[Long]("n_words") == 5L)
    assert(clean.getAs[Long]("n_tokens") == 5L) // every word is one vocab token
    assert(clean.getAs[Long]("n_fallback_tokens") == 0L)
    assert(clean.getAs[Long]("n_text_bytes") == 10L) // "aabb"+"aaaabb"
    assert(clean.getAs[Double]("fertility") == 1.0)
    assert(clean.getAs[Double]("bytes_per_token") == 2.0)
    val salted = rep(1)
    assert(salted.getAs[Long]("n_words") == 3L)
    assert(salted.getAs[Long]("n_tokens") == 5L) // aa, 3 bytes, bb
    assert(salted.getAs[Long]("n_fallback_tokens") == 1L)
    assert(salted.getAs[Long]("n_text_bytes") == 7L) // 2 + 3 + 2
    assert(salted.getAs[Double]("fallback_rate") == 0.2)
  }

  test("decodeIds: out-of-vocab id decodes to NULL, never a wrong string") {
    val train = Seq((0L, "aa")).toDF("id", "text")
    val v = Bpe.vocabTotal(train, "text", Seq(("a", "a")))
    val df = Seq((1L, Seq(256L)), (2L, Seq(257L)), (3L, Seq(-1L)), (4L, Seq(65L)))
      .toDF("id", "ids")
      .withColumn("decoded", Bpe.decodeIds(col("ids"), v))
      .orderBy("id").collect()
    assert(df(0).getString(2) == "aa")
    assert(df(1).isNullAt(2), "id past the learned vocab must decode to NULL")
    assert(df(2).isNullAt(2), "negative id must decode to NULL")
    assert(df(3).getString(2) == "A") // byte 0x41
  }
}

class LangIdSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.llm.LangId

  test("every held-out sentence classifies to its true language (kernel)") {
    // Held-out = text the profiles never saw; includes the close pairs
    // es/pt/it and de/nl/sv that the stopword heuristic cannot separate.
    val wrong = for {
      (lang, sents) <- LangId.heldOutSentences.toSeq.sortBy(_._1)
      s <- sents
      got = LangId.scorer.classify(s)
      if got != lang
    } yield s"$lang -> $got : $s"
    assert(wrong.isEmpty, s"${wrong.size} misclassified:\n${wrong.mkString("\n")}")
  }

  test("training paragraphs classify to themselves; case-insensitive") {
    for ((lang, text) <- LangId.seedCorpora) {
      assert(LangId.scorer.classify(text) == lang, lang)
      assert(LangId.scorer.classify(text.toUpperCase) == lang, s"$lang uppercase")
    }
  }

  test("no-letter and empty inputs return und; determinism across calls") {
    assert(LangId.scorer.classify("") == "und")
    assert(LangId.scorer.classify("12345 67 89 ---") == "und")
    val s = LangId.heldOutSentences("fr").head
    assert(LangId.scorer.classify(s) == LangId.scorer.classify(s))
  }

  test("non-Latin scripts are decided by script: zh/ja/ko/ru/el/ar/he/hi/th") {
    for ((lang, s) <- LangId.scriptExamples)
      assert(LangId.scorer.classify(s) == lang, s"$lang: $s")
    // kana distinguishes Japanese from Chinese even with shared ideographs
    assert(LangId.scorer.classify("日本語の文章です") == "ja")
    assert(LangId.scorer.classify("中文文章") == "zh")
    // a sprinkle of CJK below the majority threshold falls through to the
    // Latin profiles
    assert(LangId.scorer.classify(
      "the weather is very nice today and we walk 公园 to the park") == "en")
  }

  test("und floor: every out-of-set negative classifies und, no positive does") {
    // the one failure mode a langid filter must not have: a confident
    // wrong label on out-of-set text (unprofiled fi/hu/cs, code, letter
    // soup). The floored scorer sends ALL of them to und...
    val leaked = for {
      (kind, ss) <- LangId.negativeExamples.toSeq.sortBy(_._1)
      s <- ss
      got = LangId.scorerWithFloor.classify(s)
      if got != "und"
    } yield s"$kind -> $got : $s"
    assert(leaked.isEmpty, s"${leaked.size} confident wrong labels:\n${leaked.mkString("\n")}")
    // ...while every held-out POSITIVE keeps its true label (und never
    // appears on the 10-language held-out set) and script-gated languages
    // are untouched (the script IS the confidence)
    val wrong = for {
      (lang, ss) <- LangId.heldOutSentences.toSeq.sortBy(_._1)
      s <- ss
      got = LangId.scorerWithFloor.classify(s)
      if got != lang
    } yield s"$lang -> $got : $s"
    assert(wrong.isEmpty, s"${wrong.size} floored positives:\n${wrong.mkString("\n")}")
    for ((lang, s) <- LangId.scriptExamples)
      assert(LangId.scorerWithFloor.classify(s) == lang, s"$lang: $s")
    // the un-floored scorer still always answers (back-compat)
    assert(LangId.scorer.classify(LangId.negativeExamples("fi").head) != "und")
  }

  test("und floor: hard-coded cutoffs still separate the re-derived fixture scores") {
    // Re-derive the (abs, ratio) score of every calibration fixture from
    // the CURRENT profiles via scorer.allScores — if anyone edits
    // seedCorpora/seedCorporaExtra/profileSize without re-running
    // tools/LangIdCalib, the hard-coded undAbsCutoff/undRatioCutoff pair
    // silently mis-calibrates; this test makes that drift fail loudly by
    // checking the floor's AND-rule directly against fresh scores rather
    // than trusting the constants.
    def scoreOf(s: String): (Double, Double) = {
      val sc = LangId.scorer.allScores(s)
      val abs = sc.map(_._2).min
      (abs, abs / (sc.map(_._2).sum / sc.length))
    }
    val a = LangId.undAbsCutoff
    val r = LangId.undRatioCutoff
    // every positive must clear the floor: abs <= A OR ratio <= R
    val floored = for {
      (lang, ss) <- LangId.heldOutSentences.toSeq.sortBy(_._1)
      s <- ss
      (abs, ratio) = scoreOf(s)
      if abs > a && ratio > r
    } yield f"$lang abs=$abs%.4f ratio=$ratio%.4f : ${s.take(40)}"
    assert(floored.isEmpty,
      s"cutoffs drifted — positives now trip the floor (re-run graft.tools.LangIdCalib):\n${floored.mkString("\n")}")
    // every negative must trip it: abs > A AND ratio > R
    val leaked = for {
      (kind, ss) <- LangId.negativeExamples.toSeq.sortBy(_._1)
      s <- ss
      (abs, ratio) = scoreOf(s)
      if abs <= a || ratio <= r
    } yield f"$kind abs=$abs%.4f ratio=$ratio%.4f : ${s.take(40)}"
    assert(leaked.isEmpty,
      s"cutoffs drifted — negatives now clear the floor (re-run graft.tools.LangIdCalib):\n${leaked.mkString("\n")}")
  }

  test("languageIdNgramFloored runs as an expression; streaming parity") {
    val rows = LangId.negativeExamples.toSeq.flatMap { case (k, ss) => ss.map((k, _)) } ++
      LangId.heldOutSentences.toSeq.flatMap { case (l, ss) => ss.map((l, _)) }
    val df = rows.zipWithIndex.map { case ((k, s), i) => (i.toLong, k, s) }
      .toDF("id", "kind", "text")
      .withColumn("pred", LangId.languageIdNgramFloored(col("text")))
    val bad = df.filter(
      (col("kind").isin(LangId.negativeExamples.keys.toSeq.map(lit): _*) &&
        col("pred") =!= "und") ||
      (col("kind").isin(LangId.heldOutSentences.keys.toSeq.map(lit): _*) &&
        col("pred") =!= col("kind"))).count()
    assert(bad == 0L)
    // streaming parity: the same expression over a memory stream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, String)]
    ms.addData(("fi", LangId.negativeExamples("fi").head),
      ("en", LangId.heldOutSentences("en").head))
    val q = ms.toDF().toDF("kind", "text")
      .withColumn("pred", LangId.languageIdNgramFloored(col("text")))
      .writeStream.format("memory").queryName("langid_floor_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.table("langid_floor_stream")
        .collect().map(r => r.getString(0) -> r.getString(2)).toMap
      assert(got("fi") == "und", got.toString)
      assert(got("en") == "en", got.toString)
    } finally q.stop()
  }

  test("languageIdNgram runs as a narrow expression over a DataFrame") {
    val rows = LangId.heldOutSentences.toSeq.flatMap { case (lang, ss) =>
      ss.map(s => (lang, s))
    }
    val df = rows.toDF("lang", "text")
      .withColumn("pred", LangId.languageIdNgram(col("text")))
    val acc = df.filter(col("pred") === col("lang")).count().toDouble / rows.size
    assert(acc == 1.0, s"accuracy $acc")
    // NULL text stays NULL through the expression
    val n = Seq((1L, null: String)).toDF("id", "text")
      .select(LangId.languageIdNgram(col("text"))).head()
    assert(n.isNullAt(0))
  }
}

class UnigramSpec extends SparkSpec {
  import spark.implicits._
  import graft.llm.Unigram

  test("trainFromCounts: hard-EM keeps the profitable long piece, ids deterministic") {
    // abab×10 + ab×5: seeding weights "abab" 10 and "ab" 25; under the
    // seed scores one "abab" piece (ln 10/115) beats "ab"+"ab"
    // (2·ln 25/115), so hard-EM assigns abab→[abab], ab→[ab]; singles
    // survive with count 0 (totality), dead multis (aba/bab/ba) drop.
    val m = Unigram.trainFromCounts(Seq(("abab", 10L), ("ab", 5L)), vocabSize = 10)
    val byPiece = m.pieces.map(p => p._1 -> p._2).toMap
    assert(byPiece("abab") == 10L && byPiece("ab") == 5L, m.pieces.toString)
    assert(byPiece("a") == 0L && byPiece("b") == 0L, m.pieces.toString)
    assert(m.pieces.map(_._1) == Seq("abab", "ab", "a", "b"), "(freq desc, piece) id order")
    // deterministic: identical corpus -> identical model
    assert(m == Unigram.trainFromCounts(Seq(("abab", 10L), ("ab", 5L)), vocabSize = 10))
  }

  test("vocabSize prunes multis only; every corpus code point always survives") {
    val m = Unigram.trainFromCounts(
      Seq(("abcd", 4L), ("ab", 3L), ("cd", 2L)), vocabSize = 1)
    // room for 0 multis beyond the 4 singles -> only singles remain
    assert(m.pieces.map(_._1).toSet == Set("a", "b", "c", "d"), m.pieces.toString)
    // encoding the training words still round-trips via singles, no fallback
    val enc = new graft.functions.UnigramEncoder(m.scored, m.byteScore)
    val row = Seq(("abcd")).toDF("text")
      .select(Unigram.encodeStruct(col("text"), m)).head().getStruct(0)
    assert(row.getAs[Long]("n_fallback") == 0L)
  }

  test("viterbi beats greedy longest-match and the in-band witness sees it") {
    // "abc" under {ab:-1, abc:-10, c:-1}: greedy eats "abc" (-10),
    // viterbi picks ab+c (-2); score >= greedy_score must hold exactly.
    val m = Unigram.Model(
      Seq(("ab", 10L, -1.0), ("abc", 1L, -10.0), ("c", 5L, -1.0),
        ("a", 0L, -3.0), ("b", 0L, -3.0)), byteScore = -20.0)
    val r = Seq("abc").toDF("text")
      .select(Unigram.encodeStruct(col("text"), m).as("e")).select("e.*").head()
    assert(r.getSeq[String](0) == Seq("ab", "c"), r.toString)
    assert(r.getSeq[Long](1) == Seq(256L, 258L), r.toString)
    assert(r.getDouble(2) == -2.0 && r.getDouble(3) == -10.0)
    assert(r.getDouble(2) >= r.getDouble(3))
  }

  test("equal-score ties keep the longer piece (deterministic backtrack)") {
    val m = Unigram.Model(
      Seq(("xy", 1L, -2.0), ("x", 1L, -1.0), ("y", 1L, -1.0)), byteScore = -20.0)
    val r = Seq("xy").toDF("text")
      .select(Unigram.encodeStruct(col("text"), m).as("e")).select("e.*").head()
    // xy (-2.0) ties x+y (-1-1): longest-first scan keeps "xy"
    assert(r.getSeq[String](0) == Seq("xy"), r.toString)
  }

  test("encodeIds is TOTAL: unseen emoji/CJK take the byte route and decode exactly") {
    val train = Seq.fill(6)((1L, "hello world hello")).toDF("id", "text")
    val m = Unigram.train(train, "text", vocabSize = 50)
    val docs = Seq((1L, "hello 😀🌍 漢字 world"), (2L, ""), (3L, "   ")).toDF("id", "text")
    val enc = Unigram.encodeIds(docs, "text", m)
      .withColumn("decoded", Unigram.decodeIds(col("ids"), m))
      .orderBy("id").collect()
    assert(enc(0).getAs[String]("decoded") == "hello😀🌍漢字world")
    assert(enc(0).getAs[Long]("n_fallback_tokens") == 4L) // 2 emoji + 2 CJK cps
    assert(enc(1).getAs[String]("decoded") == "" && enc(1).getAs[Long]("n_tokens") == 0L)
    assert(enc(2).getAs[String]("decoded") == "")
  }

  test("trained model compresses below character count on its corpus") {
    val docs = Seq.fill(20)((1L, "the merger merged the merging mergers")).toDF("id", "text")
    val m = Unigram.train(docs, "text", vocabSize = 40)
    assert(m.pieces.exists(p => p._1.length >= 3 && p._2 > 0), "no multi-cp piece learned: " + m.pieces)
    val r = Unigram.encodeIds(docs, "text", m)
      .select(col("n_tokens"),
        length(regexp_replace(col("text"), "\\s+", "")).cast("long").as("n_chars"))
      .head()
    assert(r.getLong(0) < r.getLong(1), s"no compression: ${r.getLong(0)} vs ${r.getLong(1)}")
  }

  test("vocabDf layout: 256 byte rows then learned pieces; modelFromVocabDf round-trips") {
    val docs = Seq.fill(4)((1L, "aa bb aa")).toDF("id", "text")
    val m = Unigram.train(docs, "text", vocabSize = 10)
    val v = Unigram.vocabDf(spark, m)
    val rows = v.orderBy("id").collect()
    assert(rows.length == 256 + m.pieces.length)
    assert(rows(0).getString(0) == "<0x00>" && rows(0).getLong(1) == 0L)
    assert(rows(255).getString(0) == "<0xFF>" && rows(255).getLong(1) == 255L)
    assert(rows(256).getLong(1) == 256L)
    assert(Unigram.modelFromVocabDf(v) == m)
    // a table without the byte rows fails fast, never silently mis-encodes
    val bad = v.filter(col("id") >= 256L)
    val e = intercept[IllegalArgumentException](Unigram.modelFromVocabDf(bad))
    assert(e.getMessage.contains("vocabTotal"), e.getMessage)
  }

  test("byte-fallback score sits strictly below every piece score") {
    val m = Unigram.trainFromCounts(Seq(("ab", 3L)), vocabSize = 5)
    assert(m.pieces.forall(_._3 > m.byteScore), (m.pieces, m.byteScore).toString)
  }

  test("score >= greedy_score holds exactly when piece sums round differently across words") {
    import org.apache.spark.unsafe.types.UTF8String
    // "w xy": greedy and Viterbi pick the same pieces w | x y, and
    // (w + x) + y rounds above w + (x + y): adding the greedy pieces to the
    // document total one by one puts greedy_score an ulp above the score
    val (w, x, y) = (-1.0, -1e-16, -1e-16)
    assert((w + x) + y > w + (x + y))
    val row = new graft.functions.UnigramEncoder(Seq("w" -> w, "x" -> x, "y" -> y), -10.0)
      .encode(UTF8String.fromString("w xy"))
    assert(row.getArray(0).toSeq[UTF8String](org.apache.spark.sql.types.StringType)
      .map(_.toString) == Seq("w", "x", "y"))
    val (score, greedy) = (row.getDouble(2), row.getDouble(3))
    assert(score >= greedy, s"score $score < greedy_score $greedy")
    assert(score == greedy)
  }
}

class NaiveBayesSpec extends SparkSpec {
  import spark.implicits._
  import graft.llm.NaiveBayes

  test("train builds the exact count tables; hand-computed prediction") {
    // spam: "buy now" ×2 docs; ham: "meeting notes", "notes" — all counts
    // and the scored argmax are checkable by hand.
    val docs = Seq(
      (1L, "buy now", "spam"), (2L, "buy now", "spam"),
      (3L, "meeting notes", "ham"), (4L, "notes", "ham"))
      .toDF("id", "text", "label")
    val m = NaiveBayes.train(docs, "text", "label")
    val tok = m.tokenTable.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(tok == Map(("spam", "buy") -> 2L, ("spam", "now") -> 2L,
      ("ham", "meeting") -> 1L, ("ham", "notes") -> 2L), tok.toString)
    val cls = m.classTable.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(cls == Map("spam" -> (2L, 4L), "ham" -> (2L, 3L)), cls.toString)
    // V = 4 distinct tokens; "buy": spam ln(3/8), ham ln(1/7); priors equal
    val p = NaiveBayes.predict(Seq((9L, "buy")).toDF("id", "text"), "id", "text", m)
      .head()
    assert(p.getAs[String]("label_pred") == "spam" && p.getAs[Long]("n_tokens") == 1L)
  }

  test("empty and all-unseen docs fall back to the prior; ties break to the smaller label") {
    val docs = Seq(
      (1L, "a b", "x"), (2L, "a b", "x"), (3L, "a b", "x"),
      (4L, "a b", "y")).toDF("id", "text", "label")
    val m = NaiveBayes.train(docs, "text", "label")
    // class x has 3 docs, y has 1 -> prior argmax is x; the unseen token
    // contributes the same smoothed mass to both classes ONLY if their
    // token totals match (they do: x repeats the same 2-token doc);
    // actually N_x=6, N_y=2 differ -> unseen token favors y (smaller
    // normalizer): ln(1/4) - ln(3/4) = -1.386 + 0.288... compute: x: ln(3/4)
    // + ln(1/(6+2)) ; y: ln(1/4) + ln(1/(2+2)). x: -0.2877 - 2.0794 =
    // -2.367; y: -1.3863 - 1.3863 = -2.773 -> x wins.
    val p1 = NaiveBayes.predict(Seq((9L, "zzz")).toDF("id", "text"), "id", "text", m).head()
    assert(p1.getAs[String]("label_pred") == "x")
    // EMPTY doc: prior only -> x (3/4 vs 1/4)
    val p2 = NaiveBayes.predict(Seq((9L, "   ")).toDF("id", "text"), "id", "text", m).head()
    assert(p2.getAs[String]("label_pred") == "x" && p2.getAs[Long]("n_tokens") == 0L)
    // exact tie (identical corpora per class) -> lexicographically smaller
    val tied = Seq((1L, "a", "p"), (2L, "a", "q")).toDF("id", "text", "label")
    val mt = NaiveBayes.train(tied, "text", "label")
    val p3 = NaiveBayes.predict(Seq((9L, "a")).toDF("id", "text"), "id", "text", mt).head()
    assert(p3.getAs[String]("label_pred") == "p")
  }

  test("null labels never train; null/missing text scores on the prior") {
    val docs = Seq((1L, "a b", "x"), (2L, "c d", null.asInstanceOf[String]),
      (3L, "a", "y")).toDF("id", "text", "label")
    val m = NaiveBayes.train(docs, "text", "label")
    assert(m.classTable.collect().map(_.getString(0)).sorted.toSeq == Seq("x", "y"))
    assert(m.tokenTable.filter(col("token").isin("c", "d")).count() == 0)
  }

  test("modelToView/modelFromView round-trips through parquet; predictions unchanged") {
    val docs = Seq((1L, "buy now", "spam"), (2L, "meeting notes", "ham"))
      .toDF("id", "text", "label")
    val m = NaiveBayes.train(docs, "text", "label")
    val dir = java.nio.file.Files.createTempDirectory("nbmodel").toString
    NaiveBayes.modelToView(m).write.mode("overwrite").parquet(dir)
    val m2 = NaiveBayes.modelFromView(spark.read.parquet(dir))
    val q = Seq((9L, "buy notes now"), (10L, "notes meeting")).toDF("id", "text")
    val a = NaiveBayes.predict(q, "id", "text", m).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val b = NaiveBayes.predict(q, "id", "text", m2).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(a == b && a.map(_._2) == Seq("spam", "ham"), (a, b).toString)
  }

  test("vocab cap keeps the heaviest tokens per class; capped model still predicts; class mass untouched") {
    // spam vocab by count: buy=3, now=2, cheap=1; ham: notes=3, meeting=2, agenda=1
    val docs = Seq(
      (1L, "buy buy now", "spam"), (2L, "buy now cheap", "spam"),
      (3L, "notes notes meeting", "ham"), (4L, "notes meeting agenda", "ham"))
      .toDF("id", "text", "label")
    val m = NaiveBayes.train(docs, "text", "label", maxVocabPerClass = 2)
    val tok = m.tokenTable.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(tok == Map(("spam", "buy") -> 3L, ("spam", "now") -> 2L,
      ("ham", "notes") -> 3L, ("ham", "meeting") -> 2L), tok.toString)
    // n_tokens keeps the FULL class mass (6 each), not the capped sum
    val cls = m.classTable.collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(cls == Map("spam" -> 6L, "ham" -> 6L), cls.toString)
    // pruned token ("cheap") scores like an unseen one; prediction intact
    val p = NaiveBayes.predict(
      Seq((9L, "buy cheap"), (10L, "notes agenda")).toDF("id", "text"),
      "id", "text", m).orderBy("id").collect().map(_.getString(1)).toSeq
    assert(p == Seq("spam", "ham"), p.toString)
    // minCount floor drops singletons; cap(model, ...) ≡ train-time cap
    val floored = NaiveBayes.train(docs, "text", "label", minCount = 2L)
    val fl = floored.tokenTable.collect().map(_.getString(1)).sorted.toSeq
    assert(fl == Seq("buy", "meeting", "notes", "now"), fl.toString)
    val capped = NaiveBayes.cap(NaiveBayes.train(docs, "text", "label"),
      maxVocabPerClass = 2)
    val ct = capped.tokenTable.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(ct == tok, ct.toString)
  }

  test("merge(train(A), train(B)) equals train(A ∪ B) exactly — integer count addition") {
    val a = Seq((1L, "buy now", "spam"), (2L, "meeting notes", "ham"))
      .toDF("id", "text", "label")
    val b = Seq((3L, "buy cheap now now", "spam"), (4L, "agenda notes", "ham"),
      (5L, "win big", "promo")).toDF("id", "text", "label")
    val merged = NaiveBayes.merge(
      NaiveBayes.train(a, "text", "label"), NaiveBayes.train(b, "text", "label"))
    val oneShot = NaiveBayes.train(a.unionByName(b), "text", "label")
    def tokMap(m: NaiveBayes.Model) = m.tokenTable.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    def clsMap(m: NaiveBayes.Model) = m.classTable.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(tokMap(merged) == tokMap(oneShot), tokMap(merged).toString)
    assert(clsMap(merged) == clsMap(oneShot), clsMap(merged).toString)
    // a NEW class appearing only in the second batch merges in cleanly
    assert(clsMap(merged).contains("promo"))
  }

  test("write + ingest leaves train(A ∪ B) on disk; predictions match the one-shot model") {
    val a = Seq((1L, "buy now", "spam"), (2L, "meeting notes", "ham"))
      .toDF("id", "text", "label")
    val b = Seq((3L, "buy cheap", "spam"), (4L, "agenda notes notes", "ham"))
      .toDF("id", "text", "label")
    val dir = java.nio.file.Files.createTempDirectory("nbingest").toString + "/model"
    NaiveBayes.write(NaiveBayes.train(a, "text", "label"), dir)
    NaiveBayes.ingest(b, "text", "label", dir)
    val onDisk = NaiveBayes.read(spark, dir)
    val oneShot = NaiveBayes.train(a.unionByName(b), "text", "label")
    def tokMap(m: NaiveBayes.Model) = m.tokenTable.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(tokMap(onDisk) == tokMap(oneShot), tokMap(onDisk).toString)
    val q = Seq((9L, "buy cheap now"), (10L, "notes agenda")).toDF("id", "text")
    val got = NaiveBayes.predict(q, "id", "text", onDisk).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val exp = NaiveBayes.predict(q, "id", "text", oneShot).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == exp && got.map(_._2) == Seq("spam", "ham"), (got, exp).toString)
  }

  private def tokMapOf(m: NaiveBayes.Model) = m.tokenTable.collect()
    .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
  private def clsMapOf(m: NaiveBayes.Model) = m.classTable.collect()
    .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("unlearn(train(A ∪ B), B) equals train(A) exactly — the takedown inverse of merge") {
    val a = Seq((1L, "buy now", "spam"), (2L, "meeting notes", "ham"))
      .toDF("id", "text", "label")
    val b = Seq((3L, "buy cheap now now", "spam"), (4L, "agenda notes", "ham"),
      (5L, "win big", "promo")).toDF("id", "text", "label")
    val unlearned = NaiveBayes.unlearn(
      NaiveBayes.train(a.unionByName(b), "text", "label"), b, "text", "label")
    val expect = NaiveBayes.train(a, "text", "label")
    assert(tokMapOf(unlearned) == tokMapOf(expect), tokMapOf(unlearned).toString)
    assert(clsMapOf(unlearned) == clsMapOf(expect), clsMapOf(unlearned).toString)
    // class "promo" lived only in B: dropped entirely, no orphan token rows
    assert(!clsMapOf(unlearned).contains("promo"))
    assert(unlearned.tokenTable.filter(col("label") === "promo").count() == 0)
    // predictions from the unlearned model match the never-saw-B model
    val q = Seq((9L, "buy cheap now"), (10L, "notes agenda")).toDF("id", "text")
    val got = NaiveBayes.predict(q, "id", "text", unlearned).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val exp = NaiveBayes.predict(q, "id", "text", expect).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == exp, (got, exp).toString)
  }

  test("persisted unlearn inverts ingest: write(train(A)); ingest(B); unlearn(B) leaves train(A)") {
    val a = Seq((1L, "buy now", "spam"), (2L, "meeting notes", "ham"))
      .toDF("id", "text", "label")
    val b = Seq((3L, "buy cheap", "spam"), (4L, "agenda notes notes", "ham"))
      .toDF("id", "text", "label")
    val dir = java.nio.file.Files.createTempDirectory("nbunlearn").toString + "/model"
    NaiveBayes.write(NaiveBayes.train(a, "text", "label"), dir)
    NaiveBayes.ingest(b, "text", "label", dir)
    NaiveBayes.unlearn(b, "text", "label", dir)
    val onDisk = NaiveBayes.read(spark, dir)
    val expect = NaiveBayes.train(a, "text", "label")
    assert(tokMapOf(onDisk) == tokMapOf(expect), tokMapOf(onDisk).toString)
    assert(clsMapOf(onDisk) == clsMapOf(expect), clsMapOf(onDisk).toString)
    // the completed unlearn is on the audit trail: B = 2 docs, 5 tokens
    val log = NaiveBayes.takedownLog(spark, dir)
      .select("docsRemoved", "tokensRemoved").collect().map(_.toSeq).toSeq
    assert(log == Seq(Seq(2L, 5L)), log.toString)
  }

  test("unlearn refuses a batch that is not a subset of the trained data") {
    val a = Seq((1L, "buy now", "spam"), (2L, "meeting notes", "ham"))
      .toDF("id", "text", "label")
    val m = NaiveBayes.train(a, "text", "label")
    // token counts would go negative ("buy" ×2 was never trained)
    val e1 = intercept[IllegalArgumentException] {
      NaiveBayes.unlearn(m, Seq((1L, "buy buy", "spam")).toDF("id", "text", "label"),
        "text", "label")
    }
    assert(e1.getMessage.contains("not a subset"), e1.getMessage)
    // a whole class the model never saw: class totals go negative
    val e2 = intercept[IllegalArgumentException] {
      NaiveBayes.unlearn(m, Seq((1L, "hello", "other")).toDF("id", "text", "label"),
        "text", "label")
    }
    assert(e2.getMessage.contains("not a subset"), e2.getMessage)
    // the refused unlearn changed nothing
    assert(clsMapOf(m) == Map("spam" -> (1L, 2L), "ham" -> (1L, 2L)))
  }

  test("predict fails loudly when the model token table exceeds maxModelRows") {
    val docs = Seq((1L, "a b c d e f g h", "x"), (2L, "i j k", "y"))
      .toDF("id", "text", "label")
    val m = NaiveBayes.train(docs, "text", "label")
    val e = intercept[IllegalArgumentException] {
      NaiveBayes.predict(Seq((9L, "a")).toDF("id", "text"), "id", "text", m,
        maxModelRows = 4L)
    }
    assert(e.getMessage.contains("maxVocabPerClass"), e.getMessage)
    // under the cap the same model predicts normally
    val p = NaiveBayes.predict(Seq((9L, "a")).toDF("id", "text"), "id", "text", m,
      maxModelRows = 100L).head()
    assert(p.getAs[String]("label_pred") == "x")
  }
}

class QualitySignalsSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.CharEntropyExpr.char_entropy
  import graft.functions.DeflateRatioExpr.deflate_ratio

  test("char_entropy: hand-computed values, code-point counting, empty and null") {
    val es = Seq("abca", "aaaa", "", "😀😀x").toDF("t")
      .select(char_entropy(col("t"))).as[Double].collect()
    assert(math.abs(es(0) - 1.0397207708399179) < 1e-12, es(0).toString)
    assert(es(1) == 0.0 && es(2) == 0.0, es.toSeq.toString)
    // 😀 is non-BMP (2 chars, ONE code point): distribution {😀: 2, x: 1}
    val exp = -(2.0 / 3 * math.log(2.0 / 3) + 1.0 / 3 * math.log(1.0 / 3))
    assert(math.abs(es(3) - exp) < 1e-12, es(3).toString)
    assert(Seq(Option.empty[String]).toDF("t")
      .select(char_entropy(col("t"))).head().isNullAt(0))
  }

  test("deflate_ratio: repetition compresses below prose, bounds hold, empty is 1.0") {
    val prose = "the committee reviewed seventeen distinct proposals before lunch"
    val rows = Seq(prose, prose * 8, "", "x").toDF("t")
      .select(deflate_ratio(col("t"))).as[Double].collect()
    assert(rows(0) > 0.0 && rows(0) <= 1.5, rows(0).toString)
    assert(rows(1) < rows(0), s"repetition did not compress: ${rows.toSeq}")
    assert(rows(2) == 1.0)
    // a 1-byte input is ALL header overhead (zlib wraps ~8 bytes around
    // it) — the ratio exceeds 1 freely below a few dozen bytes, which is
    // why thresholds (and q208's bound) only apply to non-tiny documents
    assert(rows(3) > 1.0, rows(3).toString)
    // deterministic across evaluations
    val again = Seq(prose).toDF("t").select(deflate_ratio(col("t"))).head().getDouble(0)
    assert(again == rows(0))
  }
}

class WordCountsSpec extends SparkSpec {
  import spark.implicits._
  import graft.llm.WordCounts

  test("write + ingest leaves the one-shot count table on disk, byte-for-byte") {
    val a = Seq((1L, "the cat sat"), (2L, "the dog")).toDF("id", "text")
    val b = Seq((3L, "the cat ran"), (4L, "dog dog  ")).toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory("wc").toString + "/wc"
    WordCounts.write(a, "text", dir)
    WordCounts.ingest(b, "text", dir)
    val got = WordCounts.read(spark, dir)
      .as[(String, Long)].collect().toMap
    assert(got == Map("the" -> 3L, "cat" -> 2L, "sat" -> 1L, "dog" -> 3L,
      "ran" -> 1L), got.toString)
    // ingest is repeatable state: a second batch keeps adding exactly
    WordCounts.ingest(Seq((5L, "cat")).toDF("id", "text"), "text", dir)
    assert(WordCounts.read(spark, dir).filter(col("word") === "cat")
      .head().getLong(1) == 3L)
  }

  test("topWords: bounded, (cnt desc, word asc) ordered — the tokenizers' training order") {
    val dir = java.nio.file.Files.createTempDirectory("wc").toString + "/wc"
    WordCounts.write(
      Seq((1L, "b b b a a c c z")).toDF("id", "text"), "text", dir)
    val top = WordCounts.topWords(spark, dir, 3)
    assert(top == Seq(("b", 3L), ("a", 2L), ("c", 2L)), top.toString)
  }

  test("delete inverts ingest byte-for-byte: write(A); ingest(B); delete(B) == write(A)") {
    val a = Seq((1L, "the cat sat"), (2L, "the dog")).toDF("id", "text")
    val b = Seq((3L, "the cat ran"), (4L, "dog dog  ")).toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory("wcdel").toString + "/wc"
    WordCounts.write(a, "text", dir)
    WordCounts.ingest(b, "text", dir)
    WordCounts.delete(b, "text", dir)
    val got = WordCounts.read(spark, dir).as[(String, Long)].collect().toMap
    // exactly write(A)'s counts — "ran" (only in B) is GONE, not a zero row
    assert(got == Map("the" -> 2L, "cat" -> 1L, "sat" -> 1L, "dog" -> 1L),
      got.toString)
    assert(WordCounts.read(spark, dir).filter(col("cnt") <= 0).count() == 0)
    // the completed delete is on the audit trail: B had 4 distinct words
    // ("the cat ran" + "dog dog") totalling 5 occurrences
    val log = WordCounts.takedownLog(spark, dir)
      .select("batchWords", "occurrencesRemoved").collect().map(_.toSeq).toSeq
    assert(log == Seq(Seq(4L, 5L)), log.toString)
  }

  test("delete refuses a batch that is not a subset of the table — nothing changes") {
    val dir = java.nio.file.Files.createTempDirectory("wcdel").toString + "/wc"
    WordCounts.write(Seq((1L, "the cat")).toDF("id", "text"), "text", dir)
    val e = intercept[IllegalArgumentException] {
      WordCounts.delete(Seq((2L, "the the")).toDF("id", "text"), "text", dir)
    }
    assert(e.getMessage.contains("not a subset") && e.getMessage.contains("the"),
      e.getMessage)
    val got = WordCounts.read(spark, dir).as[(String, Long)].collect().toMap
    assert(got == Map("the" -> 1L, "cat" -> 1L), got.toString)
  }

  test("tokenizer retrained from the incrementally-built table equals the corpus-trained one") {
    val a = Seq.fill(6)("hugs hug").zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val b = Seq.fill(4)("pugs hugs").zipWithIndex.map { case (t, i) => (100L + i, t) }
      .toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory("wc").toString + "/wc"
    WordCounts.write(a, "text", dir)
    WordCounts.ingest(b, "text", dir)
    val fromCounts = graft.llm.WordPiece.trainFromCounts(
      WordCounts.topWords(spark, dir, 1000), vocabSize = 9)
    val fromCorpus = graft.llm.WordPiece.train(
      a.unionByName(b), "text", vocabSize = 9)
    assert(fromCounts == fromCorpus,
      s"$fromCounts\n != \n$fromCorpus")
  }
}

class WordPieceSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.llm.WordPiece

  // hugs×10 + hug×5 + pugs×4 — every merge hand-computable.
  private val handCounts = Seq(("hugs", 10L), ("hug", 5L), ("pugs", 4L))

  test("trainFromCounts: likelihood scores and tie-breaks, hand-computed merge order") {
    // Alphabet (display-sorted): ##g ##s ##u h p after [UNK].
    // Iter 1: every pair scores 1/19 exactly (each left symbol is always
    //   followed by the same right) -> tie broken by pair count desc:
    //   (##u,##g) c=19 -> ##ug.
    // Iter 2: again all 1/19 -> (h,##ug) c=15 -> hug.
    // Iter 3: (p,##ug) 4/(4·4)=0.25 BEATS the higher-count (hug,##s)
    //   10/(15·14)=0.048 — the likelihood score picking the rarer but
    //   tighter pair, the signature WordPiece-vs-BPE difference -> pug.
    val m = WordPiece.trainFromCounts(handCounts, vocabSize = 9)
    val displays = m.entries.indices.map(m.display)
    assert(displays == Seq("[UNK]", "##g", "##s", "##u", "h", "p", "##ug", "hug", "pug"),
      displays.toString)
    // final segmentation: hugs=hug ##s ×10, hug ×5, pugs=pug ##s ×4
    assert(m.entries.map(_._3) == Seq(0L, 0L, 14L, 0L, 0L, 0L, 0L, 15L, 4L),
      m.entries.toString)
    // deterministic: identical corpus -> identical model
    assert(m == WordPiece.trainFromCounts(handCounts, vocabSize = 9))
  }

  test("with budget, merges continue to whole words and stop when no pair remains") {
    val m = WordPiece.trainFromCounts(handCounts, vocabSize = 50)
    val displays = m.entries.indices.map(m.display)
    // iter4 on: (hug,##s) 10/(15·14) loses to (p,##ug) then (pug,##s)
    // 4/(4·14) and finally (hug,##s) 10/(15·10) — whole words form, then
    // no pair remains and the loop stops well under the budget
    assert(displays == Seq("[UNK]", "##g", "##s", "##u", "h", "p",
      "##ug", "hug", "pug", "pugs", "hugs"), displays.toString)
    val byDisplay = m.entries.indices.map(i => m.display(i) -> m.entries(i)._3).toMap
    assert(byDisplay("hugs") == 10L && byDisplay("hug") == 5L && byDisplay("pugs") == 4L)
  }

  test("greedy longest-match-first encode; ids and pieces; round-trip decode") {
    val m = WordPiece.trainFromCounts(handCounts, vocabSize = 9)
    val r = Seq("hugs  pugs\thug").toDF("text")
      .select(WordPiece.encodeStruct(col("text"), m).as("e")).select("e.*").head()
    assert(r.getSeq[String](0) == Seq("hug", "##s", "pug", "##s", "hug"), r.toString)
    assert(r.getSeq[Long](1) == Seq(7L, 2L, 8L, 2L, 7L), r.toString)
    assert(r.getLong(2) == 0L && r.getLong(3) == 3L)
    val dec = Seq("hugs  pugs\thug").toDF("text")
      .withColumn("e", WordPiece.encodeStruct(col("text"), m))
      .select(WordPiece.decodeIds(col("e.ids"), m)).head().getString(0)
    assert(dec == "hugs pugs hug") // whitespace-normalized
  }

  test("a word with any unmatched position collapses to ONE [UNK]; word boundaries survive") {
    val m = WordPiece.trainFromCounts(handCounts, vocabSize = 9)
    val r = Seq("hug bugs hugs").toDF("text")
      .select(WordPiece.encodeStruct(col("text"), m).as("e")).select("e.*").head()
    // "bugs": b is out-of-alphabet -> single [UNK], not partial pieces
    assert(r.getSeq[String](0) == Seq("hug", "[UNK]", "hug", "##s"), r.toString)
    assert(r.getLong(2) == 1L && r.getLong(3) == 3L)
    // mid-word failure after a matched prefix also rolls back: "hugb"
    val r2 = Seq("hugb").toDF("text")
      .select(WordPiece.encodeStruct(col("text"), m).as("e")).select("e.*").head()
    assert(r2.getSeq[String](0) == Seq("[UNK]"), r2.toString)
    // decode keeps boundaries around [UNK]
    val dec = Seq("hug bugs hugs").toDF("text")
      .withColumn("e", WordPiece.encodeStruct(col("text"), m))
      .select(WordPiece.decodeIds(col("e.ids"), m)).head().getString(0)
    assert(dec == "hug [UNK] hugs")
  }

  test("maxInputChars: an over-long word is one [UNK] without scanning") {
    val m = WordPiece.trainFromCounts(handCounts, vocabSize = 9)
    // 150 cps, segmentable as hug + 147× ##s — [UNK] must come ONLY from
    // the length cap, not from a missing piece
    val long = "hug" + ("s" * 147)
    val r = Seq(long).toDF("text")
      .select(WordPiece.encodeStruct(col("text"), m, maxInputChars = 100).as("e"))
      .select("e.*").head()
    assert(r.getSeq[String](0) == Seq("[UNK]"), r.toString)
    val r2 = Seq(long).toDF("text")
      .select(WordPiece.encodeStruct(col("text"), m, maxInputChars = 200).as("e"))
      .select("e.*").head()
    assert(r2.getLong(2) == 0L && r2.getSeq[String](0).length == 148, r2.toString)
  }

  test("classic BERT shape: un ##aff ##able from a hand-built vocab") {
    val m = WordPiece.Model(Seq(
      ("[UNK]", false, 0L), ("un", false, 1L), ("aff", true, 1L),
      ("able", true, 1L), ("a", false, 1L), ("u", false, 1L)))
    val r = Seq("unaffable").toDF("text")
      .select(WordPiece.encodeStruct(col("text"), m).as("e")).select("e.*").head()
    assert(r.getSeq[String](0) == Seq("un", "##aff", "##able"), r.toString)
  }

  test("continuation is a flag, not a string prefix: a word-initial '##' token decodes raw") {
    // corpus words starting with '#': "##x" fuses into a ROOT token whose
    // TEXT is "##" — the prefix convention would misread it on decode
    val m = WordPiece.trainFromCounts(Seq(("##x", 8L)), vocabSize = 10)
    val enc = Seq("##x ##x").toDF("text")
      .withColumn("e", WordPiece.encodeStruct(col("text"), m))
    val r = enc.select("e.*").head()
    assert(r.getLong(2) == 0L, r.toString) // no [UNK]
    val dec = enc.select(WordPiece.decodeIds(col("e.ids"), m)).head().getString(0)
    assert(dec == "##x ##x", dec)
  }

  test("a literal [UNK] word never matches the reserved row; n_unk == count of id 0") {
    val m = WordPiece.trainFromCounts(handCounts, vocabSize = 9)
    val r = Seq("[UNK] hug").toDF("text")
      .select(WordPiece.encodeStruct(col("text"), m).as("e")).select("e.*").head()
    // '[' is out-of-alphabet -> real unk, id 0, counted
    assert(r.getSeq[Long](1).head == 0L && r.getLong(2) == 1L, r.toString)
    assert(r.getSeq[Long](1).count(_ == 0L) == r.getLong(2))
  }

  test("vocabDf layout round-trips; a table without the [UNK] head fails fast") {
    val m = WordPiece.trainFromCounts(handCounts, vocabSize = 9)
    val v = WordPiece.vocabDf(spark, m)
    val rows = v.orderBy("id").collect()
    assert(rows(0).getString(0) == "[UNK]" && rows(0).getLong(1) == 0L && !rows(0).getBoolean(3))
    assert(rows(2).getString(0) == "##s" && rows(2).getBoolean(3))
    assert(WordPiece.modelFromVocabDf(v) == m)
    val e = intercept[IllegalArgumentException](
      WordPiece.modelFromVocabDf(v.filter(col("id") >= 1L)))
    assert(e.getMessage.contains("WordPiece layout"), e.getMessage)
  }

  test("corpus-trained end-to-end: clean docs round-trip, n_unk==0, and encode compresses") {
    val docs = Seq.fill(20)((1L, "the hugging huggers hugged the hugging hug"))
      .toDF("id", "text")
    val m = WordPiece.train(docs, "text", vocabSize = 40)
    val enc = WordPiece.encodeDetail(docs, "text", m)
      .withColumn("decoded", WordPiece.decodeIds(col("ids"), m))
      .head()
    assert(enc.getAs[Long]("n_unk_words") == 0L)
    assert(enc.getAs[String]("decoded") == "the hugging huggers hugged the hugging hug")
    assert(enc.getAs[Long]("n_tokens") < lengthNoWs("the hugging huggers hugged the hugging hug"))
  }

  test("expression output matches a driver-side reference on random unicode words") {
    val m = WordPiece.trainFromCounts(
      Seq(("alpha", 9L), ("beta", 7L), ("albedo", 3L), ("päivää", 5L), ("漢字", 4L)),
      vocabSize = 30)
    val bodiesRoot = m.entries.zipWithIndex.collect {
      case ((b, false, _), i) if i > 0 => b -> i.toLong
    }.toMap
    val bodiesCont = m.entries.zipWithIndex.collect {
      case ((b, true, _), i) => b -> i.toLong
    }.toMap
    val maxLen = m.entries.drop(1).map(e => e._1.codePointCount(0, e._1.length)).max
    def refWord(word: String): Seq[Long] = {
      val cps = word.codePoints().toArray
      var start = 0
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (start < cps.length) {
        val table = if (start == 0) bodiesRoot else bodiesCont
        var len = math.min(maxLen, cps.length - start)
        var hit = -1L
        var hitLen = 0
        while (len >= 1 && hit < 0) {
          table.get(new String(cps, start, len)).foreach { id => hit = id; hitLen = len }
          len -= 1
        }
        if (hit < 0) return Seq(0L)
        out += hit; start += hitLen
      }
      out.toSeq
    }
    val rnd = new scala.util.Random(4242)
    val alphaChars = "alphbetdo päivä漢字 xz".toCharArray
    val texts = (1 to 200).map { _ =>
      (1 to (1 + rnd.nextInt(6))).map { _ =>
        (1 to (1 + rnd.nextInt(8))).map(_ => alphaChars(rnd.nextInt(alphaChars.length))).mkString
      }.mkString(" ")
    }
    val got = texts.toDF("text")
      .select(col("text"), WordPiece.encodeStruct(col("text"), m).as("e"))
      .collect()
    got.foreach { r =>
      val text = r.getString(0)
      val expect = text.trim.split("\\s+").filter(_.nonEmpty).flatMap(refWord).toSeq
      val actual = r.getStruct(1).getSeq[Long](1)
      assert(actual == expect, s"mismatch on '$text': $actual vs $expect")
    }
  }

  private def lengthNoWs(s: String): Long = s.replaceAll("\\s+", "").length.toLong
}
