package graft

import graft.operators.Dedup

class DedupSpec extends GraftSuite {

  test("q_dedup_exact keeps one representative per content hash") {
    val rows = Dedup.qDedupExact(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_copies")).sum == Tables.documents(spark, sf).count())
    assert(rows.map(_.getAs[String]("content_hash")).distinct.length == rows.length)
  }

  test("jaccard pairs are within [tau, 1] and deduplicated") {
    val rows = Dedup.qJaccardPairs(spark, sf, tau = 0.5).collect()
    rows.foreach { r =>
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.5 && j <= 1.0)
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
    }
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).distinct.length == rows.length)
  }

  test("minhash-LSH candidates recover all high-jaccard pairs (recall on S-curve)") {
    val trueDups = Dedup.qJaccardPairs(spark, sf, tau = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val candidates = Dedup.qMinhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 12 hashes / 4 bands: P(candidate | j>=0.8) = 1-(1-j^3)^4 >= 0.95
    assert(trueDups.nonEmpty)
    assert((trueDups -- candidates).size <= math.max(1, trueDups.size / 10))
  }

  test("incremental probe: delta-vs-corpus pairs agree with the full join, corpus never self-pairs") {
    val probe = Dedup.qDedupProbe(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    // probe pairs are strictly (delta, corpus): delta ids ≡ 0 mod 3
    probe.keys.foreach { case (p, c) =>
      assert(p % 3 == 0 && c % 3 != 0, s"side leak in pair ($p, $c)") }
    // every probe hit must carry the SAME exact jaccard the full
    // symmetric join computes for that pair (the probe only changes
    // candidate generation, never the verification arithmetic)
    val full = Dedup.qJaccardPairs(spark, sf, tau = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    probe.foreach { case ((p, c), j) =>
      val key = if (p < c) (p, c) else (c, p)
      assert(full.get(key).contains(j), s"pair ($p,$c): probe $j vs full ${full.get(key)}")
    }
    // recall vs the full join's cross-side HIGH-similarity pairs (the
    // same S-curve bound as the batch LSH test)
    val crossHigh = Dedup.qJaccardPairs(spark, sf, tau = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a % 3 == 0) != (b % 3 == 0) }
      .map { case (a, b) => if (a % 3 == 0) (a, b) else (b, a) }.toSet
    assert(crossHigh.nonEmpty)
    assert((crossHigh -- probe.keySet).size <= math.max(1, crossHigh.size / 10))
  }

  test("signature index refresh is incremental: change-sized commits, marker tracks") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.sources.Snapshots
    val corpus = java.nio.file.Files.createTempDirectory("graft_sigidx_c").toString
    val index = java.nio.file.Files.createTempDirectory("graft_sigidx_i").toString + "/t"
    (1L to 200L).map(k => (k, s"alpha beta gamma delta epsilon token$k end"))
      .toDF("doc_id", "text").repartition(4).write.mode("overwrite").parquet(corpus)
    Snapshots.init(spark, corpus) // corpus v0
    assert(Dedup.refreshSignatureIndex(spark, corpus, index) == 0)
    assert(Snapshots.read(spark, index).count() == 200)
    val idxV0 = Snapshots.currentVersion(index)

    // a no-change refresh commits NOTHING
    assert(Dedup.refreshSignatureIndex(spark, corpus, index) == 0)
    assert(Snapshots.currentVersion(index) == idxV0)

    // mutate: 3 updates, 2 inserts, then a delete of 4 keys
    Snapshots.mergeVersioned(spark, corpus,
      Seq((5L, "changed text one two three four five"),
        (6L, "changed text six seven eight nine ten"),
        (7L, "changed text a b c d e f"),
        (500L, "fresh doc alpha beta gamma fresh"),
        (501L, "fresh doc delta epsilon zeta fresh"))
        .toDF("doc_id", "text"), "doc_id") // corpus v1
    Snapshots.deleteVersioned(spark, corpus, col("doc_id") % 50 === 0) // v2

    assert(Dedup.refreshSignatureIndex(spark, corpus, index) == 2)
    // incremental: exactly ONE index commit (one keyed merge applies the
    // changed docs and the deletes), not a rebuild
    assert(Snapshots.currentVersion(index) == idxV0 + 1)

    // the refreshed index is BIT-IDENTICAL to a full recompute of the
    // corpus head (500 % 50 == 0: one fresh insert died immediately)
    val viaRefresh = Snapshots.read(spark, index).collect()
      .map(_.toSeq).toSet
    val full = Dedup.minhash(Snapshots.read(spark, corpus)).collect()
      .map(_.toSeq).toSet
    assert(viaRefresh == full)
    assert(Snapshots.read(spark, index)
      .filter(col("doc_id") === 500L || col("doc_id") % 50 === 0).isEmpty)
  }

  test("signature index refresh: docs shrunk below one window drop from the index") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.sources.Snapshots
    val corpus = java.nio.file.Files.createTempDirectory("graft_sigidx_s").toString
    val index = java.nio.file.Files.createTempDirectory("graft_sigidx_si").toString + "/t"
    (1L to 50L).map(k => (k, s"alpha beta gamma delta token$k"))
      .toDF("doc_id", "text").repartition(2).write.mode("overwrite").parquet(corpus)
    Snapshots.init(spark, corpus)
    Dedup.refreshSignatureIndex(spark, corpus, index)
    assert(Snapshots.read(spark, index).filter(col("doc_id") === 5L).count() == 1)
    // shrink doc 5 below one 3-token shingle window (no signature row
    // from the recompute — the keyed merge alone would leave its STALE
    // pre-update signature); insert doc 900 sub-window from birth
    Snapshots.mergeVersioned(spark, corpus,
      Seq((5L, "tiny"), (900L, "x y")).toDF("doc_id", "text"), "doc_id")
    Dedup.refreshSignatureIndex(spark, corpus, index)
    val idx = Snapshots.read(spark, index)
    assert(idx.filter(col("doc_id") === 5L).isEmpty,
      "stale signature survived the shrink")
    assert(idx.filter(col("doc_id") === 900L).isEmpty)
    // bit-identical to a full rebuild over the corpus head
    val full = Dedup.minhash(Snapshots.read(spark, corpus)).collect()
      .map(_.toSeq).toSet
    assert(idx.collect().map(_.toSeq).toSet == full)
  }

  test("leakage-free split: no near-dup pair crosses sides, singletons match the plain split") {
    val split = Dedup.qLeakfreeSplit(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // THE property: every verified near-dup pair lands on one side
    val pairs = Dedup.qJaccardPairs(spark, sf, tau = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(split(a)._2 == split(b)._2, s"pair ($a,$b) split across sides") }
    // both sides are populated (84.4% expected train fraction)
    val sides = split.values.map(_._2).toSet
    assert(sides == Set("train", "holdout"))
    // a singleton (its own component) splits exactly as the per-doc
    // hash split would — the gate changes nothing for clean docs
    val plain = graft.operators.TextAnalysis.qHashSplit(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val clustered = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    split.foreach { case (id, (comp, side)) =>
      if (comp == id && !clustered.contains(id))
        assert(side == plain(id), s"singleton $id diverged from plain split") }
  }

  test("simhash of near-duplicate docs differ in few bits") {
    val fp = Dedup.qSimhash(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    val dups = Dedup.qJaccardPairs(spark, sf, tau = 0.8).collect()
    assert(dups.nonEmpty)
    dups.foreach { r =>
      val dist = java.lang.Long.bitCount(fp(r.getLong(0)) ^ fp(r.getLong(1)))
      assert(dist <= 20, s"hamming $dist for pair ${r.getLong(0)},${r.getLong(1)}")
    }
  }

  test("dedup pipeline drops exactly the higher ids of verified pairs") {
    val docs = Tables.documents(spark, sf)
    val dropped = Dedup.qJaccardPairs(spark, sf, tau = 0.5).select("doc_b")
      .distinct().collect().map(_.getLong(0)).toSet
    val kept = Dedup.qDedupPipeline(spark, sf).collect().map(_.getLong(0)).toSet
    assert(kept.size == docs.count() - dropped.size)
    assert((kept & dropped).isEmpty)
  }

  test("embedding near-dup pairs are symmetric-free and above threshold") {
    val rows = Dedup.qEmbedDup(spark, sf, tau = 0.4).collect()
    rows.foreach { r =>
      assert(r.getAs[Double]("cos_sim") >= 0.4)
      assert(r.getAs[Long]("vec_a") < r.getAs[Long]("vec_b"))
    }
  }

  test("embed_dup LSH pruning: perfect precision vs the exact all-pairs kernel") {
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val exact = Dedup.allPairsEmbedDup(spark, sf, tau = 0.4).collect().map(key).toSet
    val pruned = Dedup.qEmbedDup(spark, sf, tau = 0.4).collect().map(key).toSet
    // every surfaced pair is verified with the exact cosine, so pruning
    // can only lose pairs (S-curve recall), never invent them
    assert(pruned.subsetOf(exact))
    assert(exact.isEmpty || pruned.nonEmpty, "LSH lost every pair")
  }

  test("connected components merge chains into one component (min label)") {
    val cc = Dedup.qDedupCc(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
    val pairs = Dedup.qJaccardPairs(spark, sf, tau = 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // both endpoints of every edge share a component, and the component
    // label is the min doc_id reachable (<= both endpoints)
    pairs.foreach { case (a, b) =>
      assert(cc(a) == cc(b), s"edge ($a,$b) split across components")
      assert(cc(a) <= a && cc(a) <= b)
    }
    // every component's label is a member of that component
    cc.values.toSet.foreach { comp: Long => assert(cc(comp) == comp) }
  }

  test("dup spans: verbatim copies score 1.0, unique docs 0.0, self-repeats count") {
    import spark.implicits._
    val body = (1 to 20).map(k => s"w$k").mkString(" ")
    val docs = Seq(
      (0L, body),                     // copied verbatim by doc 1
      (1L, body),
      (2L, (1 to 20).map(k => s"u$k").mkString(" ")), // fully unique
      (3L, "r1 r2 r3 r4 r5 r6 r7 r8 x r1 r2 r3 r4 r5 r6 r7 r8") // self-repeat
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpans(docs, k = 8).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_windows"),
        r.getAs[Long]("n_dup_windows"), r.getAs[Double]("dup_frac"))).toMap
    assert(out(0L) == ((13L, 13L, 1.0)))  // 20 tokens -> 13 windows, all shared with doc 1
    assert(out(1L) == ((13L, 13L, 1.0)))
    assert(out(2L)._2 == 0L && out(2L)._3 == 0.0)
    // doc 3: 17 tokens -> 10 windows; the 8-gram r1..r8 occurs twice
    // WITHIN the doc (positions 1 and 10) -> exactly those 2 count
    assert(out(3L) == ((10L, 2L, 0.2)))
  }

  test("multi-K dup spans: k=8 slice equals D13; coarser K sees only long blocks") {
    import spark.implicits._
    val body = (1 to 20).map(k => s"w$k").mkString(" ")
    val docs = Seq(
      (0L, body), (1L, body),                            // 20-token verbatim pair
      (2L, (1 to 40).map(k => s"u$k").mkString(" ")),    // unique, 40 tokens
      (3L, "r1 r2 r3 r4 r5 r6 r7 r8 x r1 r2 r3 r4 r5 r6 r7 r8"),
      (4L, (1 to 10).map(k => s"s$k").mkString(" "))     // 10 tokens: k=8 only
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpansMulti(docs, Seq(8, 16, 32)).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getAs[Long]("n_windows"),
        r.getAs[Long]("n_dup_windows"), r.getAs[Double]("dup_frac"))).toMap
    // the k=8 slice must be bit-identical to the single-K operator
    val d13 = Dedup.dupSpans(docs, 8).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_windows"),
        r.getAs[Long]("n_dup_windows"), r.getAs[Double]("dup_frac"))).toMap
    d13.foreach { case (id, v) =>
      assert(out((id, 8)) == v, s"doc $id k=8 diverges from D13")
    }
    // verbatim 20-token pair: fully duplicated at k=16 too (5 windows),
    // invisible at k=32 — no 32-window fits a 20-token doc
    assert(out((0L, 16)) == ((5L, 5L, 1.0)))
    assert(!out.contains((0L, 32)))
    // the 8-token self-repeat is pure k=8 signal: its 2 16-windows
    // (starts 1, 2 of 17 tokens) are unique
    assert(out((3L, 16))._2 == 0L)
    // short docs only get rows for K values that fit
    assert(out.contains((4L, 8)) && !out.contains((4L, 16)))
  }

  test("span clean: removes exactly the covered positions, reassembles in order") {
    import spark.implicits._
    val body = (1 to 20).map(k => s"w$k").mkString(" ")
    val uniq = (1 to 20).map(k => s"u$k").mkString(" ")
    val docs = Seq(
      (0L, body), (1L, body),          // verbatim pair: everything removed
      (2L, uniq),                      // untouched
      (3L, "r1 r2 r3 r4 r5 r6 r7 r8 x r1 r2 r3 r4 r5 r6 r7 r8")
    ).toDF("doc_id", "text")
    val out = Dedup.spanClean(docs, k = 8).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_removed"), r.getAs[String]("clean_md5"))).toMap
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(0L) == ((20L, 20L, md5(""))), "verbatim copy not fully removed")
    assert(out(1L) == ((20L, 20L, md5(""))))
    assert(out(2L) == ((20L, 0L, md5(uniq))), "unique doc must be untouched")
    // doc 3: dup windows at starts 1 and 10 cover pos 1..8 and 10..17;
    // only token 9 ("x") survives
    assert(out(3L) == ((17L, 16L, md5("x"))))
  }

  test("tokenization strips END empties only, matching the oracles' list_filter") {
    import spark.implicits._
    // \s+ splits leave empty tokens only at the ends; the oracles
    // filter ALL empties, so the Spark side must too — a trailing-
    // whitespace doc must not grow a phantom token (round-4 latent
    // divergence: only the leading empty was stripped)
    val docs = Seq(
      (0L, "x y z "), (1L, " x y z"), (2L, "  x y z  "),
      (3L, "   "), (4L, "")
    ).toDF("doc_id", "text")
    val out = Dedup.spanClean(docs, k = 8).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_tokens"),
        r.getAs[String]("clean_md5"))).toMap
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    Seq(0L, 1L, 2L).foreach { id =>
      assert(out(id) == ((3L, md5("x y z"))), s"doc $id: ${out(id)}")
    }
    Seq(3L, 4L).foreach { id =>
      assert(out(id) == ((0L, md5(""))), s"whitespace-only doc $id: ${out(id)}")
    }
  }

  test("semdedup: drops exactly the higher-id in-cell near-dups, keeps the rest") {
    import spark.implicits._
    // cells=2, centroids = vecs 0 and 1 (orthogonal); vec 2 ~ vec 0
    // (same direction -> same cell, cos 1.0 -> dropped), vec 3 ~ vec 1
    // but BELOW tau, vec 4 ~ vec 0 exactly -> dropped
    val e = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(2f, 0f, 0f, 0f)),
      (3L, Array(0.7f, 1f, 0f, 0f)), // cos vs vec 1 = 1/√1.49 ≈ 0.819 < tau
      (4L, Array(1f, 0f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val out = Dedup.semdedup(e, tau = 0.95, cells = 2).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("cell"), r.getAs[Long]("keep"))).toMap
    assert(out(0L)._2 == 1L && out(1L)._2 == 1L, "centroid/lowest-id vecs must be kept")
    assert(out(2L) == ((0L, 0L)), "colinear higher-id vec not dropped")
    assert(out(4L) == ((0L, 0L)), "identical higher-id vec not dropped")
    assert(out(3L)._1 == 1L && out(3L)._2 == 1L, "below-tau vec wrongly dropped")
    // oracled end-to-end shape on the warehouse corpus: all vectors
    // decided, drops strictly fewer than vectors
    val full = Dedup.qSemdedup(spark, sf).collect()
    assert(full.length == Tables.embeddings(spark, sf).count())
    val dropped = full.count(_.getAs[Long]("keep") == 0L)
    assert(dropped > 0 && dropped < full.length)
  }
}
