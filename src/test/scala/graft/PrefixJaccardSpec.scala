package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** The adaptive Jaccard join's two regimes (SURVEY §2.4 D2): the
  * bounded-posting direct pair-count join and the heavy-posting
  * AllPairs/PPJoin prefix path must be EXACTLY interchangeable — the
  * prefix + positional bounds are lossless, and verification is a full
  * set intersection.
  */
class PrefixJaccardSpec extends GraftSuite {
  import spark.implicits._

  /** A corpus with deliberate boilerplate: every doc shares one hot
    * 10-word preamble (its shingles' postings = the whole corpus —
    * the web-scale pathology), plus a doc-specific body; docs i and
    * i+1 for even i share most of their body (near-dup pairs). */
  private def boilerplateCorpus(nDocs: Int): org.apache.spark.sql.DataFrame = {
    val preamble = (1 to 10).map(k => s"common$k").mkString(" ")
    (0 until nDocs).map { i =>
      val base = i / 2 // doc 2k and 2k+1 share a body
      val body = (1 to 30).map(k => s"body${base}_$k").mkString(" ")
      val tail = if (i % 2 == 0) "" else s" extra$i a b"
      (i.toLong, s"$preamble $body$tail")
    }.toDF("doc_id", "text")
  }

  test("direct and prefix regimes produce identical pairs") {
    val docs = boilerplateCorpus(60)
    val sh = Dedup.shingles(docs)
    for (tau <- Seq(0.3, 0.5, 0.8)) {
      val direct = Dedup.directJoin(sh, Dedup.Jaccard(tau)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      val prefix = Dedup.prefixJoin(sh, Dedup.Jaccard(tau)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      assert(direct.nonEmpty, s"tau=$tau: expected near-dup pairs in the corpus")
      assert(direct === prefix, s"tau=$tau: regimes disagree")
    }
  }

  test("adaptive dispatch picks the heavy regime only for heavy postings") {
    // boilerplate corpus: the preamble shingles appear in all 60 docs
    val heavy = boilerplateCorpus(60)
    val pairsHeavy = Dedup.jaccardPairs(heavy, tau = 0.5, directMaxPosting = 30L)
    val viaPrefix = Dedup.prefixJoin(Dedup.shingles(heavy), Dedup.Jaccard(0.5))
    assert(pairsHeavy.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      === viaPrefix.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
    // warehouse corpus: postings are bounded -> direct path (same
    // output either way; this just pins the dispatch threshold logic)
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val direct = Dedup.jaccardPairs(docs, tau = 0.5)
    assert(direct.columns.toSeq === Seq("doc_a", "doc_b", "jaccard"))
  }

  test("rounding-boundary pair survives the prefix pruning (true J < tau, round(J,4) == tau)") {
    // Two docs engineered so true J = 19999/40001 ≈ 0.4999875 — BELOW
    // tau=0.5 but rounding to it, so the emission contract
    // round(J,4) >= tau accepts the pair. Pruning bounds derived from
    // tau itself (instead of the rounding-aware tau') prune exactly
    // this pair in the heavy regime while the direct regime and the
    // oracle emit it — the regime-dependent-output bug this pins down.
    val common = (1 to 20001).map(k => s"c$k").mkString(" ")
    val docs = Seq(
      (0L, common + " " + (1 to 10001).map(k => s"a$k").mkString(" ")),
      (1L, common + " " + (1 to 10001).map(k => s"b$k").mkString(" "))
    ).toDF("doc_id", "text")
    val sh = Dedup.shingles(docs)
    val direct = Dedup.directJoin(sh, Dedup.Jaccard(0.5)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val prefix = Dedup.prefixJoin(sh, Dedup.Jaccard(0.5)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(direct === Seq((0L, 1L, 0.5)), s"construction drifted: $direct")
    assert(prefix === direct, "prefix regime pruned the rounding-boundary pair")
  }

  test("containment: direct and prefix regimes produce identical pairs") {
    val docs = boilerplateCorpus(60)
    val sh = Dedup.shingles(docs)
    for (tau <- Seq(0.5, 0.8)) {
      val direct = Dedup.directJoin(sh, Dedup.Containment(tau)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .sorted.toSeq
      val prefix = Dedup.prefixJoin(sh, Dedup.Containment(tau)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .sorted.toSeq
      assert(direct.nonEmpty, s"tau=$tau: expected containment pairs in the corpus")
      assert(direct === prefix, s"tau=$tau: containment regimes disagree")
    }
  }

  test("positional filter bound is lossless on the warehouse corpus") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val sh = Dedup.shingles(docs)
    val direct = Dedup.directJoin(sh, Dedup.Jaccard(0.5)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val prefix = Dedup.prefixJoin(sh, Dedup.Jaccard(0.5)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(direct === prefix,
      s"missed: ${(direct -- prefix).take(5)} spurious: ${(prefix -- direct).take(5)}")
  }
}
