package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.functions.{vec_cosine, vec_dot, vec_norm}

class SimilaritySpec extends GraftSuite {
  import spark.implicits._

  test("native vector expressions match scala-side math") {
    val df = Seq(
      (Array(1f, 2f, 3f), Array(4f, 5f, 6f)),
      (Array(0f, 0f, 0f), Array(1f, 1f, 1f))).toDF("a", "b")
    val rows = df.select(
      vec_dot(col("a"), col("b")).as("dot"),
      vec_norm(col("a")).as("na"),
      vec_cosine(col("a"), col("b")).as("cos")).collect()
    assert(math.abs(rows(0).getDouble(0) - 32.0) < 1e-12)
    assert(math.abs(rows(0).getDouble(1) - math.sqrt(14.0)) < 1e-12)
    assert(math.abs(rows(0).getDouble(2) - 32.0 / (math.sqrt(14) * math.sqrt(77))) < 1e-12)
    assert(rows(1).getDouble(2) == 0.0) // zero vector → defined 0, not NaN
  }

  test("brute-force KNN returns k ranked neighbors per query") {
    val knn = Similarity.qKnnBrute(spark, sf).collect()
    val byQuery = knn.groupBy(_.getAs[Long]("query_id"))
    byQuery.values.foreach { rs =>
      assert(rs.length <= 5)
      val sims = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cos_sim"))
      assert(sims.sameElements(sims.sorted.reverse)) // descending by rank
    }
  }

  test("LSH KNN achieves reasonable recall vs exact KNN at top-5") {
    val exact = Similarity.qKnnBrute(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = Similarity.qKnnLsh(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(approx.nonEmpty)
    // 4 tables × 3 bits at ~60° neighbor angles → expected recall ≈ 0.7
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"recall $recall")
    // everything returned must be from the query's own bucket and ranked
    approx.foreach { case (q, n) => assert(q != n) }
  }

  test("IVF KNN probes nprobe cells and achieves reasonable recall vs exact") {
    val exact = Similarity.qKnnBrute(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Similarity.qKnnIvf(spark, sf).collect()
    ivf.foreach { r =>
      assert(r.getAs[Long]("query_id") != r.getAs[Long]("neighbor_id"))
      assert(r.getAs[Long]("rank") <= 5)
    }
    val pairs = ivf.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(pairs.nonEmpty)
    // probing 4 of 16 cells scans ~25% of the corpus; near neighbors
    // concentrate in the query's own cells, so recall lands well above
    // the scan fraction
    val recall = (exact & pairs).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall $recall")
  }

  test("IVF-PQ: neighbors only from probed cells, structured ranks, beats chance recall") {
    import org.apache.spark.sql.functions._
    val got = Similarity.qKnnIvfPq(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val byQ = got.groupBy(_._1)
    assert(byQ.size == 20 && byQ.values.forall(_.length == 5))
    for ((_, rs) <- byQ) {
      val sorted = rs.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
      assert(sorted.map(_._3).sliding(2).forall(p => p.head <= p.last))
      assert(rs.forall(r => r._2 != r._1), "self must be excluded")
    }
    // the scan-prune contract: every returned neighbor's coarse cell is
    // one of its query's nprobe probed cells (replicated driver-side
    // with the same double-fold cosine and tie rules)
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble; i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val cents = (0L until 16L).map(c => c -> vecs(c)).toMap
    def cellsOf(v: Long, n: Int): Seq[Long] =
      cents.toSeq.map { case (c, cv) => (c, cos(vecs(v), cv)) }
        .sortBy { case (c, s) => (-s, c) }.take(n).map(_._1)
    got.foreach { case (q, nb, _, _) =>
      val probed = cellsOf(q, 4).toSet
      assert(probed.contains(cellsOf(nb, 1).head),
        s"neighbor $nb of query $q came from an unprobed cell")
    }
    // recall@5 vs exact cosine top-5: double pruning (4/16 cells + the
    // 8-centroid PQ coding) is coarse but must beat chance widely
    val n = vecs.size
    val exact = Similarity.bruteForceKnn(
      Tables.embeddings(spark, sf).select("vec_id", "embedding"),
      Tables.embeddings(spark, sf).select("vec_id", "embedding")
        .filter(col("vec_id") < 20), 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, rs) => q -> rs.map(_._2).toSet }
    val hits = got.count { case (q, nb, _, _) => exact(q).contains(nb) }
    val recall = hits.toDouble / (20 * 5)
    assert(recall > 25.0 / n, s"recall@5 $recall not above chance ${25.0 / n}")
  }

  test("IVF index refresh is incremental and equals a full rebuild (pinned quantizer)") {
    import spark.implicits._
    import graft.sources.Snapshots
    import graft.operators.Similarity
    val corpus = java.nio.file.Files.createTempDirectory("graft_ivfidx_c").toString
    val index = java.nio.file.Files.createTempDirectory("graft_ivfidx_i").toString + "/t"
    // 200 deterministic 8-dim vectors; ids < 16 seed the pinned quantizer
    def vec(k: Long): Array[Float] =
      Array.tabulate(8)(i => math.sin(k * 37.0 + i * 11.0).toFloat)
    (0L until 200L).map(k => (k, vec(k))).toDF("vec_id", "embedding")
      .repartition(4).write.mode("overwrite").parquet(corpus)
    Snapshots.init(spark, corpus) // v0
    assert(Similarity.refreshIvfIndex(spark, corpus, index) == 0)
    assert(Snapshots.read(spark, index).count() == 200)
    val idxV0 = Snapshots.currentVersion(index)

    // a no-change refresh commits NOTHING
    assert(Similarity.refreshIvfIndex(spark, corpus, index) == 0)
    assert(Snapshots.currentVersion(index) == idxV0)

    // mutate OUTSIDE the centroid seed range (the quantizer is pinned;
    // a rebuild-from-final would re-derive identical centroids, making
    // the bit-identity check below well-posed): reverse 3 vectors,
    // insert 2, delete 4
    Snapshots.mergeVersioned(spark, corpus,
      Seq((20L, vec(20).reverse), (21L, vec(21).reverse), (22L, vec(22).reverse),
        (500L, vec(500)), (501L, vec(501)))
        .toDF("vec_id", "embedding"), "vec_id") // v1
    Snapshots.deleteVersioned(spark, corpus,
      col("vec_id") >= 100L && col("vec_id") < 104L) // v2
    assert(Similarity.refreshIvfIndex(spark, corpus, index) == 2)
    // incremental: exactly one keyed merge for the whole feed window, no
    // rebuild
    assert(Snapshots.currentVersion(index) == idxV0 + 1)

    // BIT-IDENTICAL to a fresh full build over the corpus head
    val index2 = java.nio.file.Files.createTempDirectory("graft_ivfidx_f").toString + "/t"
    Similarity.refreshIvfIndex(spark, corpus, index2)
    val viaRefresh = Snapshots.read(spark, index).collect().map(_.toSeq).toSet
    val viaRebuild = Snapshots.read(spark, index2).collect().map(_.toSeq).toSet
    assert(viaRefresh == viaRebuild)
    assert(Snapshots.read(spark, index)
      .filter(col("vec_id") >= 100L && col("vec_id") < 104L).isEmpty)
    assert(Snapshots.read(spark, index).filter(col("vec_id") === 500L).count() == 1)
  }

  test("r13 TRAINED quantizer: full build trains and pins the codebook, " +
      "refreshes reuse the artifact untouched, incremental == rebuild") {
    import spark.implicits._
    import graft.sources.Snapshots
    import graft.operators.Similarity
    val corpus = java.nio.file.Files.createTempDirectory("graft_ivft_c").toString
    val index = java.nio.file.Files.createTempDirectory("graft_ivft_i").toString + "/t"
    def vec(k: Long): Array[Float] =
      Array.tabulate(8)(i => math.cos(k * 29.0 + i * 13.0).toFloat)
    (0L until 200L).map(k => (k, vec(k))).toDF("vec_id", "embedding")
      .repartition(4).write.mode("overwrite").parquet(corpus)
    Snapshots.init(spark, corpus) // v0
    assert(Similarity.refreshIvfIndex(spark, corpus, index, 16,
      trained = true) == 0)
    // the pinned artifact: Lloyd's centroids, NOT the lowest-id vectors
    val centDir = index + "_centroids"
    val cents0 = spark.read.parquet(centDir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(cents0.size == 16)
    val rawById = (0L until 16L).map(k => k -> vec(k).toSeq).toMap
    assert(cents0.exists { case (cid, v) => rawById(cid) != v },
      "trained centroids must differ from the deterministic seed picks")
    // churn the corpus; the refresh must NOT re-train (train-once):
    // the codebook bytes are identical afterwards
    Snapshots.mergeVersioned(spark, corpus,
      Seq((30L, vec(30).reverse), (700L, vec(700)))
        .toDF("vec_id", "embedding"), "vec_id") // v1
    Snapshots.deleteVersioned(spark, corpus,
      col("vec_id") >= 150L && col("vec_id") < 155L) // v2
    assert(Similarity.refreshIvfIndex(spark, corpus, index, 16,
      trained = true) == 2)
    val cents1 = spark.read.parquet(centDir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(cents1 == cents0, "a refresh must never move the pinned codebook")
    // incremental equals a FULL REBUILD **against the same pinned
    // codebook** (a fresh trained build over the mutated corpus would
    // train different centroids — copy the artifact, then assign)
    val index2 = java.nio.file.Files.createTempDirectory("graft_ivft_f").toString + "/t"
    val centDir2 = index2 + "_centroids"
    spark.read.parquet(centDir).write.parquet(centDir2)
    // un-trained refresh on index2 would OVERWRITE the codebook with
    // seed picks; assign manually through the public ivfKnn quantizer
    // path instead: cell of v = argmax cosine over the pinned codebook
    val cf = spark.read.parquet(centDir2)
    val full = Snapshots.read(spark, corpus).select("vec_id", "embedding")
      .crossJoin(broadcast(cf))
      .withColumn("csim", graft.functions.vec_cosine(col("embedding"), col("cvec")))
      .groupBy("vec_id")
      .agg(max(struct(col("csim"), (-col("cid")).as("ncid"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaRefresh = Snapshots.read(spark, index).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaRefresh == full,
      "incremental assignments diverged from a recompute over the pinned codebook")
  }

  test("per-label centroids cover labels x dims with consistent counts") {
    val rows = Similarity.qEmbedCentroid(spark, sf).collect()
    val emb = Tables.embeddings(spark, sf)
    val nLabels = emb.select("label").distinct().count()
    val dim = emb.selectExpr("size(embedding)").head.getInt(0)
    assert(rows.length == nLabels * dim)
    // every (label, pos) cell averaged over that label's full vector count
    val byLabel = rows.groupBy(_.getAs[Int]("label"))
    val vecCounts = emb.groupBy("label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    byLabel.foreach { case (l, rs) =>
      assert(rs.forall(_.getAs[Long]("n_vecs") == vecCounts(l)))
    }
  }

  test("product quantization: codebook seeds self-code with zero error") {
    val rows = graft.operators.Similarity.qPq(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val n = Tables.embeddings(spark, sf).count()
    // every vector gets exactly one code per subspace
    assert(rows.length == 4 * n)
    assert(rows.forall { case (_, sp, code, err) =>
      sp >= 0 && sp < 4 && code >= 0 && code < 8 && err >= -1e-9 })
    // the k codebook-seed vectors ARE centroids: code == own id, qerr 0
    for ((id, _, code, err) <- rows if id < 8) {
      assert(code == id, s"seed $id coded to $code")
      assert(err == 0.0, s"seed $id err $err")
    }
    // quantization error is bounded by the span of the data (sanity:
    // assigning the NEAREST centroid can't exceed the farthest one)
    val worst = rows.map(_._4).max
    assert(worst > 0.0 && worst.isFinite)
  }

  test("ADC search over PQ codes: deterministic, structured, beats chance") {
    val got = graft.operators.Similarity.qKnnPq(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val byQ = got.groupBy(_._1)
    assert(byQ.size == 20 && byQ.values.forall(_.length == 5))
    // within each query, ranks 1..5 with non-decreasing approx distance
    for ((_, rs) <- byQ) {
      val sorted = rs.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
      assert(sorted.map(_._3).sliding(2).forall(p => p.head <= p.last))
      assert(rs.forall(r => r._2 != r._1), "self must be excluded")
    }
    // recall@5 vs exact L2 top-5: PQ with 8 centroids/subspace is
    // coarse, but must beat random chance (5/N) by a wide margin
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val n = e.count()
    val exact = graft.operators.Similarity.bruteForceKnn(
      e, e.filter(col("vec_id") < 20), 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, rs) => q -> rs.map(_._2).toSet }
    // (exact KNN here is cosine; ADC is L2 — on this corpus they agree
    // enough for a chance-floor test, not an equality test)
    val hits = got.count { case (q, nb, _, _) => exact(q).contains(nb) }
    val recall = hits.toDouble / (20 * 5)
    assert(recall > 25.0 / n, s"recall@5 $recall not above chance ${25.0 / n}")
  }

  test("E18 filtered ANN: label-pure results, exact pre-filter, ivf recall") {
    val out = Similarity.qKnnFiltered(spark, sf).collect()
    val labelOf = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // every neighbor (both strategies) satisfies the predicate
    assert(out.nonEmpty)
    assert(out.forall(r => labelOf(r.getAs[Long]("neighbor_id")) == 1),
      "a neighbor escaped the label filter")
    val pre = out.filter(_.getAs[String]("strategy") == "pre")
    val ivf = out.filter(_.getAs[String]("strategy") == "ivf")
    // pre-filter is EXACT: per query, ranks are dense from 1 and sims
    // descend; ivf hits a sane recall of the exact filtered top-5
    val preTop = pre.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) =>
      q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val ivfTop = ivf.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) =>
      q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val (hit, want) = preTop.foldLeft((0, 0)) { case ((h, w), (q, exact)) =>
      (h + ivfTop.getOrElse(q, Set.empty).intersect(exact).size, w + exact.size) }
    assert(want > 0 && hit.toDouble / want >= 0.5,
      s"filtered-IVF recall ${hit.toDouble / want} below 0.5")
    pre.groupBy(_.getAs[Long]("query_id")).values.foreach { rs =>
      val ranks = rs.map(_.getAs[Long]("rank")).sorted
      assert(ranks.sameElements(1L to ranks.length))
    }
  }

  test("hard negatives: below the dedup threshold, densely ranked, maximal") {
    val rows = Similarity.qHardNegatives(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // every mined negative sits strictly below the near-dup tau
    rows.foreach { case (q, nb, cos, _) =>
      assert(cos < 0.4, s"($q,$nb) cos $cos is a near-dup, not a negative")
      assert(q != nb)
    }
    // ranks are 1..n_q per query with no gaps, capped at 5
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._4).sorted.toSeq == (1L to rs.length).toSeq, s"query $q rank gap")
      assert(rs.length <= 5)
    }
    // maximality: each emitted set is the TOP of the sub-tau band —
    // its minimum cosine is >= any unpicked in-band candidate the IVF
    // probe could have returned (checked against the capped variant
    // run with k large enough to see the whole band)
    val full = Similarity.ivfKnn(
      Tables.embeddings(spark, sf).select("vec_id", "embedding"),
      Tables.embeddings(spark, sf).select("vec_id", "embedding")
        .filter(org.apache.spark.sql.functions.col("vec_id") < 20),
      Int.MaxValue, maxSim = 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val picked = rows.map(r => (r._1, r._2)).toSet
    full.filter(_._4 > 5).foreach { case (q, nb, cos, _) =>
      val minPicked = rows.filter(_._1 == q).map(_._3).min
      assert(cos <= minPicked, s"query $q left a closer negative ($nb, $cos) unpicked")
      assert(!picked.contains((q, nb)))
    }
  }
}
