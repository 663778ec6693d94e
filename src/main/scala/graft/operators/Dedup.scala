package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.md5_prefix60

/** Deduplication block (SURVEY.md §2.4) — exact and near-dup detection
  * over the documents/embeddings tables.
  *
  * Scale design: nothing here is O(n²) except the final verification of
  * candidate pairs. Shingles/bands build an inverted index (explode +
  * shuffle on the shingle/band key), so cost is O(corpus) + O(candidate
  * pairs) — the standard MinHash-LSH layout for web-scale dedup.
  *
  * All hashing is md5-derived and immediately folded to 60-bit BIGINTs:
  * engine-agnostic (the DuckDB oracle replays it bit-for-bit) AND
  * HashAggregate-friendly — min()/group-by over fixed-width longs stays
  * in whole-stage codegen, where min() over strings would fall back to
  * SortAggregate and sort the corpus per aggregation.
  *
  * MEMO: every plan-keyed result the family builds (shingle index,
  * posting profile, pair lists, signatures, probe results, embedding
  * profiles and counts, cell assignments, hyperplane buckets) lives in
  * one memo keyed by the canonicalized input plan. The plan does not
  * change when the files under it do, so if the corpus is rewritten
  * in-session (mergeVersioned, deleteWhere, compaction), call
  * [[unpersistShingleIndexes]] first or the family returns results for
  * the pre-rewrite corpus. This is the standard cached-index trade: a
  * batch dedup job builds its index once per corpus snapshot — it does
  * not watch the table.
  */
object Dedup {

  val NumHashes = 12
  val NumBands = 4 // 3 rows per band

  /** 60-bit window hash: the native [[graft.functions.Md5Prefix60]]
    * expression, numerically equal to the oracles'
    * `conv(substr(md5(x), 1, 15), 16, 10)` without materializing the
    * hex string per window.
    */
  private def h60(e: Column): Column = md5_prefix60(e)

  /** The family's memo, keyed by (kind, canonicalized input plan,
    * parameters). One materialization per corpus serves every operator
    * that reads it — the batch-job layout where an index is built once.
    * A build runs OUTSIDE the monitor (several are Spark actions, and
    * holding the monitor would serialize every caller of the family
    * behind one job); the first result published wins. A DataFrame is
    * cached only as it is published, so a lost race leaves nothing to
    * release.
    */
  private val memo = scala.collection.mutable.Map
    .empty[(String, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Any), Any]

  private def memoized[T](kind: String, input: DataFrame, params: Any = ())(
      build: => T): T = {
    val key = (kind, input.queryExecution.analyzed.canonicalized, params)
    synchronized(memo.get(key)).getOrElse {
      val built = build
      synchronized(memo.getOrElseUpdate(key, built match {
        case ds: Dataset[_] => ds.cache()
        case v => v
      }))
    }.asInstanceOf[T]
  }

  /** Releases everything the memo holds — executor memory when a
    * multi-corpus session moves on (Bench deliberately keeps the
    * indexes live within one run). */
  def unpersistShingleIndexes(): Unit = synchronized {
    memo.values.foreach { case ds: Dataset[_] => ds.unpersist(); case _ => }
    memo.clear()
  }

  /** The shingle index of a source plan: every operator in the dedup
    * family (jaccard, minhash, LSH, pipeline, CC) starts from it.
    * Bounded: distinct (doc_id, 60-bit hash) longs. */
  def shingles(docs: DataFrame): DataFrame =
    memoized("shingles", docs)(buildShingleIndex(docs))

  /** Max posting-list length of a shingle index — the one-number
    * profile the adaptive joins dispatch on, memoized beside the index
    * so repeated plan construction (pipelines composing the pair join
    * without executing it) pays the profiling aggregate once per
    * corpus. */
  private[graft] def maxPosting(sh: DataFrame): Long =
    memoized("maxPosting", sh) {
      sh.groupBy("h").agg(count(lit(1)).as("np")).agg(max("np")).head() match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
    }

  /** The verified near-dup pair list per (corpus plan, tau) — the INPUT
    * of the whole graph family (CC, PageRank, triangles, pipeline), so
    * one materialization serves four operators instead of each
    * re-running candidate generation + verification. Bounded: verified
    * pairs are tiny relative to the corpus by construction.
    */
  def nearDupPairs(s: SparkSession, d: String, tau: Double = 0.5): DataFrame =
    memoized("nearDupPairs", Tables.documents(s, d), tau)(qJaccardPairs(s, d, tau))

  /** Non-empty whitespace tokens as a codegen-only column expression —
    * NO interpreted filter() lambda (~50x slower per element). A \s+
    * split can only produce empty tokens at the ENDS (leading
    * whitespace → position 0; trailing whitespace → last position;
    * runs collapse, so never interior), so two conditional slices
    * strip exactly what the oracles' list_filter(x <> '') strips.
    * (Round-3 code stripped only the LEADING empty — a latent
    * divergence from every oracle in the family on any doc with
    * trailing whitespace; the synthetic corpus has none, which is why
    * it never fired. `get` not `element_at` for the trailing probe:
    * the array is empty for whitespace-only docs and ANSI element_at
    * throws on out-of-bounds where get returns null.)
    */
  private[graft] def tokenArray: org.apache.spark.sql.Column = {
    val w0 = split(col("text"), "\\s+")
    val lead = when(element_at(w0, 1) === "",
      slice(w0, lit(2), greatest(size(w0) - 1, lit(0)))).otherwise(w0)
    when(get(lead, size(lead) - 1) === "",
      slice(lead, lit(1), greatest(size(lead) - 1, lit(0)))).otherwise(lead)
  }

  /** (doc_id, start, h): every k-token window of every doc — 1-based
    * start position, 60-bit hash, MULTIPLICITY PRESERVED. The shared
    * assembly for the shingle index (k=3, distinct on top) and the
    * span family (k=8, counts need repeats): k shifted slices zipped
    * positionally, all codegen'd.
    */
  private[graft] def windowHashes(docs: DataFrame, k: Int): DataFrame = {
    val nW = size(col("w")) - (k - 1)
    docs
      .select(col("doc_id"), tokenArray.as("w"))
      .where(size(col("w")) >= k)
      .select(col("doc_id"), posexplode(arrays_zip(
        (1 to k).map(i => slice(col("w"), lit(i), nW).as(s"g$i")): _*)).as(Seq("i", "z")))
      .select(col("doc_id"), (col("i") + 1).as("start"),
        h60(concat_ws(" ", (1 to k).map(i => col(s"z.g$i")): _*)).as("h"))
  }

  /** Distinct 3-word shingles per document, as 60-bit hashes:
    * (doc_id, h). Collisions (~2^-60) hit both engines identically.
    *
    * Shape: trigrams are assembled ARRAY-SIDE via [[windowHashes]]
    * (shifted `slice`s zipped positionally — codegen'd, no
    * interpreted lambda, no exchange-and-sort of raw token STRINGS;
    * tokenization in [[tokenArray]]). The only shuffle in the build
    * moves finished 16-byte (doc_id, h) rows: repartition(doc_id),
    * which the trailing distinct reuses (HashPartitioning(doc_id)
    * satisfies the (doc_id, h) clustering), and every downstream
    * per-doc aggregation in the family rides the same clustering off
    * the cache. Measured 2x faster cold than the round-1 window-lead
    * build at sf0.1, bit-identical output.
    */
  private def buildShingleIndex(docs: DataFrame): DataFrame =
    windowHashes(docs, 3)
      .select("doc_id", "h")
      .repartition(col("doc_id"))
      .distinct()

  /** Shared CTE prefix mirroring [[shingles]] in DuckDB SQL. */
  private[operators] val shinglesCte: String =
    """WITH toks AS (SELECT doc_id,
      |  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
      |  FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |  CAST(('0x' || substr(md5(w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]), 1, 15)) AS BIGINT) AS h
      |  FROM toks, unnest(range(0, greatest(len(w) - 2, 0))) AS t(i))""".stripMargin

  // D1 — exact dedup: group by content hash, keep the min doc_id.
  // At 100 TB this is one shuffle on a 128-bit key; the text column
  // never moves, only (hash, id).
  def qDedupExact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keep_id"))

  val qDedupExactSql: String =
    """SELECT md5(text) AS content_hash, count(*) AS n_copies,
      |  min(doc_id) AS keep_id
      |FROM documents GROUP BY md5(text)""".stripMargin

  // D2 — n-gram Jaccard near-dup pairs via PREFIX-FILTERED inverted
  // index (AllPairs/PPJoin, Bayardo et al. WWW'07; Xiao et al.
  // WWW'08): lossless candidate pruning, then exact verification.
  def qJaccardPairs(s: SparkSession, d: String, tau: Double = 0.5): DataFrame =
    jaccardPairs(Tables.documents(s, d), tau)

  /** DataFrame-based form, so pipelines can near-dup any (doc_id, text)
    * relation (e.g. an already quality-filtered corpus), not just the
    * warehouse table.
    *
    * ADAPTIVE two-regime exact join — the regime is chosen from the
    * measured posting profile of the corpus (one tiny aggregate over
    * the memoized index), the AQE philosophy applied to
    * similarity self-join:
    *
    *  - Bounded postings (max ≤ `directMaxPosting`): [[directJoin]]
    *    — the full inverted-index pair-count join. Σnp² is bounded by
    *    maxPosting·|index|, every stage is codegen'd, and nothing
    *    ships per-doc arrays. On the test corpus (max posting 25) this
    *    measured ~40× cheaper than the prefix path: the pair stream at
    *    100× base is ~50M skinny rows vs ~50 GB of array shuffle.
    *
    *  - Heavy postings (web boilerplate — a shingle shared by 10^5+
    *    docs): [[prefixJoin]] — AllPairs/PPJoin prefix + positional
    *    filtering (Bayardo et al. WWW'07; Xiao et al. WWW'08), whose
    *    cost tracks Σ(prefix-posting²) of the RAREST shingles instead
    *    of the full Σnp² that boilerplate makes quadratic.
    *
    * Both regimes are EXACT (the prefix bound is lossless, then each
    * candidate is verified with a full set intersection), so they are
    * interchangeable — PrefixJaccardSpec asserts bit-equal output on a
    * corpus constructed to force the heavy regime — and the DuckDB
    * oracle stays one INDEPENDENT uncapped formulation for both.
    * (This replaces the round-3 capped join, which silently LOST any
    * pair whose overlap sat in super-hot shingles.)
    */
  def jaccardPairs(docs: DataFrame, tau: Double = 0.5,
      directMaxPosting: Long = 1000L): DataFrame =
    pairJoin(shingles(docs), Jaccard(tau), directMaxPosting)

  /** Smallest TRUE similarity the rounded emission contract can accept:
    * both regimes (and the oracle) emit pairs by `round(sim, 4) >= tau`,
    * which under half-up rounding admits true values down to
    * tau − 0.00005. Pruning bounds derived from tau itself would drop a
    * boundary pair (true J just below tau, rounding up to it) that the
    * direct regime and the DuckDB oracle emit — a regime-DEPENDENT
    * output. All lossless-pruning math below therefore uses this
    * slackened threshold (5.1e-5 over-covers the half-ulp); looser
    * bounds only admit extra candidates for exact verification.
    */
  private def tauPruning(tau: Double): Double = math.max(tau - 5.1e-5, 1e-9)

  // ── The exact set-similarity join ──────────────────────────────────
  // Both measures (Jaccard, containment) run the same two regimes over
  // three shared pieces — the posting pair-count join, the rarest-first
  // prefix ranking and the exact sorted-array verification. A measure
  // supplies only its normalisation and its prefix bound.

  /** A pair measure over a shingle index. `scores` normalises a pair's
    * intersection size by the two docs' sizes into the emitted columns,
    * `keep` is the emission predicate over them, and `candidates` is
    * the measure's lossless prefix bound: every pair that can be kept,
    * as (id_a, id_b), from the rarest-first ranked index. */
  private[graft] sealed trait Measure {
    def tau: Double
    def scores(inter: Column, na: Column, nb: Column): Seq[Column]
    def keep: Column
    def candidates(ranked: DataFrame, tauP: Double): DataFrame
  }

  private[graft] case class Jaccard(tau: Double) extends Measure {
    def scores(inter: Column, na: Column, nb: Column): Seq[Column] =
      Seq(round(inter.cast("double") / (na + nb - inter), 4).as("jaccard"))
    def keep: Column = col("jaccard") >= tau
    /** Prefix + positional filtering (AllPairs/PPJoin). Let L_x = |x| −
      * ⌈τ|x|⌉ + 1 be the prefix length and v_x the L_x-th element under
      * the canonical order. Every common element ≤ min(v_a, v_b) lies in
      * BOTH prefixes and is counted by m; every uncounted common element
      * is > min(v_a, v_b), i.e. beyond the prefix of whichever side has
      * the smaller checkpoint — at most ⌈τ|x|⌉ − 1 elements. So |A∩B| ≤
      * m + max(⌈τ·na⌉, ⌈τ·nb⌉) − 1 (max covers both cases), while J ≥ τ
      * needs |A∩B| ≥ α = ⌈τ/(1+τ)·(na+nb)⌉. Dropping pairs that can't
      * reach α cut the measured candidate count ~4x on the test corpus,
      * and the kill rate grows with doc size (the required m scales
      * with n). (−1e-9 on α: ceil must not round an exactly-integral
      * product UP a notch in fp and over-filter; the extra term reuses
      * the prefix-length expression verbatim so both sides of the
      * inequality share fp behavior.) */
    def candidates(ranked: DataFrame, tauP: Double): DataFrame = {
      val prefix = prefixOf(ranked, tauP)
      val alpha = ceil(lit(tauP / (1 + tauP)) * (col("na") + col("nb")) - lit(1e-9))
      pairCounts(prefix, prefix, first(col("a.n")).as("na"), first(col("b.n")).as("nb"))
        .filter(col("inter") +
          greatest(ceil(lit(tauP) * col("na")), ceil(lit(tauP) * col("nb"))) - 1 >= alpha)
        .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
    }
  }

  /** D12's measure: c(A→B) = |A∩B| / |A| in both directions. */
  private[graft] case class Containment(tau: Double) extends Measure {
    def scores(inter: Column, na: Column, nb: Column): Seq[Column] = Seq(
      round(inter.cast("double") / na, 4).as("cont_ab"),
      round(inter.cast("double") / nb, 4).as("cont_ba"))
    def keep: Column = col("cont_ab") >= tau || col("cont_ba") >= tau
    /** Broder containment prefixes. The emitted predicate is equivalent
      * to |A∩B| / min(na, nb) >= tau (the larger of the two ratios
      * divides by the smaller set), so a surviving pair needs |A∩B| >=
      * ⌈τ'·n_small⌉ — a bound only the SMALLER side's prefix can
      * certify. Hence: prefix-filter the probe (smaller) side, index the
      * larger side in FULL. Cost is Σ_h prefix_np(h)·np(h): boilerplate
      * shingles are by definition frequent, rank LAST in the
      * rarest-first order, and drop out of every prefix — so hot
      * postings multiply against ~0, not against themselves. The join's
      * size ordering makes `a` the smaller side, with a doc_id tiebreak
      * so equal-size pairs appear once. */
    def candidates(ranked: DataFrame, tauP: Double): DataFrame =
      prefixOf(ranked, tauP).as("a")
        .join(ranked.select("doc_id", "h", "n").as("b"),
          col("a.h") === col("b.h") &&
            (col("a.n") < col("b.n") ||
              (col("a.n") === col("b.n") && col("a.doc_id") < col("b.doc_id"))))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
  }

  /** ADAPTIVE regime dispatch on the measured posting profile. */
  private def pairJoin(sh: DataFrame, m: Measure, directMaxPosting: Long): DataFrame =
    if (maxPosting(sh) <= directMaxPosting) directJoin(sh, m) else prefixJoin(sh, m)

  /** The posting pair-count join: every doc pair (doc_a < doc_b) sharing
    * a posting key, with the number of keys shared (`inter`) and any
    * `extra` per-pair aggregates. One shuffle on h (both join sides
    * share it), one on the pair key; 24-byte rows end to end inside
    * whole-stage codegen. */
  private def pairCounts(a: DataFrame, b: DataFrame, extra: Column*): DataFrame =
    a.as("a").join(b.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"), extra: _*)

  /** Pair counts `inter` of docs `a`, `b` scored and kept by `m` over the
    * docs' sizes in `sh`. */
  private def scored(inter: DataFrame, a: String, b: String, sh: DataFrame,
      m: Measure): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    inter
      .join(sizes.as("ca"), col(a) === col("ca.doc_id"))
      .join(sizes.as("cb"), col(b) === col("cb.doc_id"))
      .select(col(a) +: col(b) +: m.scores(col("inter"), col("ca.n"), col("cb.n")): _*)
      .filter(m.keep)
  }

  /** Bounded-posting regime: the full inverted-index pair-count join.
    * Σnp² is bounded by maxPosting·|index| and nothing ships per-doc
    * arrays. */
  private[graft] def directJoin(sh: DataFrame, m: Measure): DataFrame =
    scored(pairCounts(sh, sh), "doc_a", "doc_b", sh, m)

  /** Rarest-first canonical order within each doc: rank `r` by (posting
    * size, h) and the doc size `n`, from one pass (sh is
    * doc_id-partitioned, so the doc windows add one exchange for the
    * h-join only). */
  private def rarestFirst(sh: DataFrame): DataFrame =
    sh.join(sh.groupBy("h").agg(count(lit(1)).as("np")), "h")
      .withColumn("r", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("np").asc, col("h").asc)))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))

  /** Each doc's prefix: its first |x| − ⌈τ'|x|⌉ + 1 ranked shingles. */
  private def prefixOf(ranked: DataFrame, tauP: Double): DataFrame =
    ranked.filter(col("r") <= col("n") - ceil(lit(tauP) * col("n")) + 1)
      .select("doc_id", "h", "n")

  /** Heavy-posting regime: the measure's prefix candidates, each
    * verified exactly — full sorted shingle arrays per doc (no exchange:
    * sh is already doc_id-partitioned) intersected per candidate — and
    * re-oriented to the direct regime's doc_a < doc_b contract. */
  private[graft] def prefixJoin(sh: DataFrame, m: Measure): DataFrame = {
    val sets = sh.groupBy("doc_id")
      .agg(sort_array(collect_list(col("h"))).as("hs"), count(lit(1)).as("n"))
    val fwd = col("id_a") < col("id_b")
    m.candidates(rarestFirst(sh), tauPruning(m.tau))
      .join(sets.as("ca"), col("id_a") === col("ca.doc_id"))
      .join(sets.as("cb"), col("id_b") === col("cb.doc_id"))
      .withColumn("inter", size(array_intersect(col("ca.hs"), col("cb.hs"))).cast("long"))
      .select(least(col("id_a"), col("id_b")).as("doc_a") +:
        greatest(col("id_a"), col("id_b")).as("doc_b") +:
        m.scores(col("inter"), when(fwd, col("ca.n")).otherwise(col("cb.n")),
          when(fwd, col("cb.n")).otherwise(col("ca.n"))): _*)
      .filter(m.keep)
  }

  /** Shared CTE block for the family's oracles: doc sizes and per-pair
    * intersection counts via the FULL uncapped posting join — an
    * INDEPENDENT exact formulation, deliberately not a replay of the
    * prefix filter, so the oracle also proves the pruning lossless. */
  private[operators] val jaccardPairsCte: String =
    """,
      |c AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  val qJaccardPairsSql: String =
    shinglesCte + jaccardPairsCte +
      """
        |SELECT doc_a, doc_b,
        |  round(inter::DOUBLE / (ca.n + cb.n - inter), 4) AS jaccard
        |FROM p JOIN c ca ON doc_a = ca.doc_id JOIN c cb ON doc_b = cb.doc_id
        |WHERE round(inter::DOUBLE / (ca.n + cb.n - inter), 4) >= 0.5""".stripMargin

  /** D12 — containment scoring (Broder's asymmetric Jaccard):
    * c(A→B) = |A∩B| / |A|. A 50-shingle doc fully quoted inside a
    * 5000-shingle doc has Jaccard ≈ 0.01 (invisible to D2) but
    * containment 1.0 — the signal for quote/subset duplication.
    * Same exact inverted-index layout as D2, with the same adaptive
    * regime dispatch: a bounded-posting direct pair-count join, or
    * Broder containment prefixes (smaller side only) on
    * boilerplate-heavy corpora. The emitted pair carries BOTH
    * directions so the consumer can tell subset from superset.
    */
  def qContainment(s: SparkSession, d: String, tau: Double = 0.8): DataFrame =
    containmentPairs(Tables.documents(s, d), tau)

  /** Same adaptive two-regime dispatch as [[jaccardPairs]] — the
    * containment join shares the direct regime's posting self-join
    * shape, so it shares its boilerplate pathology too; without the
    * heavy regime one 10^5-doc boilerplate shingle makes the pair
    * stream quadratic regardless of how the FINAL filter normalizes.
    */
  def containmentPairs(docs: DataFrame, tau: Double = 0.8,
      directMaxPosting: Long = 1000L): DataFrame =
    pairJoin(shingles(docs), Containment(tau), directMaxPosting)

  val qContainmentSql: String =
    shinglesCte + jaccardPairsCte +
      """
        |SELECT doc_a, doc_b,
        |  round(inter::DOUBLE / ca.n, 4) AS cont_ab,
        |  round(inter::DOUBLE / cb.n, 4) AS cont_ba
        |FROM p JOIN c ca ON doc_a = ca.doc_id JOIN c cb ON doc_b = cb.doc_id
        |WHERE round(inter::DOUBLE / ca.n, 4) >= 0.8
        |   OR round(inter::DOUBLE / cb.n, 4) >= 0.8""".stripMargin

  /** D13 — cross-document repeated-span detection (the span-level
    * dedup signal of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", ACL'22): a K-token window is DUPLICATED
    * if its token sequence occurs ≥ 2 times corpus-wide (another doc
    * or a repeat inside the same doc — both are memorization risk).
    * Per doc: window count, duplicated-window count, duplicated
    * fraction — the observability layer that decides which corpora
    * need span REMOVAL, and doc-level near-dup (D2/D4) cannot see a
    * 50-token boilerplate block pasted into otherwise-unique pages.
    *
    * Scale shape: NO pair join anywhere — unlike D2, span dedup needs
    * only occurrence COUNTS, so boilerplate cannot superlinearize
    * anything: windows pre-aggregate to (doc_id, h, c) with map-side
    * partials, the corpus-wide count is a sum-window over h (linear,
    * one shuffle), and the final per-doc rollup rides a second linear
    * aggregate. Cost is O(corpus tokens) end to end.
    */
  def qDupSpans(s: SparkSession, d: String, k: Int = 8): DataFrame =
    dupSpans(Tables.documents(s, d), k)

  def dupSpans(docs: DataFrame, k: Int = 8): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    // the shared window assembly ([[windowHashes]]) WITHOUT distinct:
    // multiplicity is the signal here
    val wins = windowHashes(docs, k).select("doc_id", "h")
    val perDocHash = wins.groupBy("doc_id", "h").agg(count(lit(1)).as("c"))
    perDocHash
      .withColumn("ch", sum("c").over(w.partitionBy("h")))
      .groupBy("doc_id")
      .agg(sum("c").as("n_windows"),
        sum(when(col("ch") >= 2, col("c")).otherwise(lit(0L))).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        round(col("n_dup_windows").cast("double") / col("n_windows"), 4).as("dup_frac"))
  }

  val qDupSpansSql: String = {
    val k = 8
    val cat = (1 to k).map(j => s"w[i+$j]").mkString(" || ' ' || ")
    s"""WITH toks AS (SELECT doc_id,
       |  list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w
       |  FROM documents),
       |win AS (SELECT doc_id,
       |  CAST(('0x' || substr(md5($cat), 1, 15)) AS BIGINT) AS h
       |  FROM toks, unnest(range(0, greatest(len(w) - ${k - 1}, 0))) AS t(i)),
       |dh AS (SELECT doc_id, h, count(*) AS c FROM win GROUP BY 1, 2),
       |tot AS (SELECT doc_id, h, c, sum(c) OVER (PARTITION BY h) AS ch FROM dh)
       |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_windows,
       |  CAST(sum(CASE WHEN ch >= 2 THEN c ELSE 0 END) AS BIGINT) AS n_dup_windows,
       |  round(sum(CASE WHEN ch >= 2 THEN c ELSE 0 END)::DOUBLE / sum(c), 4) AS dup_frac
       |FROM tot GROUP BY doc_id""".stripMargin
  }

  /** D15 — repeated-span REMOVAL (the cleaning half of Lee et al.
    * ACL'22, where D13 is the observability half): every token
    * position covered by ANY duplicated K-window is cut, and the
    * surviving tokens are reassembled in order. Output per doc: token
    * count, removed count, and the md5 of the cleaned text (the
    * content ships as a fingerprint; a pipeline materializes the text
    * itself with the identical plan minus the md5).
    *
    * Scale shape: linear end to end — window hashes as in D13, global
    * occurrence counts per hash (map-side combine), covered positions
    * = K × duplicated windows (a bounded explode), one anti join on
    * (doc, pos), and a per-doc ordered reassembly whose state is the
    * doc's own tokens. The reassembly sort is per-group post-collect
    * (the B36 rule: collected order is partition-nondeterministic);
    * the transform lambda runs once per DOC on bounded arrays, not
    * per token in a corpus-wide hot loop.
    */
  def qSpanClean(s: SparkSession, d: String, k: Int = 8): DataFrame =
    spanClean(Tables.documents(s, d), k)

  def spanClean(docs: DataFrame, k: Int = 8): DataFrame =
    spanCleanBase(docs, k)
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        md5(coalesce(col("ct"), lit(""))).as("clean_md5"))

  /** The cleaning stage for pipeline composition: same plan, but the
    * cleaned TEXT rides out instead of its fingerprint (docs whose
    * every token was covered come back empty, not absent). */
  def spanCleanedText(docs: DataFrame, k: Int = 8): DataFrame =
    spanCleanBase(docs, k)
      .select(col("doc_id"), coalesce(col("ct"), lit("")).as("text"),
        col("n_tokens"), col("n_removed"))

  private def spanCleanBase(docs: DataFrame, k: Int): DataFrame = {
    val ww = org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"), tokenArray.as("w"))
    val pos = toks
      .select(col("doc_id"), posexplode(col("w")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("tok"))
    // ONE pass over the window hashes (a groupBy+join-back would build
    // the k-slice hash explode, the operator's most expensive linear
    // stage, twice), with the D13 (doc, h) pre-aggregation kept so the
    // exchange combines map-side and the per-h window partitions are
    // bounded by DOCS containing h, not raw occurrences — a raw-row
    // window would buffer a 10^7-occurrence boilerplate hash whole in
    // one WindowExec group. Start positions ride the pre-agg as
    // per-(doc,h) collected lists (bounded by the doc's own windows).
    val covered = windowHashes(docs, k)
      .groupBy("doc_id", "h")
      .agg(count(lit(1)).as("c"), collect_list(col("start")).as("starts"))
      .withColumn("ch", sum("c").over(ww.partitionBy("h")))
      .where(col("ch") >= 2)
      .select(col("doc_id"), explode(col("starts")).as("start"))
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + lit(k - 1))).as("pos"))
      .distinct()
    val cleaned = pos.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        expr("array_join(transform(sort_array(collect_list(struct(pos, tok)))," +
          " x -> x.tok), ' ')").as("ct"))
    toks.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
      .join(cleaned, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        col("ct"))
  }

  val qSpanCleanSql: String = {
    val k = 8
    val cat = (1 to k).map(j => s"w[i+$j]").mkString(" || ' ' || ")
    s"""WITH toks AS (SELECT doc_id,
       |  list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w
       |  FROM documents),
       |tok AS (SELECT doc_id, unnest(w) AS tok, generate_subscripts(w, 1) AS pos
       |  FROM toks),
       |win AS (SELECT doc_id, i + 1 AS start,
       |  CAST(('0x' || substr(md5($cat), 1, 15)) AS BIGINT) AS h
       |  FROM toks, unnest(range(0, greatest(len(w) - ${k - 1}, 0))) AS t(i)),
       |ch AS (SELECT h, count(*) AS c FROM win GROUP BY h),
       |cov AS (SELECT DISTINCT w.doc_id, w.start + j AS pos
       |  FROM win w JOIN ch ON w.h = ch.h, unnest(range(0, $k)) AS u(j)
       |  WHERE ch.c >= 2),
       |kept AS (SELECT t.doc_id, t.pos, t.tok
       |  FROM tok t ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos),
       |cl AS (SELECT doc_id, count(*) AS n_kept,
       |  string_agg(tok, ' ' ORDER BY pos) AS ct FROM kept GROUP BY doc_id)
       |SELECT d.doc_id, CAST(len(d.w) AS BIGINT) AS n_tokens,
       |  CAST(len(d.w) - coalesce(cl.n_kept, 0) AS BIGINT) AS n_removed,
       |  md5(coalesce(cl.ct, '')) AS clean_md5
       |FROM toks d LEFT JOIN cl ON d.doc_id = cl.doc_id""".stripMargin
  }

  /** D16 — MULTI-granularity repeated-span detection: D13 at K ∈
    * {8, 16, 32} in ONE pass over ONE window explode. Lee et al.'s
    * suffix-array formulation scores maximal duplicated spans of any
    * length; a single K approximates it from below (every duplicated
    * span of length ≥ K is fully covered by duplicated K-windows,
    * nothing shorter than K is visible). Composing K values recovers
    * the length PROFILE — dup_frac high at 8 but near-zero at 32
    * separates short boilerplate (navigation chrome) from wholesale
    * block duplication — without re-running the corpus explode per K:
    * the kmax shifted slices are zipped and exploded ONCE, each K's
    * window hash is assembled from the first K zipped tokens and
    * guarded to start positions where a K-window still fits, and the
    * per-K hash columns MELT (stack) into (k, h) rows so D13's
    * count/window/rollup machinery runs once, keyed by k.
    *
    * Scale shape identical to D13 — counts only, no pair join, the
    * (k, doc, h) pre-agg combines map-side, the per-(k,h) sum-window
    * partitions bounded by docs containing the window. Cost is
    * O(|ks| × corpus tokens) hashing over ONE explode's rows.
    */
  def qDupSpansMulti(s: SparkSession, d: String): DataFrame =
    dupSpansMulti(Tables.documents(s, d), Seq(8, 16, 32))

  def dupSpansMulti(docs: DataFrame, ks: Seq[Int]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val kmin = ks.min
    val kmax = ks.max
    // one explode at the FINEST granularity; coarser windows reuse the
    // same zipped slice row, guarded to starts where they fit
    val nW = size(col("w")) - (kmin - 1)
    val zipped = docs
      .select(col("doc_id"), tokenArray.as("w"))
      .where(size(col("w")) >= kmin)
      .select(col("doc_id"), size(col("w")).as("n"),
        posexplode(arrays_zip(
          (1 to kmax).map(i => slice(col("w"), lit(i), nW).as(s"g$i")): _*))
          .as(Seq("i", "z")))
    val hashCols = ks.map { k =>
      val cat = concat_ws(" ", (1 to k).map(i => col(s"z.g$i")): _*)
      when(col("i") + lit(k) <= col("n"), h60(cat)).as(s"h_$k")
    }
    val melted = zipped
      .select(col("doc_id") +: hashCols: _*)
      .selectExpr("doc_id",
        s"stack(${ks.length}, " + ks.map(k => s"$k, h_$k").mkString(", ") +
          ") AS (k, h)")
      .where(col("h").isNotNull)
    melted.groupBy("k", "doc_id", "h").agg(count(lit(1)).as("c"))
      .withColumn("ch", sum("c").over(w.partitionBy("k", "h")))
      .groupBy("doc_id", "k")
      .agg(sum("c").as("n_windows"),
        sum(when(col("ch") >= 2, col("c")).otherwise(lit(0L))).as("n_dup_windows"))
      .select(col("doc_id"), col("k"), col("n_windows"), col("n_dup_windows"),
        round(col("n_dup_windows").cast("double") / col("n_windows"), 4)
          .as("dup_frac"))
  }

  val qDupSpansMultiSql: String =
    """WITH toks AS (SELECT doc_id,
      |  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
      |  FROM documents),
      |win AS (SELECT doc_id, k,
      |  CAST(('0x' || substr(md5(array_to_string(list_slice(w, i + 1, i + k), ' ')), 1, 15)) AS BIGINT) AS h
      |  FROM toks, unnest([8, 16, 32]) AS ks(k),
      |       unnest(range(0, greatest(len(w) - k + 1, 0))) AS t(i)),
      |dh AS (SELECT doc_id, k, h, count(*) AS c FROM win GROUP BY 1, 2, 3),
      |tot AS (SELECT doc_id, k, h, c, sum(c) OVER (PARTITION BY k, h) AS ch FROM dh)
      |SELECT doc_id, k, CAST(sum(c) AS BIGINT) AS n_windows,
      |  CAST(sum(CASE WHEN ch >= 2 THEN c ELSE 0 END) AS BIGINT) AS n_dup_windows,
      |  round(sum(CASE WHEN ch >= 2 THEN c ELSE 0 END)::DOUBLE / sum(c), 4) AS dup_frac
      |FROM tot GROUP BY doc_id, k""".stripMargin

  /** Universal-hash family over the 31-bit field (p = 2^31-1, the
    * Mersenne prime Spark's own MinHashLSH uses): hash i maps a shingle
    * long h to (a_i*(h mod p) + b_i) mod p. Pure 64-bit codegen
    * arithmetic — (p-1)^2 + p < 2^63, so nothing overflows — and the
    * DuckDB oracle replays it bit-for-bit with the same literals.
    * (Round 1 used 12 md5-over-string min-aggregates here; that was
    * 22% of the whole bench suite. Same MinHash guarantees, no md5.)
    */
  val P31 = 2147483647L

  /** Deterministic (a, b) for hash i, derived on the driver from md5
    * bytes and shipped as literals — a in [1, p-1], b in [0, p-1]. */
  private[graft] def uhParam(i: Int): (Long, Long) = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"graft-mh$i".getBytes("UTF-8"))
    def long8(off: Int): Long =
      (0 until 8).foldLeft(0L)((acc, j) => (acc << 8) | (d(off + j) & 0xffL))
    (Math.floorMod(long8(0), P31 - 1) + 1, Math.floorMod(long8(8), P31))
  }

  /** k universal min-hashes per doc of a (doc_id, h) shingle frame, in
    * ONE HashAggregate (k min() aggregates over longs, map-side
    * partial). */
  private def signatures(sh: DataFrame, k: Int): DataFrame = {
    val aggs = (0 until k).map { i =>
      val (a, b) = uhParam(i)
      min(expr(s"($a * (h % $P31) + $b) % $P31")).as(f"mh$i%02d")
    }
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** D3 — MinHash signatures over the shingle index, memoized per
    * (corpus plan, k): D3 (signatures), D4 (banding) and D11
    * (estimation, which needs signatures TWICE — once for banding, once
    * for the component-agreement join) all read the same
    * materialization. Bounded: k longs per doc.
    */
  def minhash(docs: DataFrame, k: Int = NumHashes): DataFrame =
    memoized("minhash", docs, k)(signatures(shingles(docs), k))

  private def minhashSelectSql: String = {
    val cols = (0 until NumHashes)
      .map { i =>
        val (a, b) = uhParam(i)
        f"  min(($a%d * (h %% $P31%d) + $b%d) %% $P31%d) AS mh$i%02d"
      }
      .mkString(",\n")
    s"SELECT doc_id,\n$cols\nFROM sh GROUP BY doc_id"
  }

  def qMinhash(s: SparkSession, d: String): DataFrame =
    minhash(Tables.documents(s, d))

  val qMinhashSql: String = shinglesCte + "\n" + minhashSelectSql

  /** The minhash band assigner: one (doc_id, band, r0..) row per band,
    * the bucket key being the tuple of the band's row min-hashes — no
    * re-hashing (md5 or otherwise) is needed to group on it. */
  private def bandBuckets(sigs: DataFrame, k: Int = NumHashes,
      bands: Int = NumBands): DataFrame = {
    val rows = k / bands
    val bandCols = (0 until bands).map { b =>
      val rs = (0 until rows).map(j => col(f"mh${b * rows + j}%02d").as(s"r$j"))
      struct((lit(b).as("band") +: rs): _*)
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("doc_id") +: bandKey(rows).map(c => col(s"bs.$c").as(c)): _*)
  }

  private def bandKey(rows: Int): Seq[String] = "band" +: (0 until rows).map(j => s"r$j")

  /** Band buckets with their size `bsz`: a window count over the same
    * partitioning as the candidate join on the key, so the cap adds no
    * exchange beyond the one shuffle on (band, rows...). */
  private def sizedBuckets(buckets: DataFrame, key: Seq[String]): DataFrame =
    buckets.withColumn("bsz", count(lit(1)).over(Window.partitionBy(key.map(col): _*)))

  private def sameBucket(key: Seq[String]): Column =
    key.map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _)

  /** D4 — LSH candidate pairs: band each signature into buckets, pair
    * docs within a bucket. Single pipeline pass (no self-join
    * recompute): shingles → minhash → band buckets → pairs from a
    * self-equi-join on the bucket key (codegen'd). Probability of a
    * pair surfacing ≈ 1-(1-j^rows)^bands — the classic S-curve.
    * Pathological buckets (mass-duplicated content) are capped at
    * `maxBucket` docs, the standard guard against quadratic blowup on
    * boilerplate at web scale.
    */
  def lshCandidates(docs: DataFrame, k: Int = NumHashes, bands: Int = NumBands,
      maxBucket: Int = 1000): DataFrame = {
    val key = bandKey(k / bands)
    val buckets = sizedBuckets(bandBuckets(minhash(docs, k), k, bands), key)
      .filter(col("bsz").between(2, maxBucket))
    buckets.as("a").join(buckets.as("b"), sameBucket(key) && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  def qMinhashLsh(s: SparkSession, d: String): DataFrame =
    lshCandidates(Tables.documents(s, d))

  /** Shared CTE prefix (shingles → signatures → banded buckets with the
    * maxBucket cap) mirroring [[lshCandidates]]; suffixed by both the
    * LSH-pairs oracle and the D11 estimation oracle. */
  private val lshCtePrefix: String = {
    val rows = NumHashes / NumBands
    val rCols = (0 until rows).map(j => s"r$j").mkString(", ")
    val bandSelects = (0 until NumBands).map { b =>
      val sel = (0 until rows)
        .map(j => f"mh${b * rows + j}%02d AS r$j").mkString(", ")
      s"SELECT doc_id, $b AS band, $sel FROM mh"
    }.mkString("\n  UNION ALL ")
    shinglesCte +
      s""",
         |mh AS (\n$minhashSelectSql),
         |buckets AS (\n  $bandSelects),
         |sized AS (
         |  SELECT doc_id, band, $rCols,
         |    count(*) OVER (PARTITION BY band, $rCols) AS bsz
         |  FROM buckets)""".stripMargin
  }

  /** The candidate-pair SELECT, mirroring [[lshCandidates]] exactly,
    * INCLUDING the maxBucket cap. */
  private val lshPairSelect: String = {
    val rows = NumHashes / NumBands
    val onEq = (0 until rows).map(j => s"a.r$j = b.r$j").mkString(" AND ")
    s"""SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM sized a JOIN sized b
       |  ON a.band = b.band AND $onEq AND a.doc_id < b.doc_id
       |WHERE a.bsz <= 1000""".stripMargin
  }

  val qMinhashLshSql: String = lshCtePrefix + "\n" + lshPairSelect

  /** D17 — INCREMENTAL near-dup probe: dedup a NEW batch (the delta)
    * against an EXISTING corpus without ever re-processing — let alone
    * self-joining — the corpus. This is the shape a production
    * pipeline actually runs daily at 100 TB: the corpus's shingle
    * index and MinHash signatures are standing capital (here: the
    * shared memo, built once per corpus for the whole dedup
    * family), the delta's signatures band-probe the corpus's LSH
    * buckets (equi-join, corpus-side bucket-size cap — the web-scale
    * boilerplate guard), and only the surviving candidate pairs pay an
    * exact Jaccard verification through the shingle index. Cost:
    * O(delta × bucket occupancy) for the probe + O(candidates) to
    * verify; the corpus contributes its index once and is never
    * paired with itself. Delta-internal duplicates are out of scope by
    * design — they are the NEXT increment's corpus-side problem (or a
    * D2 pass over the delta alone, which is delta-sized).
    *
    * Split: delta = doc_id ≡ 0 (mod 3), corpus = the rest. Signatures
    * for BOTH sides are filtered from the one full-corpus signature
    * table — a doc's signature depends only on its own shingles, so
    * filtering the memoized table equals building per-side tables,
    * without a second materialization.
    */
  def qDedupProbe(s: SparkSession, d: String, tau: Double = 0.5): DataFrame = {
    val docs = Tables.documents(s, d)
    memoized("probe", docs, tau)(probeVerifiedPairs(docs, tau))
  }

  /** Verified cross-side pairs of [[qDedupProbe]], memoized per
    * (corpus, τ) like the rest of the family: the probe build (corpus
    * bucketization + candidate join + shingle-index verification) is
    * one-time family capital — D18's ingest gate rides the SAME
    * materialization instead of re-running it, which is exactly the
    * full-suite anomaly the round-7 bench flagged (q_dedup_ingest 17.4 s
    * committed vs 6.2 s solo: two full probe builds for one family). */
  private def probeVerifiedPairs(docs: DataFrame, tau: Double): DataFrame = {
    val isDelta = col("doc_id") % 3 === 0
    val key = bandKey(NumHashes / NumBands)
    val sigs = minhash(docs)
    // corpus buckets carry the size cap (a probe into a boilerplate
    // bucket of 10^5 corpus docs must not fan out); no minimum-2
    // filter — a single-doc corpus bucket is still a valid probe hit
    val corpusB = sizedBuckets(bandBuckets(sigs.filter(!isDelta)), key)
      .filter(col("bsz") <= 1000)
    val cand = bandBuckets(sigs.filter(isDelta)).as("a").join(corpusB.as("b"), sameBucket(key))
      .select(col("a.doc_id").as("probe_id"), col("b.doc_id").as("corpus_id"))
      .distinct()
    // exact verification through the SHARED shingle index: candidates
    // are tiny, so this is two candidate-sized semi-join probes into
    // the index plus one pair-count aggregate — never corpus²
    val sh = shingles(docs)
    val inter = cand
      .join(sh.as("x"), col("probe_id") === col("x.doc_id"))
      .join(sh.as("y"),
        col("corpus_id") === col("y.doc_id") && col("x.h") === col("y.h"))
      .groupBy("probe_id", "corpus_id").agg(count(lit(1)).as("inter"))
    scored(inter, "probe_id", "corpus_id", sh, Jaccard(tau))
  }

  /** D19 — the signature index MAINTAINED INCREMENTALLY over a
    * VERSIONED corpus (A18 + A20 + D3 composed): signatures live in
    * their own versioned table keyed by doc_id, refreshed by
    * [[Similarity.refreshIndex]] — signatures are recomputed ONLY for
    * inserted/updated docs, outside the family memo (caching a
    * plan-keyed index per batch would only leak executor memory), and
    * each feed window lands as one keyed merge whose commit records
    * the corpus version it covers. A doc whose new text has fewer than
    * 3 tokens has no signature (windowHashes needs one full window), so
    * the merge deletes its stale one — a from-scratch rebuild has no
    * row for it. Index maintenance cost tracks CHANGE volume, never
    * corpus size. First call = full build. Returns the corpus version
    * now indexed.
    */
  def refreshSignatureIndex(s: SparkSession, corpusDir: String,
      indexDir: String): Int =
    Similarity.refreshIndex(s, corpusDir, indexDir, "doc_id") { docs =>
      // one row per doc: a null shingle keeps a sub-window doc in the
      // aggregate with null min-hashes (min skips nulls elsewhere)
      signatures(windowHashes(docs, 3).select("doc_id", "h").distinct()
        .unionByName(docs.select(col("doc_id"), lit(null).cast("long").as("h"))), NumHashes)
    }
  /** Driver query for D19: stage the documents table as a versioned
    * corpus, full-build the index, mutate the corpus (text updates on
    * keys ≡ 0 mod 17, fresh inserts as negated keys ≡ 0 mod 29, a
    * delete of keys ≡ 0 mod 23), refresh INCREMENTALLY, and return the
    * index table — which the oracle reproduces by recomputing MinHash
    * over the reconstructed final corpus. A stale signature (missed
    * update), leaked signature (missed delete), or drifted hash breaks
    * the row hash.
    */
  def qSigIndex(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    // staged via the shared lake tempdir registry so bench/verify
    // reclaim the corpus-sized copies between queries
    val corpus = graft.sources.LakehouseQueries.tempDir("graft_sig_corpus")
    val index = graft.sources.LakehouseQueries.tempDir("graft_sig_index") + "/t"
    docs.repartition(4).write.mode("overwrite").parquet(corpus)
    graft.sources.Snapshots.init(s, corpus)
    refreshSignatureIndex(s, corpus, index) // full build at v0
    val upd = docs.filter(col("doc_id") % 17 === 0)
      .select(col("doc_id"), concat(col("text"), lit(" zz zz zz")).as("text"))
    val ins = docs.filter(col("doc_id") % 29 === 0 && col("doc_id") > 0)
      .select((-col("doc_id")).as("doc_id"),
        concat(lit("new "), col("text")).as("text"))
    graft.sources.Snapshots.mergeVersioned(s, corpus, upd.unionByName(ins), "doc_id")
    graft.sources.Snapshots.deleteVersioned(s, corpus, col("doc_id") % 23 === 0)
    refreshSignatureIndex(s, corpus, index) // incremental
    graft.sources.Snapshots.read(s, index)
  }

  val qSigIndexSql: String = {
    s"""WITH docs2 AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 17 = 0 THEN text || ' zz zz zz'
       |         ELSE text END AS text
       |  FROM documents WHERE doc_id % 23 <> 0
       |  UNION ALL
       |  SELECT -doc_id, 'new ' || text
       |  FROM documents
       |  WHERE doc_id % 29 = 0 AND doc_id > 0 AND doc_id % 23 <> 0),
       |toks AS (SELECT doc_id,
       |  list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w
       |  FROM docs2),
       |sh AS (SELECT DISTINCT doc_id,
       |  CAST(('0x' || substr(md5(w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]), 1, 15)) AS BIGINT) AS h
       |  FROM toks, unnest(range(0, greatest(len(w) - 2, 0))) AS t(i))
       |$minhashSelectSql""".stripMargin
  }

  /** Shared CTE prefix of the probe oracle (through `pairs`+`sizes`),
    * reused by the D18 ingest-gate oracle. */
  private val dedupProbeCtes: String = {
    val rows = NumHashes / NumBands
    val rCols = (0 until rows).map(j => s"r$j").mkString(", ")
    val bandSelects = (0 until NumBands).map { b =>
      val sel = (0 until rows)
        .map(j => f"mh${b * rows + j}%02d AS r$j").mkString(", ")
      s"SELECT doc_id, $b AS band, $sel FROM mh"
    }.mkString("\n  UNION ALL ")
    val onEq = (Seq("band") ++ (0 until rows).map(j => s"r$j"))
      .map(c => s"d.$c = c.$c").mkString(" AND ")
    shinglesCte +
      s""",
         |mh AS (\n$minhashSelectSql),
         |buckets AS (\n  $bandSelects),
         |csized AS (
         |  SELECT doc_id, band, $rCols,
         |    count(*) OVER (PARTITION BY band, $rCols) AS bsz
         |  FROM buckets WHERE doc_id % 3 <> 0),
         |cand AS (
         |  SELECT DISTINCT d.doc_id AS probe_id, c.doc_id AS corpus_id
         |  FROM buckets d JOIN csized c ON $onEq
         |  WHERE d.doc_id % 3 = 0 AND c.bsz <= 1000),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |pairs AS (
         |  SELECT probe_id, corpus_id, count(*) AS inter
         |  FROM cand
         |  JOIN sh x ON probe_id = x.doc_id
         |  JOIN sh y ON corpus_id = y.doc_id AND x.h = y.h
         |  GROUP BY probe_id, corpus_id)""".stripMargin
  }

  /** DuckDB replay of [[qDedupProbe]]: same split, same corpus-side
    * bucket cap, same exact verification arithmetic. */
  val qDedupProbeSql: String = dedupProbeCtes +
    """
      |SELECT probe_id, corpus_id,
      |  round(inter::DOUBLE / (ca.n + cb.n - inter), 4) + 0.0 AS jaccard
      |FROM pairs
      |JOIN sizes ca ON probe_id = ca.doc_id
      |JOIN sizes cb ON corpus_id = cb.doc_id
      |WHERE round(inter::DOUBLE / (ca.n + cb.n - inter), 4) >= 0.5""".stripMargin

  /** D18 — the DEDUP-GATED INGEST the probe exists for: the standing
    * corpus admits the delta MINUS every delta doc the probe verified
    * as a near-dup of corpus content — one candidate-sized anti join
    * after the D17 machinery, so the admission decision costs nothing
    * beyond the probe itself. This is the composition a daily
    * training-data pipeline actually runs: index once, probe the
    * increment, admit the clean remainder. Result: the admitted
    * corpus profiled per source (count + characters), which any
    * duplicate slipping through (or clean doc wrongly dropped) shifts.
    */
  def qDedupIngest(s: SparkSession, d: String, tau: Double = 0.5): DataFrame = {
    val docs = Tables.documents(s, d)
    val isDelta = col("doc_id") % 3 === 0
    val dups = qDedupProbe(s, d, tau)
      .select(col("probe_id").as("doc_id")).distinct()
    docs.filter(!isDelta)
      .unionByName(docs.filter(isDelta).join(dups, Seq("doc_id"), "left_anti"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
  }

  val qDedupIngestSql: String = dedupProbeCtes +
    """,
      |dup AS (
      |  SELECT DISTINCT probe_id
      |  FROM pairs
      |  JOIN sizes ca ON probe_id = ca.doc_id
      |  JOIN sizes cb ON corpus_id = cb.doc_id
      |  WHERE round(inter::DOUBLE / (ca.n + cb.n - inter), 4) >= 0.5),
      |admitted AS (
      |  SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 3 <> 0
      |  UNION ALL
      |  SELECT doc_id, source, n_chars FROM documents
      |  WHERE doc_id % 3 = 0 AND doc_id NOT IN (SELECT probe_id FROM dup))
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS n_chars
      |FROM admitted GROUP BY source""".stripMargin

  /** D11 — signature-based Jaccard ESTIMATION: for each LSH candidate
    * pair, the fraction of agreeing MinHash components is an unbiased
    * estimator of the true Jaccard (P[mh_i(A)=mh_i(B)] = J(A,B), the
    * MinHash property). This is the triage step web-scale dedup runs
    * BEFORE exact verification: signatures are k longs per doc, so the
    * estimate needs only a signature join — the shingle sets never
    * re-shuffle. Exact arithmetic over integer component equality, so
    * the oracle replays it bit-for-bit.
    */
  def qMinhashEst(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val sigs = minhash(docs)
    val agree = (0 until NumHashes)
      .map(i => when(col(f"a.mh$i%02d") === col(f"b.mh$i%02d"), 1).otherwise(0))
      .reduce(_ + _)
    lshCandidates(docs)
      .join(sigs.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sigs.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(agree.cast("double") / NumHashes, 4).as("est_jaccard"))
  }

  val qMinhashEstSql: String = {
    val agree = (0 until NumHashes)
      .map(i => f"(CASE WHEN a.mh$i%02d = b.mh$i%02d THEN 1 ELSE 0 END)")
      .mkString(" +\n    ")
    lshCtePrefix +
      s""",
         |cand AS (
         |${lshPairSelect})
         |SELECT doc_a, doc_b,
         |  round(($agree)::DOUBLE / $NumHashes, 4) AS est_jaccard
         |FROM cand JOIN mh a ON doc_a = a.doc_id JOIN mh b ON doc_b = b.doc_id""".stripMargin
  }

  // D5 — SimHash: 60-bit fingerprint by per-bit voting over token
  // hashes weighted by term frequency. The 60 bit-votes are 60 agg
  // columns in ONE HashAggregate (not a 60× row explosion): one
  // shuffle of (doc, word) counts, then a width-60 reduction.
  def qSimhash(s: SparkSession, d: String): DataFrame = {
    val votes = (0 until 60).map { b =>
      sum(expr(s"cnt * (CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END)")).as(s"v$b")
    }
    val fp = (0 until 60)
      .map(b => s"(CASE WHEN v$b > 0 THEN ${1L << b}L ELSE 0L END)")
      .mkString(" + ")
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("word"))
      .where(col("word") =!= "") // row filter, not an interpreted array lambda
      .groupBy("doc_id", "word")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("h", h60(col("word")))
      .groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .selectExpr("doc_id", s"$fp AS simhash")
  }

  val qSimhashSql: String =
    """WITH tok AS (
      |  SELECT doc_id, word, count(*) AS cnt,
      |    CAST(('0x' || substr(md5(word), 1, 15)) AS BIGINT) AS h
      |  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS word
      |        FROM documents) t
      |  WHERE word <> '' GROUP BY doc_id, word),
      |votes AS (
      |  SELECT doc_id, i AS bit,
      |    sum(cnt * (CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) AS vote
      |  FROM tok, unnest(range(0, 60)) AS b(i)
      |  GROUP BY doc_id, i)
      |SELECT doc_id,
      |  CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
      |FROM votes GROUP BY doc_id""".stripMargin

  // D6 — embedding near-dup: random-hyperplane LSH buckets prune the
  // candidate space (expected scan fraction ≈ tables/2^bits of all
  // pairs), then the native vec_cosine expression verifies each
  // candidate exactly. No cartesian anywhere: candidates come from an
  // equi-join on (table, bucket). Recall follows the LSH S-curve —
  // near-1 for true near-dups (cos >= ~0.95), by design NOT for
  // barely-over-threshold pairs; `allPairsEmbedDup` is the exact
  // reference kernel the spec measures recall against. The DuckDB
  // oracle replays the identical hyperplane pruning (the ±1
  // hyperplanes are deterministic driver-side literals), so the check
  // is bit-exact at any sf.
  val EmbedBits = 6
  val EmbedTables = 6

  /** Occupancy-driven hyperplane count (r7): with FIXED bits, expected
    * bucket occupancy is n/2^bits, so within-bucket candidate pairs —
    * and the exact-verify cost behind them — grow QUADRATICALLY in the
    * corpus (measured 6.5× wall at 10× data). Sizing bits to
    * ceil(log2(n/31.25)) pins occupancy at the base corpus's ~31
    * vectors/bucket, making candidate volume linear in n — the same
    * auto-sizing cure as D14's √(n/2) cells. The floor keeps the
    * driver-scale corpora (n ≤ 2000 → 6 bits) EXACTLY on the static
    * oracle's literal hyperplanes; more bits at larger n trade
    * borderline-pair recall along the LSH S-curve for boundedness
    * (true near-dups at cos ≥ 0.95 stay high-recall across 6 tables).
    */
  private[graft] def embedBitsFor(n: Long, floor: Int = EmbedBits): Int =
    math.max(floor, math.ceil(
      math.log(math.max(1.0, n.toDouble / 31.25)) / math.log(2.0)).toInt)

  /** (dim, row count) per embedding corpus, memoized: ONE aggregate job
    * serves both of qEmbedDup's model-sizing scalars and every
    * [[Similarity.probeDim]], and asserts the corpus non-empty AND
    * rectangular (min dim == max dim). `caller` names the refusal. */
  private[operators] def vecProfile(e: DataFrame,
      caller: String = "vecProfile"): (Int, Long) =
    memoized("vecProfile", e) {
      val row = e.agg(min(size(col("embedding"))),
        max(size(col("embedding"))), count(lit(1))).head()
      require(!row.isNullAt(0), s"$caller: empty embedding corpus")
      require(row.getInt(0) == row.getInt(1),
        s"$caller: ragged embedding arrays (dims ${row.getInt(0)}..${row.getInt(1)})")
      (row.getInt(0), row.getLong(2))
    }

  /** The hyperplane buckets are memoized per (corpus, bits, tables): the
    * signatures compute ONCE and both sides of the candidate self-join
    * read the materialization. */
  def qEmbedDup(s: SparkSession, d: String, tau: Double = 0.4,
      bits: Int = -1, tables: Int = EmbedTables): DataFrame = {
    val e = Tables.embeddings(s, d).select("vec_id", "embedding")
    val (dim, n) = vecProfile(e)
    val b = if (bits > 0) bits else embedBitsFor(n)
    val eb = memoized("embedBuckets", e, (b, tables))(
      Similarity.hyperplaneBuckets(e, b, tables, dim))
    eb.as("a")
      .join(eb.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bkt") === col("b.bkt") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        Similarity.roundedCos("a", "b").as("cos_sim"))
      .filter(col("cos_sim") >= tau)
      .distinct() // the same pair can surface from several tables
  }

  /** The exact all-pairs kernel — O(n²), for small-sf eval/recall
    * measurement ONLY (DedupSpec); the shipped operator is [[qEmbedDup]]. */
  private[graft] def allPairsEmbedDup(s: SparkSession, d: String, tau: Double = 0.4): DataFrame = {
    val e = Tables.embeddings(s, d).select("vec_id", "embedding")
    e.as("a")
      .join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        Similarity.roundedCos("a", "b").as("cos_sim"))
      .filter(col("cos_sim") >= tau)
  }
  /** Replays qEmbedDup's hyperplane bucketing in DuckDB: the same ±1
    * hyperplane literals, the same sequential-order dot products (both
    * engines fold the list left-to-right in doubles, so the sign bits
    * agree bit-for-bit), the same (table, bucket) equi-join. dim is 64
    * in the test corpus (probeDim asserts rectangularity on the Spark
    * side). */
  val qEmbedDupSql: String = {
    val dim = 64
    val bucketSelects = Similarity.bucketUnionSql(EmbedBits, EmbedTables, dim)
    s"""WITH buckets AS (
       |$bucketSelects),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM buckets a JOIN buckets b
       |    ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id < b.vec_id),
       |n AS (SELECT vec_id, embedding,
       |  sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
       |  FROM embeddings)
       |SELECT c.vec_a, c.vec_b,
       |  round(list_sum(list_transform(range(1, len(a.embedding) + 1),
       |    i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) / (a.nrm * b.nrm), 4) + 0.0 AS cos_sim
       |FROM cand c JOIN n a ON c.vec_a = a.vec_id JOIN n b ON c.vec_b = b.vec_id
       |WHERE round(list_sum(list_transform(range(1, len(a.embedding) + 1),
       |    i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) / (a.nrm * b.nrm), 4) >= 0.4""".stripMargin
  }

  // D7 — end-to-end dedup pipeline: the corpus with near-duplicates
  // removed. Candidates from the LSH/jaccard path, greedy keep-lowest-id
  // (any doc that is the higher id of a verified pair is dropped), then
  // an anti join back to the corpus. At 100 TB: candidates are tiny
  // relative to the corpus, so this is one broadcast-able anti join.
  def qDedupPipeline(s: SparkSession, d: String, tau: Double = 0.5): DataFrame = {
    val drop = nearDupPairs(s, d, tau).select(col("doc_b").as("doc_id")).distinct()
    Tables.documents(s, d)
      .join(drop, Seq("doc_id"), "left_anti")
      .select("doc_id", "source", "lang", "n_chars")
  }

  val qDedupPipelineSql: String =
    shinglesCte + jaccardPairsCte +
      """,
        |drop AS (SELECT DISTINCT doc_b AS doc_id FROM p
        |  JOIN c ca ON doc_a = ca.doc_id JOIN c cb ON doc_b = cb.doc_id
        |  WHERE round(inter::DOUBLE / (ca.n + cb.n - inter), 4) >= 0.5)
        |SELECT doc_id, source, lang, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM drop)""".stripMargin

  /** D8 — connected-components over the verified near-dup pairs:
    * min-label propagation to fixpoint. Fixes D7's chain sensitivity
    * (a~b, b~c but not a~c must land in ONE component so exactly one
    * representative survives). The driver loop is coordination only —
    * each iteration is one distributed join+min-aggregate over the
    * candidate-pair graph, which is tiny relative to the corpus, and
    * iteration count is the component diameter (near-dup clusters are
    * shallow). The same pattern GraphX/GraphFrames use for CC.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    // eager one-shot materialization: the symmetrizing union below
    // would otherwise run the near-dup pair pipeline once PER BRANCH
    // when the edge cache first fills
    val edgesOne = pairs.toDF("src", "dst").localCheckpoint()
    val edges = edgesOne
      .union(edgesOne.select(col("dst"), col("src")))
      .toDF("src", "dst").cache()
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("comp", col("node")).localCheckpoint()
    // Convergence test: per-node labels only ever DECREASE under
    // min-propagation, so the global label sum is strictly monotone —
    // "sum unchanged" ⟺ "no node changed". One tiny aggregate per
    // round instead of a join+count against the previous labels.
    // decimal-typed: node ids may be full-width 60-bit hashes (the
    // entity-resolution graph), whose long sum overflows ANSI mode
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("comp").cast("decimal(38,0)"))).head().getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    while (!converged) {
      // (1) neighbor propagation: min label over self + neighbors.
      // Materialized once (eager localCheckpoint) because step (2)
      // reads it on BOTH sides of the self-join — without this the
      // edges-join-aggregate, the heaviest part of the iteration,
      // would run twice per round. This is also the ONLY
      // materialization per round: step (2) below is a cheap join of
      // two already-materialized inputs, and its re-execution next
      // round starts from this checkpoint, so lineage stays bounded.
      val nbrMin = edges.join(labels, edges("dst") === labels("node"))
        .select(edges("src").as("node"), col("comp"))
      val prop = labels.select("node", "comp").union(nbrMin)
        .groupBy("node").agg(min("comp").as("comp"))
        .localCheckpoint()
      // (2) pointer jumping: comp <- comp(comp). Labels are always
      // graph nodes (min seen so far, seeded with self), so following
      // one hop of the label table halves the distance to the
      // component min — convergence in O(log diameter) rounds instead
      // of O(diameter) (a 50-doc boilerplate chain: 7 rounds, not 50).
      val next = prop.as("x")
        .join(prop.as("y"), col("x.comp") === col("y.node"), "left")
        .select(col("x.node").as("node"),
          least(col("x.comp"), coalesce(col("y.comp"), col("x.comp"))).as("comp"))
      val s = labelSum(next)
      converged = s == prevSum
      prevSum = s
      labels = next
    }
    edges.unpersist()
    labels.select(col("node").as("doc_id"), col("comp").as("component"))
  }

  def qDedupCc(s: SparkSession, d: String, tau: Double = 0.5): DataFrame =
    connectedComponents(nearDupPairs(s, d, tau).select("doc_a", "doc_b"))

  /** Recursive transitive closure in DuckDB up to a `comp` CTE —
    * min reachable label over the symmetric edge set == min doc_id of
    * the component. Shared by the D8 oracle and TrainPrep's F26. */
  private[operators] val ccCte: String =
    "WITH RECURSIVE " + shinglesCte.stripPrefix("WITH ") + jaccardPairsCte +
      """,
        |dup AS (SELECT doc_a, doc_b FROM p
        |  JOIN c ca ON doc_a = ca.doc_id JOIN c cb ON doc_b = cb.doc_id
        |  WHERE round(inter::DOUBLE / (ca.n + cb.n - inter), 4) >= 0.5),
        |e AS (SELECT doc_a AS src, doc_b AS dst FROM dup
        |  UNION ALL SELECT doc_b, doc_a FROM dup),
        |reach AS (
        |  SELECT src AS node, dst AS lbl FROM e
        |  UNION
        |  SELECT r.node, e.dst FROM reach r JOIN e ON e.src = r.lbl),
        |comp AS (
        |  SELECT node AS doc_id, least(node, min(lbl)) AS component
        |  FROM reach GROUP BY node)""".stripMargin

  val qDedupCcSql: String =
    ccCte + "\nSELECT doc_id, component FROM comp"

  /** F31/D-composition — LEAKAGE-FREE train/holdout split: the split
    * key is the near-dup COMPONENT representative, not the doc id, so
    * an entire cluster of near-duplicates lands on ONE side — the ML
    * hygiene a plain per-doc hash split (F) gets wrong: with per-doc
    * hashing every cross-side near-dup pair is evaluation
    * contamination. Singleton docs (no near-dup) are their own
    * component, so they split exactly as the plain hash split would.
    * Same 216/256 ≈ 84.4% train fraction and the same md5 bucket
    * function as q_hash_split, applied to the component label.
    */
  def qLeakfreeSplit(s: SparkSession, d: String, tau: Double = 0.5): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id")
    val cc = qDedupCc(s, d, tau) // (doc_id, component) for clustered docs
    val bucket =
      "CAST(conv(substr(md5(CAST(component AS STRING)), 1, 2), 16, 10) AS BIGINT)"
    docs.join(cc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .selectExpr("doc_id", "component",
        s"CASE WHEN $bucket < 216 THEN 'train' ELSE 'holdout' END AS split")
  }

  val qLeakfreeSplitSql: String =
    ccCte +
      """
        |SELECT d.doc_id,
        |  coalesce(comp.component, d.doc_id) AS component,
        |  CASE WHEN CAST(('0x' || substr(md5(
        |      coalesce(comp.component, d.doc_id)::VARCHAR), 1, 2)) AS BIGINT) < 216
        |    THEN 'train' ELSE 'holdout' END AS split
        |FROM documents d LEFT JOIN comp ON d.doc_id = comp.doc_id""".stripMargin

  /** D14 — semantic dedup, cluster-pruned (SemDeDup, Abbas et al.
    * arXiv'23): embeddings are assigned to coarse-quantizer cells, and
    * ONLY within-cell pairs are cosine-compared; a vector is dropped
    * iff a LOWER-id vector in its cell is ≥ τ similar (keep-lowest-id,
    * the D7 greedy rule — pairwise predicate, no transitive closure,
    * so the decision is order-free deterministic). This is the
    * embedding-space twin of D2: near-dup text that was paraphrased
    * (different shingles, same meaning) only this operator catches.
    *
    * Scale shape: the quantizer bounds the quadratic — pairing is per
    * CELL ((n/cells)² per cell, cells sized so a cell fits a
    * partition; at 100 TB cell = partition key and the pair join is
    * exchange-free within partitions). Centroids ride one broadcast;
    * assignment is a map-side struct-max argmax, the E4 kernel. The
    * quantizer is DETERMINISTIC (the `cells` lowest-vec_id vectors),
    * so the oracle replays assignment, pairing, and the drop rule
    * bit-for-bit — swap in trained centroids and only the centroid
    * frame changes.
    */
  def qSemdedup(s: SparkSession, d: String, tau: Double = 0.4,
      cells: Int = -1): DataFrame =
    semdedup(Tables.embeddings(s, d).select("vec_id", "embedding"), tau, cells)

  /** `cells` ≤ 0 auto-sizes the quantizer to √(n/2) cells (one
    * memoized driver-side count — the model-update pattern). The cell
    * COUNT must grow with the corpus or the within-cell pair join is
    * quadratic (measured: fixed 16 cells cost 2.5 s → 9.8 → 50.6 at
    * 1×/10×/30× corpus), but cells ∝ n makes the brute-force
    * ASSIGNMENT (n·cells cosines) quadratic instead; √n balances the
    * two at O(n^1.5) each — the classic IVF sizing. The gate corpus
    * (500 vecs) auto-sizes to exactly 16 = the oracle's literal.
    * Near-identical vectors argmax to the same cell at any cell
    * count, so recall for true near-dups survives the scaling; at
    * real 100 TB scale the flat quantizer would be swapped for a
    * trained hierarchical one (only the centroid frame changes).
    */
  def semdedup(e: DataFrame, tau: Double = 0.4, cells: Int = -1): DataFrame = {
    val nCells =
      if (cells > 0) cells.toLong
      else math.max(16L, math.ceil(math.sqrt(memoized("vecCount", e)(e.count()) / 2.0)).toLong)
    // the cell assignment is memoized per (corpus, cell count): it feeds
    // BOTH sides of the within-cell self-join plus the keep projection.
    // The argmax carries no embedding: max-over-struct aggregates by
    // SORTING, and dragging the vector through it sorts |corpus|×cells
    // wide rows. A narrow argmax + one vec_id equi-join to re-attach
    // embeddings measured 145 s → 8 s at 30× corpus.
    val assigned = memoized("cells", e, nCells) {
      e.join(Similarity.assignCells(e, Similarity.seedCentroids(e, nCells)), "vec_id")
        .select(col("vec_id"), col("embedding"), col("cid").as("cell"))
    }
    val drops = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .filter(Similarity.roundedCos("a", "b") >= tau)
      .select(col("b.vec_id").as("vec_id"))
      .distinct()
    assigned.select(col("vec_id"), col("cell"))
      .join(drops.withColumn("__d", lit(1L)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("__d").isNotNull, lit(0L)).otherwise(lit(1L)).as("keep"))
  }
  /** Replays [[qSemdedup]] end to end: same data-derived cell count
    * (the √(n/2) auto-sizing is replayed as a scalar subquery, so
    * parity holds at ANY corpus size, not just ones that land on a
    * hardcoded literal), same deterministic centroids, same argmax
    * assignment (E4's oracle pattern — sequential-order double dot
    * products agree bit-for-bit), same within-cell pairing and
    * keep-lowest-id drop rule. */
  val qSemdedupSql: String =
    """WITH n AS (SELECT vec_id, embedding,
      |  sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
      |  FROM embeddings),
      |nc AS (SELECT greatest(16, CAST(ceil(sqrt(count(*) / 2.0)) AS BIGINT)) AS cells
      |  FROM embeddings),
      |cent AS (SELECT vec_id AS cid, embedding AS cvec, nrm AS cnrm
      |  FROM n CROSS JOIN nc WHERE vec_id < nc.cells),
      |asg AS (
      |  SELECT v.vec_id, v.embedding, v.nrm, c.cid,
      |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |      (list_sum(list_transform(range(1, len(v.embedding) + 1),
      |        i -> v.embedding[i]::DOUBLE * c.cvec[i]::DOUBLE)) / (v.nrm * c.cnrm)) DESC,
      |      c.cid ASC) AS crn
      |  FROM n v CROSS JOIN cent c),
      |corpus AS (SELECT vec_id, embedding, nrm, cid AS cell FROM asg WHERE crn = 1),
      |drops AS (
      |  SELECT DISTINCT b.vec_id
      |  FROM corpus a JOIN corpus b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE round(list_sum(list_transform(range(1, len(a.embedding) + 1),
      |      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) / (a.nrm * b.nrm), 4)
      |    + 0.0 >= 0.4)
      |SELECT c.vec_id, c.cell,
      |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
      |FROM corpus c LEFT JOIN drops d ON c.vec_id = d.vec_id""".stripMargin

  // D21 — CORPUS-WIDE segment dedup (the CCNet/RefinedWeb line-dedup
  // step, on this corpus's word-stream texts as fixed 10-word
  // segments): every segment keeps its FIRST occurrence across the
  // whole corpus — ordered by (doc_id, position) — and every later
  // copy is dropped, INCLUDING cross-document boilerplate the
  // within-doc span family (D13/D15) cannot see. Documents are then
  // reassembled from their surviving segments. Plan at 100 TB: the
  // first-occurrence argmin is ONE shuffle keyed by segment hash over
  // skinny (hash, encoded-position) rows — the canonical position
  // encodes as doc_id·10^6 + seg_idx so min() IS the lexicographic
  // argmin in both engines; the keep-filter join is hash-keyed; the
  // reassembly is one doc_id-keyed aggregate over kept segments.
  // Segment slicing is array arithmetic (no window, no posexplode of
  // per-token rows beyond the one segment explode).
  def qParaDedup(s: SparkSession, d: String): DataFrame = {
    val segs = Tables.documents(s, d)
      .selectExpr("doc_id",
        raw"filter(split(text, '\\s+'), x -> x <> '') AS w")
      // empty/whitespace-only docs produce ZERO segments in both
      // engines: without the guard, Spark's sequence(0, -1) DESCENDS
      // ([0, -1] — step defaults to -1) and would emit two phantom
      // empty segments where DuckDB's range(0, 0) emits none
      .where(size(col("w")) > 0)
      .selectExpr("doc_id",
        """posexplode(transform(sequence(0, CAST(ceil(size(w) / 10.0) AS INT) - 1),
          |  i -> array_join(slice(w, i * 10 + 1, 10), ' '))) AS (seg_idx, seg)"""
          .stripMargin)
      .withColumn("code", col("doc_id") * 1000000L + col("seg_idx"))
      .withColumn("h", md5(col("seg")))
    val firsts = segs.groupBy("h").agg(min("code").as("keep_code"))
    val kept = segs.join(firsts, "h").where(col("code") === col("keep_code"))
    val perDoc = segs.groupBy("doc_id").agg(count(lit(1)).as("n_segs"))
    val keptAgg = kept.groupBy("doc_id").agg(
      count(lit(1)).as("__nk"),
      array_join(transform(array_sort(collect_list(struct(col("seg_idx"),
        col("seg")))), x => x("seg")), " ").as("cleaned"))
    perDoc.join(keptAgg, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_segs"),
        coalesce(col("__nk"), lit(0L)).as("n_kept"), col("cleaned"))
  }

  val qParaDedupSql: String =
    raw"""WITH t AS (SELECT doc_id,
      |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
      |  FROM documents),
      |segs AS (
      |  SELECT doc_id, i AS seg_idx,
      |    array_to_string(w[i * 10 + 1 : i * 10 + 10], ' ') AS seg,
      |    doc_id * 1000000 + i AS code
      |  FROM t, unnest(range(0, CAST(ceil(len(w) / 10.0) AS BIGINT))) AS u(i)),
      |firsts AS (SELECT md5(seg) AS h, min(code) AS keep_code
      |           FROM segs GROUP BY 1),
      |kept AS (SELECT s.* FROM segs s JOIN firsts f
      |         ON md5(s.seg) = f.h AND s.code = f.keep_code)
      |SELECT s.doc_id, count(DISTINCT s.seg_idx) AS n_segs,
      |  (SELECT count(*) FROM kept k WHERE k.doc_id = s.doc_id) AS n_kept,
      |  (SELECT string_agg(k.seg, ' ' ORDER BY k.seg_idx)
      |   FROM kept k WHERE k.doc_id = s.doc_id) AS cleaned
      |FROM segs s GROUP BY s.doc_id""".stripMargin

  // D22 — CROSS-SOURCE duplication matrix (dedup OBSERVABILITY — the
  // "who copies from whom" report a corpus curator reads before
  // deciding per-source dedup policy): every verified near-dup pair
  // (the D2 machinery unchanged) joins back to its two docs' sources,
  // aggregated into an UNDIRECTED source×source matrix
  // (least/greatest normalization) of pair counts and mean verified
  // Jaccard. On-diagonal cells = within-source duplication (template
  // reuse); off-diagonal = cross-source copying (syndication,
  // scraping) — the two need different cleaning policies, which is
  // why the split matters. Cost beyond D2: two doc-keyed hash joins
  // on the pair stream and a |sources|²-bounded aggregate.
  def qDupMatrix(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val src = docs.select(col("doc_id"), col("source"))
    jaccardPairs(docs, 0.5)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .groupBy(least(col("sa"), col("sb")).as("src_1"),
        greatest(col("sa"), col("sb")).as("src_2"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg("jaccard"), 4).as("avg_jaccard"))
  }

  val qDupMatrixSql: String =
    shinglesCte + jaccardPairsCte +
      """
        |, pairs AS (
        |  SELECT doc_a, doc_b,
        |    round(inter::DOUBLE / (ca.n + cb.n - inter), 4) AS jaccard
        |  FROM p JOIN c ca ON doc_a = ca.doc_id JOIN c cb ON doc_b = cb.doc_id
        |  WHERE round(inter::DOUBLE / (ca.n + cb.n - inter), 4) >= 0.5)
        |SELECT least(da.source, db.source) AS src_1,
        |  greatest(da.source, db.source) AS src_2,
        |  count(*) AS n_pairs, round(avg(jaccard), 4) AS avg_jaccard
        |FROM pairs
        |JOIN documents da ON pairs.doc_a = da.doc_id
        |JOIN documents db ON pairs.doc_b = db.doc_id
        |GROUP BY 1, 2""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dup_matrix" -> ((s, d) => qDupMatrix(s, d)),
    "q_para_dedup" -> qParaDedup,
    "q_dedup_cc" -> ((s, d) => qDedupCc(s, d)),
    "q_dedup_pipeline" -> ((s, d) => qDedupPipeline(s, d)),
    "q_dedup_exact" -> qDedupExact,
    "q_containment" -> ((s, d) => qContainment(s, d)),
    "q_jaccard_pairs" -> ((s, d) => qJaccardPairs(s, d)),
    "q_minhash" -> qMinhash,
    "q_minhash_lsh" -> qMinhashLsh,
    "q_minhash_est" -> qMinhashEst,
    "q_dedup_probe" -> ((s, d) => qDedupProbe(s, d)),
    "q_dedup_ingest" -> ((s, d) => qDedupIngest(s, d)),
    "q_sig_index" -> qSigIndex,
    "q_leakfree_split" -> ((s, d) => qLeakfreeSplit(s, d)),
    "q_simhash" -> qSimhash,
    "q_embed_dup" -> ((s, d) => qEmbedDup(s, d)),
    "q_dup_spans" -> ((s, d) => qDupSpans(s, d)),
    "q_dup_spans_multi" -> ((s, d) => qDupSpansMulti(s, d)),
    "q_span_clean" -> ((s, d) => qSpanClean(s, d)),
    "q_semdedup" -> ((s, d) => qSemdedup(s, d)))

  def oracles: Map[String, String] = Map(
    "q_dup_matrix" -> qDupMatrixSql,
    "q_para_dedup" -> qParaDedupSql,
    "q_dedup_cc" -> qDedupCcSql,
    "q_dedup_pipeline" -> qDedupPipelineSql,
    "q_dedup_exact" -> qDedupExactSql,
    "q_containment" -> qContainmentSql,
    "q_jaccard_pairs" -> qJaccardPairsSql,
    "q_minhash" -> qMinhashSql,
    "q_minhash_lsh" -> qMinhashLshSql,
    "q_minhash_est" -> qMinhashEstSql,
    "q_dedup_probe" -> qDedupProbeSql,
    "q_dedup_ingest" -> qDedupIngestSql,
    "q_sig_index" -> qSigIndexSql,
    "q_leakfree_split" -> qLeakfreeSplitSql,
    "q_simhash" -> qSimhashSql,
    "q_embed_dup" -> qEmbedDupSql,
    "q_dup_spans" -> qDupSpansSql,
    "q_dup_spans_multi" -> qDupSpansMultiSql,
    "q_span_clean" -> qSpanCleanSql,
    "q_semdedup" -> qSemdedupSql)
}
