package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A55 — INCREMENTAL MATERIALIZED VIEW maintenance on the lake: a
  * group-by aggregate (`count(*)`, `sum`, and the `avg` they derive)
  * over a CDF-enabled versioned base table, materialized as its own
  * versioned graft table and REFRESHED from the A45/A31 change feed —
  * never by re-scanning the base. This is the bronze→silver step a
  * lake user builds first: the base takes merge/delete/update/append
  * waves, the MV follows with cost proportional to the CHANGE VOLUME.
  *
  * Why this is exact (the counting-algebra argument): every feed row
  * contributes a signed delta — `insert`/`update_postimage` +1,
  * `delete`/`update_preimage` −1 — so per group
  * `Δcnt = Σ sign`, `Δsum_c = Σ sign·c`, `Δnn_c = Σ sign·[c≠NULL]`.
  * count/sum are associative and commutative, so applying net deltas
  * equals recomputation in ANY interleaving, including the netted
  * multi-version window `changesCdf` serves. NULL-skipping SQL sums
  * need the non-null count too (`sum` of an all-NULL group is NULL,
  * not 0): the MV stores `s_c` (0-based running sum) and `nn_c`
  * alongside, and [[read]] derives `sum_c = nn_c = 0 ? NULL : s_c` and
  * `avg_c = s_c / nn_c` — exact ANSI semantics, maintained from
  * deltas alone. min/max (r11) get the standard IVM treatment: they
  * are NOT self-maintainable under deletes (max is not invertible), so
  * inserts FOLD (`mn' = least(mn, insert-min)`) while a delete that
  * touches a group's stored extremum — detectable exactly, because a
  * deleted value always lies inside the stored range, so equality IS
  * the hit test — triggers a GROUP-SCOPED recompute from the base at
  * the target version, semi-joined to just the hit groups: cost ∝
  * touched groups, never the table. Both paths land in the SAME
  * clause-merge commit, so atomicity and the exactly-once mark are
  * unchanged.
  *
  * The refresh itself is ONE A52 clause-merge on the MV keyed by the
  * encoded group key: groups whose count reaches zero DELETE, touched
  * groups UPDATE in place, unseen groups INSERT — and the A51
  * transaction mark `(mv@<base>, baseVersion)` rides the SAME commit
  * CAS, so the consumed-watermark and the data are atomic: a crashed
  * or replayed refresh is exactly-once by construction (the mark IS
  * the watermark; no sidecar window). Two racing refreshes of one MV:
  * one commits, the loser sees the winner's mark and no-ops.
  *
  * At 100 TB: refresh reads the stored change data (cost ∝ changed
  * rows — the base is never scanned; spec-pinned by deleting an
  * untouched base data file from disk before refreshing), aggregates
  * it to per-group deltas (one shuffle of the delta rows), and merges
  * into the MV through the A15/A27 stats-pruned key-range path (cost
  * ∝ touched groups). Integer sums are bit-exact; double sums are
  * deterministic but may differ from a recompute by float
  * reassociation — callers needing hash-stable doubles round on read.
  */
object MaterializedView {

  private val SpecFile = "_graft_mv_spec"

  final case class MvSpec(base: String, baseKey: String,
      groupCols: Seq[String], sumCols: Seq[String],
      minMaxCols: Seq[String] = Seq.empty,
      distinctCols: Seq[String] = Seq.empty,
      filter: Option[String] = None)

  private def norm(p: String): String =
    Paths.get(p).toAbsolutePath.normalize.toString

  private[graft] def appId(base: String): String = "mv@" + norm(base)

  /** The VACUUM LEASE: a tag on the base at the MV's consumed version.
    * A37 tags pin vacuum (tagged versions' manifests, data, DVs and
    * stored CDF all survive any keepFrom), so holding one means an
    * arbitrarily aggressive vacuum on the base can never reclaim what
    * the next refresh needs — the CDF window's stored change files,
    * and for join MVs the old-left snapshot the L_old term time-travels
    * to. The lease MOVES (atomic tag replace) as the MV consumes, so
    * history behind the watermark becomes reclaimable again; a crash
    * after the refresh commit but before the move only over-retains
    * (the safe direction) until the next refresh. */
  private[graft] def leaseName(mvRoot: String): String =
    "mv." + java.security.MessageDigest.getInstance("MD5")
      .digest(norm(mvRoot).getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString

  /** The MV's synthetic row key: an INJECTIVE encoding of the group
    * tuple — each value is length-prefixed (`<len>:<value>`, NULL →
    * `N`), so no value content (separators, "NULL" literals, empty
    * strings) can make two distinct tuples collide. */
  private def keyExpr(groupCols: Seq[String]): Column =
    concat_ws("|", groupCols.map { g =>
      val s = col(s"`$g`").cast("string")
      when(s.isNull, lit("N"))
        .otherwise(concat(length(s).cast("string"), lit(":"), s))
    }: _*)

  /** `cnt` plus, per sum column, the 0-based running sum `s_c` (its
    * input's own type) and the non-null count `nn_c` — signed, so the
    * same expressions build the full aggregate (sign ≡ 1) and the
    * feed deltas (sign ±1). */
  private def aggExprs(df: DataFrame, sumCols: Seq[String], sign: Column,
      cntName: String, prefix: String): Seq[Column] = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val types = df.schema
    sum(sign).as(cntName) +: sumCols.flatMap { c =>
      // SQL sum widens integrals; a running int sum would overflow
      val dt = types(c).dataType match {
        case ByteType | ShortType | IntegerType => LongType
        case other => other
      }
      Seq(
        coalesce(sum(sign * col(s"`$c`")), lit(0).cast(dt))
          .cast(dt).as(s"${prefix}s_$c"),
        sum(when(col(s"`$c`").isNotNull, sign).otherwise(lit(0L)))
          .as(s"${prefix}nn_$c"))
    }
  }

  /** Per min/max column, the stored extrema `mn_c`/`mx_c` under the
    * column's own type (no widening — min/max of a column IS a value
    * of the column, so the rewrite can serve them bit-exactly). */
  private def minMaxExprs(minMaxCols: Seq[String],
      prefix: String): Seq[Column] =
    minMaxCols.flatMap { c => Seq(
      min(col(s"`$c`")).as(s"${prefix}mn_$c"),
      max(col(s"`$c`")).as(s"${prefix}mx_$c")) }

  /** r13 — the DataSketches HLL lgConfigK every MV sketch is built
    * with. FIXED so the rewrite can check the query's own
    * `hll_sketch_agg` uses the same parameter: HLL register state is a
    * deterministic function of the value SET at a given lgK, and
    * register-wise union is lossless, so `estimate(union(per-group
    * sketches)) == estimate(sketch(all rows))` BIT-EXACTLY — but only
    * at matching lgK. */
  private[sources] val SketchLgK = 12

  /** Per approx-distinct column, the stored group sketch `sk_c` (HLL
    * binary; all-NULL groups store NULL, matching hll_sketch_agg). */
  private def sketchExprs(distinctCols: Seq[String],
      prefix: String): Seq[Column] =
    distinctCols.map(c =>
      hll_sketch_agg(col(s"`$c`"), SketchLgK).as(s"${prefix}sk_$c"))

  /** Build the MV at the base's CURRENT version: one full aggregate
    * scan (the only full scan the MV ever pays), committed as the MV
    * table's v0 WITH the consumed-version mark. */
  def create(spark: SparkSession, mvRoot: String, base: String,
      baseKey: String, groupCols: Seq[String],
      sumCols: Seq[String] = Seq.empty,
      minMaxCols: Seq[String] = Seq.empty,
      distinctCols: Seq[String] = Seq.empty,
      filter: Option[String] = None): Int = {
    require(groupCols.nonEmpty, "materialized view: no group columns")
    require((groupCols ++ sumCols ++ minMaxCols ++ distinctCols)
      .forall(c => !c.contains(",")),
      "materialized view: ',' in a column name")
    // r12 — FILTERED MV: a stored row-level predicate (SQL text, the
    // `CREATE MATERIALIZED VIEW … WHERE` shape). Build, every refresh
    // window, and the group-scoped min/max recompute all apply it
    // identically, so the MV is exactly the aggregate of the
    // predicate's rows at the consumed version; the rewrite serves a
    // query whose WHERE subsumes it (MvRewrite). Deterministic and
    // single-line by construction of the spec file.
    filter.foreach { f =>
      require(!f.contains("\n"), "materialized view: multi-line filter")
      require(f.trim.nonEmpty, "materialized view: empty filter")
    }
    val bv = Snapshots.currentVersion(base)
    require(bv >= 0, s"$base not initialized (call init)")
    require(Snapshots.currentVersion(mvRoot) < 0,
      s"$mvRoot already holds a table")
    // read AT bv, not the head: a commit landing between the capture
    // and this read would bake v(bv+1) rows into an MV whose mark says
    // bv — the next refresh would then double-apply that window
    val snap0 = Snapshots.read(spark, base, bv)
    val snap = filter.fold(snap0)(f => snap0.filter(expr(f)))
    val aggs = aggExprs(snap, sumCols, lit(1L), "cnt", "") ++
      minMaxExprs(minMaxCols, "") ++ sketchExprs(distinctCols, "")
    val full = snap.groupBy(groupCols.map(c => col(s"`$c`")): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("__mv_key", keyExpr(groupCols))
    Files.createDirectories(Paths.get(mvRoot))
    Files.writeString(Paths.get(mvRoot, SpecFile),
      s"base=${norm(base)}\nkey=$baseKey\ngroup=${groupCols.mkString(",")}\n" +
        s"sum=${sumCols.mkString(",")}\n" +
        s"minmax=${minMaxCols.mkString(",")}\n" +
        s"distinct=${distinctCols.mkString(",")}\n" +
        filter.fold("")(f => s"filter=$f\n"))
    val v = Snapshots.appendVersioned(spark, mvRoot, full,
      Some((appId(base), bv.toLong)))
    Refs.moveTag(base, leaseName(mvRoot), bv)
    v
  }

  private def specMap(mvRoot: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get(mvRoot, SpecFile)).asScala
      .filter(_.contains("=")).map { l =>
        val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1)
      }.toMap
  }

  private def rawSpec(mvRoot: String): String => String = {
    val m = specMap(mvRoot)
    k => m.getOrElse(k, throw new IllegalStateException(
      s"$mvRoot/$SpecFile: missing '$k'"))
  }

  private def splitCols(s: String): Seq[String] =
    if (s.isEmpty) Seq.empty else s.split(",").toIndexedSeq

  private def groupSumOf(mvRoot: String): (Seq[String], Seq[String]) = {
    val get = rawSpec(mvRoot)
    (splitCols(get("group")), splitCols(get("sum")))
  }

  def spec(mvRoot: String): MvSpec = {
    val m = specMap(mvRoot)
    require(!m.get("kind").contains("join"),
      s"$mvRoot is a join MV — use joinSpec/refreshJoin")
    val get = rawSpec(mvRoot)
    MvSpec(get("base"), get("key"), splitCols(get("group")),
      splitCols(get("sum")),
      splitCols(m.getOrElse("minmax", "")),
      splitCols(m.getOrElse("distinct", "")),
      m.get("filter").filter(_.trim.nonEmpty))
  }

  /** The MV's spec kind: "single" or "join". */
  def kindOf(mvRoot: String): String =
    specMap(mvRoot).getOrElse("kind", "single")

  /** The base version the MV currently reflects (the A51 mark). */
  def consumedVersion(mvRoot: String): Int = {
    val sp = spec(mvRoot)
    Snapshots.txnVersionOf(mvRoot, appId(sp.base)).getOrElse(
      throw new IllegalStateException(
        s"$mvRoot carries no consumed-version mark — not an MV?")).toInt
  }

  /** The base version the MV reflected AT ITS OWN version `mvV` — the
    * race-free form the rewrite rule uses: it pins the MV read to the
    * same version whose mark it checked, so a refresh landing between
    * the check and the read can't substitute a different snapshot. */
  def consumedVersionAt(mvRoot: String, mvV: Int): Option[Int] = {
    val sp = spec(mvRoot)
    Snapshots.txnVersionOf(mvRoot, mvV, appId(sp.base)).map(_.toInt)
  }

  /** The (left, right) base versions a JOIN MV reflected at its own
    * version `mvV` — both marks ride one commit, so the pair is
    * atomic. */
  def consumedJoinVersionsAt(mvRoot: String, mvV: Int): Option[(Int, Int)] = {
    val sp = joinSpec(mvRoot)
    for {
      l <- Snapshots.txnVersionOf(mvRoot, mvV, appL(sp.left))
      r <- Snapshots.txnVersionOf(mvRoot, mvV, appR(sp.right))
    } yield (l.toInt, r.toInt)
  }

  /** The RETAINED MV version that consumed exactly base version
    * `pinned`, or None (r11, the time-travel rewrite): the MV is
    * itself versioned and every refresh's mark is atomic with its
    * data, so MV history doubles as an exact snapshot store of the
    * aggregate — a query pinned at an OLD base version is served by
    * the old MV version that consumed it. The consumed mark is
    * non-decreasing in the MV version, so the newest-first walk stops
    * at the first mark below the pin; manifest reads only, bounded by
    * the retained history. */
  def versionThatConsumed(mvRoot: String, pinned: Int): Option[Int] = {
    val sp = spec(mvRoot)
    val app = appId(sp.base)
    var v = Snapshots.currentVersion(mvRoot)
    val lo = Snapshots.earliestVersion(mvRoot)
    while (v >= lo) {
      Snapshots.txnVersionOf(mvRoot, v, app) match {
        case Some(m) if m == pinned.toLong => return Some(v)
        case Some(m) if m < pinned.toLong => return None
        case _ => ()
      }
      v -= 1
    }
    None
  }

  /** The join-MV twin of [[versionThatConsumed]]: the retained MV
    * version whose atomic (left, right) mark pair equals the pinned
    * pair. Both marks advance together monotonically, so the walk
    * stops once either falls below its pin. */
  def versionThatConsumedJoin(mvRoot: String,
      pinnedL: Int, pinnedR: Int): Option[Int] = {
    val sp = joinSpec(mvRoot)
    var v = Snapshots.currentVersion(mvRoot)
    val lo = Snapshots.earliestVersion(mvRoot)
    while (v >= lo) {
      val l = Snapshots.txnVersionOf(mvRoot, v, appL(sp.left))
      val r = Snapshots.txnVersionOf(mvRoot, v, appR(sp.right))
      (l, r) match {
        case (Some(lm), Some(rm))
            if lm == pinnedL.toLong && rm == pinnedR.toLong =>
          return Some(v)
        case (Some(lm), Some(rm))
            if lm < pinnedL.toLong || rm < pinnedR.toLong => return None
        case _ => ()
      }
      v -= 1
    }
    None
  }

  /** Advance the MV to the base's current version by applying the
    * change feed's net per-group deltas — one clause-merge commit,
    * exactly-once under the A51 mark. Returns the MV version (which
    * is unchanged when the base hasn't moved). */
  def refresh(spark: SparkSession, mvRoot: String): Int = {
    import MergeWhen._
    val sp = spec(mvRoot)
    val mvV = Snapshots.currentVersion(mvRoot)
    require(mvV >= 0, s"$mvRoot not initialized (call create)")
    val from = consumedVersion(mvRoot)
    val to = Snapshots.currentVersion(sp.base)
    require(to >= from, s"$mvRoot consumed v$from but ${sp.base} is at " +
      s"v$to — was the base RESTOREd? Recreate the MV")
    if (to == from) return mvV

    // r12 — a FILTERED MV's change window keeps only rows the stored
    // predicate admits: a row outside the predicate never contributed
    // to the MV, so its insert/delete feed images are no-ops; a row
    // UPDATED across the predicate boundary nets exactly +1/−1 through
    // its pre/post images (the predicate is row-local and
    // deterministic, so image-wise filtering is the correct algebra)
    val cdf0 = Snapshots.changesCdf(spark, sp.base, from, to, sp.baseKey)
    val cdf = sp.filter.fold(cdf0)(f => cdf0.filter(expr(f)))
    val sign = when(col("_change_type")
      .isin("insert", "update_postimage"), lit(1L)).otherwise(lit(-1L))
    // per group: the counting-algebra deltas plus, per min/max column,
    // the window's insert-side extrema (they FOLD into the stored ones)
    // and delete-side extrema (they DETECT a stored-extremum hit)
    val dAggs = aggExprs(cdf, sp.sumCols, sign, "d_cnt", "d") ++
      mmDeltaExprs(sp.minMaxCols, sign) ++
      distDeltaExprs(sp.distinctCols, sign)
    val deltas = cdf.groupBy(sp.groupCols.map(c => col(s"`$c`")): _*)
      .agg(dAggs.head, dAggs.tail: _*)
    val marks = Seq(appId(sp.base) -> to.toLong)
    val v =
      if (sp.minMaxCols.isEmpty && sp.distinctCols.isEmpty)
        applyDeltas(spark, mvRoot, deltas, sp.groupCols, sp.sumCols, marks)
      else applyDeltasMinMax(spark, mvRoot, deltas, sp.groupCols,
        sp.sumCols, sp.minMaxCols, sp.distinctCols,
        sp.filter.fold(Snapshots.read(spark, sp.base, to))(f =>
          Snapshots.read(spark, sp.base, to).filter(expr(f))),
        marks)
    Refs.moveTag(sp.base, leaseName(mvRoot), to)
    v
  }

  /** Per min/max column, the change window's signed extrema: the
    * insert-side min/max fold into the stored values; the delete-side
    * min/max detect a stored-extremum hit. */
  private def mmDeltaExprs(minMaxCols: Seq[String],
      sign: Column): Seq[Column] =
    minMaxCols.flatMap { c => Seq(
      min(when(sign === 1L, col(s"`$c`"))).as(s"imn_$c"),
      max(when(sign === 1L, col(s"`$c`"))).as(s"imx_$c"),
      min(when(sign === -1L, col(s"`$c`"))).as(s"dmn_$c"),
      max(when(sign === -1L, col(s"`$c`"))).as(s"dmx_$c")) }

  /** r13 — per approx-distinct column, the window's INSERT-side sketch
    * (folds losslessly into the stored one via register-wise union)
    * plus one shared negative-image counter: a sketch cannot subtract,
    * so any group that LOST rows in the window recomputes from the
    * target-version state — the same group-scoped recompute the
    * min/max extremum hit already pays. */
  private def distDeltaExprs(distinctCols: Seq[String],
      sign: Column): Seq[Column] =
    if (distinctCols.isEmpty) Seq.empty
    else distinctCols.map(c =>
      hll_sketch_agg(when(sign === 1L, col(s"`$c`")), SketchLgK)
        .as(s"dsk_$c")) :+
      sum(when(sign === -1L, lit(1L)).otherwise(lit(0L))).as("__negs")

  /** The min/max-carrying refresh: fold-only groups take the same
    * delta merge as [[applyDeltas]] (with `mn' = least(mn, imn)` /
    * `mx' = greatest(mx, imx)` — Spark's least/greatest skip NULLs,
    * exactly SQL's min/max-merge); groups whose stored extremum was
    * DELETED recompute from `currentState` — the base pinned at the
    * target version (single-table MVs) or the two bases' target-version
    * join (join MVs) — semi-joined to just those group keys. Both land
    * in ONE clause-merge commit carrying the marks — atomicity and
    * exactly-once are identical to the fold-only path. Cost: change
    * volume + |hit groups|' rows of the current state. */
  private def applyDeltasMinMax(spark: SparkSession, mvRoot: String,
      deltas0: DataFrame, groupCols: Seq[String], sumCols: Seq[String],
      mm: Seq[String], dist: Seq[String], currentState: DataFrame,
      marks: Seq[(String, Long)]): Int = {
    import MergeWhen._
    // an update that only moved a min/max column nets d_cnt = 0 and
    // (with no sum columns) would vanish under applyDeltas' filter —
    // the extrema columns keep such groups alive here
    val nonZero = (col("d_cnt") =!= 0L) +:
      (sumCols.flatMap(c => Seq(
        col(s"`ds_$c`") =!= lit(0), col(s"`dnn_$c`") =!= 0L)) ++
       mm.flatMap(c => Seq(
         col(s"`imn_$c`").isNotNull, col(s"`imx_$c`").isNotNull,
         col(s"`dmn_$c`").isNotNull, col(s"`dmx_$c`").isNotNull)) ++
       dist.map(c => col(s"`dsk_$c`").isNotNull) ++
       (if (dist.isEmpty) Seq.empty else Seq(col("__negs") > 0L)))
    val deltas = deltas0.filter(nonZero.reduce(_ || _))
      .withColumn("__mv_key", keyExpr(groupCols))
    // hit test against the CURRENT stored extrema: a deleted value
    // always lies inside the stored range, so equality means the
    // extremum itself went away; dying groups just DELETE (no rescan)
    val mvCur = Snapshots.read(spark, mvRoot).select(
      col("__mv_key").as("__k") +: col("cnt").as("__cnt") +:
        mm.flatMap(c => Seq(col(s"`mn_$c`").as(s"__mn_$c"),
          col(s"`mx_$c`").as(s"__mx_$c"))): _*)
    // min/max recompute only on an extremum hit; a sketch recomputes
    // whenever the group LOST any row (no subtraction exists)
    val hit = (mm.map(c =>
      (col(s"`dmn_$c`").isNotNull && col(s"`dmn_$c`") === col(s"`__mn_$c`")) ||
      (col(s"`dmx_$c`").isNotNull && col(s"`dmx_$c`") === col(s"`__mx_$c`"))) ++
      (if (dist.isEmpty) Seq.empty else Seq(col("__negs") > 0L)))
      .reduce(_ || _)
    val marked = deltas
      .join(mvCur, col("__mv_key") === col("__k"), "left")
      .withColumn("__recomp", coalesce(
        col("__k").isNotNull && (col("__cnt") + col("d_cnt") > 0L) && hit,
        lit(false)))
      .drop((Seq("__k", "__cnt") ++
        mm.flatMap(c => Seq(s"__mn_$c", s"__mx_$c"))): _*)
      .localCheckpoint() // forked three ways below
    // group-scoped exact recompute from the target-version state
    val baseTo = currentState
      .withColumn("__mv_key", keyExpr(groupCols))
      .join(marked.filter(col("__recomp")).select("__mv_key"),
        Seq("__mv_key"), "left_semi")
    val rAggs = aggExprs(baseTo, sumCols, lit(1L), "r_cnt", "r_") ++
      minMaxExprs(mm, "r_") ++ sketchExprs(dist, "r_")
    val recomputed = baseTo.groupBy(groupCols.map(c => col(s"`$c`")): _*)
      .agg(rAggs.head, rAggs.tail: _*)
      .withColumn("__mv_key", keyExpr(groupCols))
      .withColumn("__recomp", lit(true))
    val source = marked.filter(!col("__recomp"))
      .unionByName(recomputed, allowMissingColumns = true)

    val foldSet: Seq[(String, Column)] =
      ("cnt" -> (col("cnt") + src("d_cnt"))) +: (sumCols.flatMap(c => Seq(
        s"s_$c" -> (col(s"`s_$c`") + src(s"ds_$c")),
        s"nn_$c" -> (col(s"`nn_$c`") + src(s"dnn_$c")))) ++
        mm.flatMap(c => Seq(
          s"mn_$c" -> least(col(s"`mn_$c`"), src(s"imn_$c")),
          s"mx_$c" -> greatest(col(s"`mx_$c`"), src(s"imx_$c")))) ++
        dist.map(c =>
          // insert-only fold: union the window's sketch in; NULL on
          // either side passes the other through (hll_union of a NULL
          // is NULL, not identity)
          s"sk_$c" -> when(src(s"dsk_$c").isNull, col(s"`sk_$c`"))
            .when(col(s"`sk_$c`").isNull, src(s"dsk_$c"))
            .otherwise(hll_union(col(s"`sk_$c`"), src(s"dsk_$c")))))
    val recompSet: Seq[(String, Column)] =
      ("cnt" -> src("r_cnt")) +: (sumCols.flatMap(c => Seq(
        s"s_$c" -> src(s"r_s_$c"), s"nn_$c" -> src(s"r_nn_$c"))) ++
        mm.flatMap(c => Seq(
          s"mn_$c" -> src(s"r_mn_$c"), s"mx_$c" -> src(s"r_mx_$c"))) ++
        dist.map(c => s"sk_$c" -> src(s"r_sk_$c")))
    val insertVals: Seq[(String, Column)] =
      ("__mv_key" -> src("__mv_key")) +: ("cnt" -> src("d_cnt")) +:
        (groupCols.map(g => g -> src(g)) ++
          sumCols.flatMap(c => Seq(
            s"s_$c" -> src(s"ds_$c"), s"nn_$c" -> src(s"dnn_$c"))) ++
          mm.flatMap(c => Seq(
            s"mn_$c" -> src(s"imn_$c"), s"mx_$c" -> src(s"imx_$c"))) ++
          // a brand-new group's window IS its whole content, so the
          // insert-side sketch is exact
          dist.map(c => s"sk_$c" -> src(s"dsk_$c")))
    Snapshots.mergeVersionedClauses(spark, mvRoot, source, "__mv_key", Seq(
      // recompute rows carry NULL d_cnt, so they can only fire here
      MatchedUpdate(Some(src("__recomp")), recompSet),
      MatchedDelete(Some(col("cnt") + src("d_cnt") === 0L)),
      MatchedUpdate(None, foldSet),
      NotMatchedInsert(Some(src("d_cnt") > 0L), insertVals)),
      txnMulti = marks)
  }

  /** Apply per-group signed deltas (`d_cnt`, `ds_c`, `dnn_c`) to the
    * MV in one clause-merge commit carrying `marks` atomically. */
  private def applyDeltas(spark: SparkSession, mvRoot: String,
      deltas0: DataFrame, groupCols: Seq[String], sumCols: Seq[String],
      marks: Seq[(String, Long)]): Int = {
    import MergeWhen._
    // groups whose net delta is zero everywhere need no rewrite
    val nonZero = (col("d_cnt") =!= 0L) +: sumCols.flatMap(c => Seq(
      col(s"`ds_$c`") =!= lit(0), col(s"`dnn_$c`") =!= 0L))
    val deltas = deltas0.filter(nonZero.reduce(_ || _))
      .withColumn("__mv_key", keyExpr(groupCols))

    val updateSet: Seq[(String, Column)] =
      ("cnt" -> (col("cnt") + src("d_cnt"))) +: sumCols.flatMap(c => Seq(
        s"s_$c" -> (col(s"`s_$c`") + src(s"ds_$c")),
        s"nn_$c" -> (col(s"`nn_$c`") + src(s"dnn_$c"))))
    val insertVals: Seq[(String, Column)] =
      ("__mv_key" -> src("__mv_key")) +:
        ("cnt" -> src("d_cnt")) +:
        (groupCols.map(g => g -> src(g)) ++
          sumCols.flatMap(c => Seq(
            s"s_$c" -> src(s"ds_$c"), s"nn_$c" -> src(s"dnn_$c"))))
    Snapshots.mergeVersionedClauses(spark, mvRoot, deltas, "__mv_key", Seq(
      // a group whose count reaches zero disappears, as a recompute's
      // would; first-match-wins puts the death test before the update
      MatchedDelete(Some(col("cnt") + src("d_cnt") === 0L)),
      MatchedUpdate(None, updateSet),
      // only genuinely new groups insert (a pure-delete delta for an
      // unseen group cannot arise from a consistent feed)
      NotMatchedInsert(Some(src("d_cnt") > 0L), insertVals)),
      txnMulti = marks)
  }

  /** Drop the MV: RELEASE its vacuum lease(s) — an abandoned MV must
    * not pin base history forever — and delete the MV's own tree. */
  def drop(mvRoot: String): Unit = {
    val m = specMap(mvRoot)
    val bases =
      if (m.get("kind").contains("join")) Seq(m("left"), m("right"))
      else Seq(m("base"))
    bases.foreach { b =>
      try Refs.dropTag(b, leaseName(mvRoot))
      catch { case _: Exception => () } // never held / already dropped
    }
    val walk = Files.walk(Paths.get(mvRoot))
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
    finally walk.close()
  }

  /** One row per base for `GRAFT DESCRIBE MATERIALIZED VIEW`:
    * (kind, base, role, consumedVersion, baseVersion, lag, lease,
    * groupCols, sumCols) — the freshness/lag view an operator
    * monitors, all from manifests. */
  def describe(mvRoot: String)
      : Seq[(String, String, String, Long, Long, Long, String, String, String)] = {
    val m = specMap(mvRoot)
    val (g, su) = groupSumOf(mvRoot)
    val kind = m.getOrElse("kind", "single")
    def row(base: String, role: String, app: String) = {
      val consumed = Snapshots.txnVersionOf(mvRoot, app).getOrElse(-1L)
      val cur = Snapshots.currentVersion(base).toLong
      (kind, base, role, consumed, cur, cur - consumed,
        leaseName(mvRoot), g.mkString(","), su.mkString(","))
    }
    if (kind == "join")
      Seq(row(m("left"), "left", appL(m("left"))),
        row(m("right"), "right", appR(m("right"))))
    else Seq(row(m("base"), "base", appId(m("base"))))
  }

  /** Route a refresh by the MV's spec kind (the SQL surface's single
    * REFRESH verb serves both MV shapes). */
  def refreshAny(spark: SparkSession, mvRoot: String): Int =
    if (specMap(mvRoot).get("kind").contains("join"))
      refreshJoin(spark, mvRoot)
    else refresh(spark, mvRoot)

  /** CONTINUOUS maintenance (r11, A55×A45 as a first-class surface):
    * one A45 CDF stream per base acts as the TRIGGER — each micro-batch
    * calls the batch refresh, which reads the feed window itself under
    * the A51 mark, so foreachBatch's at-least-once delivery is
    * harmless (a replayed or concurrent trigger no-ops on the recorded
    * watermark) and the vacuum lease advances with every consumed
    * commit exactly as in the batch path. Join MVs start one trigger
    * stream per base; either side's commit drives a full (vL, vR)
    * refresh — one-sided windows are the refresh's normal case.
    * Returns the running queries; the caller owns their lifecycle
    * (stop() to detach — the MV stays a consistent batch MV at
    * whatever watermark it reached). */
  def continuousRefresh(spark: SparkSession, mvRoot: String,
      checkpointDir: String)
      : Seq[org.apache.spark.sql.streaming.StreamingQuery] = {
    val m = specMap(mvRoot)
    val feeds: Seq[(String, String)] =
      if (m.get("kind").contains("join"))
        Seq(m("left") -> m("lkey"), m("right") -> m("rkey"))
      else Seq(m("base") -> m("key"))
    feeds.zipWithIndex.map { case ((b, k), i) =>
      spark.readStream.format("graft")
        .option("keyCol", k).option("readChangeFeed", "true").load(b)
        .writeStream
        .foreachBatch { (_: DataFrame, _: Long) =>
          // a join MV runs TWO trigger streams — simultaneous commits
          // on both bases can race two refreshes into the same MV
          // version. The commit CAS refuses the loser retryably;
          // rerunning re-reads the marks and no-ops over whatever the
          // winner consumed, so a bounded retry is exact (a persistent
          // refusal — e.g. a multi-table publish fence — still
          // surfaces after the retries). r12: retries BACK OFF
          // (linear, 50ms·attempt) and log — a tight 5-spin loop lost
          // to a sixth transient conflict (two trigger streams plus
          // batch writers) would propagate and silently terminate the
          // maintenance StreamingQuery, leaving the MV permanently
          // stale unless the caller polls query.exception.
          val maxAttempts = 20
          var attempts = 0
          var done = false
          while (!done) {
            try { refreshAny(spark, mvRoot); done = true }
            catch {
              case e @ (_: java.nio.file.FileAlreadyExistsException |
                        _: java.util.ConcurrentModificationException)
                  if attempts < maxAttempts =>
                attempts += 1
                org.slf4j.LoggerFactory.getLogger(getClass).warn(
                  s"graft MV maintenance: commit conflict on $mvRoot " +
                    s"(attempt $attempts/$maxAttempts), retrying: $e")
                Thread.sleep(50L * attempts)
            }
          }
          ()
        }
        .option("checkpointLocation", s"$checkpointDir/feed$i")
        .start()
    }
  }

  /** The MV's user-facing shape: group columns, `cnt`, and per sum
    * column the ANSI `sum_c` (NULL when no non-null contributor — the
    * stored 0-based running sum is an internal detail) and `avg_c`. */
  def read(spark: SparkSession, mvRoot: String): DataFrame = {
    val (groupCols, sumCols) = groupSumOf(mvRoot)
    val mm = splitCols(specMap(mvRoot).getOrElse("minmax", ""))
    val mv = Snapshots.read(spark, mvRoot)
    val cols = groupCols.map(c => col(s"`$c`")) ++
      Seq(col("cnt")) ++ sumCols.flatMap(c => Seq(
        when(col(s"`nn_$c`") === 0L, lit(null))
          .otherwise(col(s"`s_$c`")).as(s"sum_$c"),
        when(col(s"`nn_$c`") === 0L, lit(null))
          .otherwise(col(s"`s_$c`") / col(s"`nn_$c`")).as(s"avg_$c"))) ++
      mm.flatMap(c => Seq(
        col(s"`mn_$c`").as(s"min_$c"), col(s"`mx_$c`").as(s"max_$c")))
    mv.select(cols: _*)
  }

  // ── A57: MV over a two-table equi-join ─────────────────────────────
  //
  // The HARD incremental-view-maintenance case: for MV =
  // γ(L ⋈_j R), the multiset delta of the join under simultaneous
  // change on both sides is
  //
  //     Δ(L ⋈ R) = ΔL ⋈ R_new  ∪  L_old ⋈ ΔR
  //
  // (R_new includes ΔR, so the first term carries ΔL⋈ΔR exactly once;
  // L_old excludes ΔL, so the second term never double-counts it).
  // Each joined delta row keeps its side's ±1 sign, and the same
  // counting algebra as the single-table MV turns the signed rows into
  // per-group Δcnt/Δsum/Δnn — so the aggregate stays EXACT under
  // updates that move join keys, deletes that kill fan-outs, and
  // inserts on either or both sides in one window. The two consumed
  // base versions ride ONE commit as two A51 marks (one `txn` list), so
  // the (leftVersion, rightVersion) watermark pair is atomic with the
  // data — a crashed refresh can never record one side's progress
  // without the other's.
  //
  // At 100 TB: ΔL ⋈ R_new is change-rows against a stats/partition-
  // prunable snapshot join on the join key (broadcast when the delta
  // is small); L_old ⋈ ΔR reads the RETAINED old left version — time
  // travel is the free multiversioning this engine already pays for.
  // Nothing ever rescans both full tables.

  final case class JoinMvSpec(left: String, leftKey: String,
      right: String, rightKey: String, joinCol: String,
      groupCols: Seq[String], sumCols: Seq[String],
      minMaxCols: Seq[String] = Seq.empty)

  private def appL(left: String): String = "mvL@" + norm(left)
  private def appR(right: String): String = "mvR@" + norm(right)

  /** Build the join MV at both bases' current versions. Left and
    * right schemas must overlap ONLY on `joinCol` (qualified outputs
    * would poison the stored shape). */
  def createJoin(spark: SparkSession, mvRoot: String,
      left: String, leftKey: String, right: String, rightKey: String,
      joinCol: String, groupCols: Seq[String],
      sumCols: Seq[String] = Seq.empty,
      minMaxCols: Seq[String] = Seq.empty): Int = {
    require(groupCols.nonEmpty, "materialized view: no group columns")
    require((groupCols ++ sumCols ++ minMaxCols).forall(c => !c.contains(",")),
      "materialized view: ',' in a column name")
    val (vL, vR) = (Snapshots.currentVersion(left),
      Snapshots.currentVersion(right))
    require(vL >= 0 && vR >= 0, "both bases must be initialized")
    require(Snapshots.currentVersion(mvRoot) < 0,
      s"$mvRoot already holds a table")
    // pinned to the captured versions for the same reason create()
    // reads at bv: the marks must describe exactly what was aggregated
    val l = Snapshots.read(spark, left, vL)
    val r = Snapshots.read(spark, right, vR)
    val overlap = l.columns.toSet.intersect(r.columns.toSet)
    require(overlap == Set(joinCol),
      s"left/right schemas must overlap only on '$joinCol', got $overlap")
    val joined = l.join(r, Seq(joinCol))
    val aggs = aggExprs(joined, sumCols, lit(1L), "cnt", "") ++
      minMaxExprs(minMaxCols, "")
    val full = joined.groupBy(groupCols.map(c => col(s"`$c`")): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("__mv_key", keyExpr(groupCols))
    Files.createDirectories(Paths.get(mvRoot))
    Files.writeString(Paths.get(mvRoot, SpecFile),
      s"kind=join\nleft=${norm(left)}\nlkey=$leftKey\n" +
        s"right=${norm(right)}\nrkey=$rightKey\njoin=$joinCol\n" +
        s"group=${groupCols.mkString(",")}\nsum=${sumCols.mkString(",")}\n" +
        s"minmax=${minMaxCols.mkString(",")}\n")
    // bootstrap v0 WITH both marks (the same reason the A51 idempotent
    // append bootstraps with its mark: batch 0 must not be replayable);
    // a crashed earlier attempt's part files are cleared first
    val v = Snapshots.initWritten(spark, mvRoot, full,
      Seq(appL(left) -> vL.toLong, appR(right) -> vR.toLong))
    Refs.moveTag(left, leaseName(mvRoot), vL)
    Refs.moveTag(right, leaseName(mvRoot), vR)
    v
  }

  def joinSpec(mvRoot: String): JoinMvSpec = {
    val m = specMap(mvRoot)
    val get = rawSpec(mvRoot)
    require(get("kind") == "join", s"$mvRoot is not a join MV")
    JoinMvSpec(get("left"), get("lkey"), get("right"), get("rkey"),
      get("join"), splitCols(get("group")), splitCols(get("sum")),
      splitCols(m.getOrElse("minmax", "")))
  }

  /** Advance a join MV to both bases' current versions in one exact,
    * exactly-once step. Requires the previously consumed LEFT version
    * to still be resolvable (vacuum must retain it — the L_old term
    * reads it). */
  def refreshJoin(spark: SparkSession, mvRoot: String): Int = {
    import MergeWhen._
    val sp = joinSpec(mvRoot)
    val mvV = Snapshots.currentVersion(mvRoot)
    require(mvV >= 0, s"$mvRoot not initialized (call createJoin)")
    val fromL = Snapshots.txnVersionOf(mvRoot, appL(sp.left)).getOrElse(
      throw new IllegalStateException(s"$mvRoot: no left mark")).toInt
    val fromR = Snapshots.txnVersionOf(mvRoot, appR(sp.right)).getOrElse(
      throw new IllegalStateException(s"$mvRoot: no right mark")).toInt
    val toL = Snapshots.currentVersion(sp.left)
    val toR = Snapshots.currentVersion(sp.right)
    require(toL >= fromL && toR >= fromR,
      s"$mvRoot consumed (v$fromL, v$fromR) but bases are at " +
        s"(v$toL, v$toR) — was a base RESTOREd? Recreate the MV")
    if (toL == fromL && toR == fromR) return mvV
    // the L_old term time-travels to the consumed left version: vacuum
    // must have retained it (keepFrom ≤ fromL) — fail loudly up front
    // rather than mid-join on a reclaimed file
    require(Snapshots.hasVersion(sp.left, fromL),
      s"$mvRoot: consumed left version v$fromL of ${sp.left} is gone " +
        "(vacuumed?) — a join MV needs its consumed version retained; " +
        "recreate the MV")

    val sign = when(col("_change_type")
      .isin("insert", "update_postimage"), lit(1L)).otherwise(lit(-1L))
    def deltaOf(base: String, key: String, from: Int, to: Int) =
      if (to == from) None
      else Some(Snapshots.changesCdf(spark, base, from, to, key)
        .withColumn("__sign", sign).drop("_change_type"))
    val term1 = deltaOf(sp.left, sp.leftKey, fromL, toL).map(
      _.join(Snapshots.read(spark, sp.right, toR), Seq(sp.joinCol)))
    val term2 = deltaOf(sp.right, sp.rightKey, fromR, toR).map(
      _.join(Snapshots.read(spark, sp.left, fromL), Seq(sp.joinCol)))
    val unioned = (term1, term2) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => return mvV // unreachable (handled above)
    }
    val dAggs = aggExprs(unioned, sp.sumCols, col("__sign"), "d_cnt", "d") ++
      mmDeltaExprs(sp.minMaxCols, col("__sign"))
    val deltas = unioned.groupBy(sp.groupCols.map(c => col(s"`$c`")): _*)
      .agg(dAggs.head, dAggs.tail: _*)
    val marks = Seq(appL(sp.left) -> toL.toLong, appR(sp.right) -> toR.toLong)
    val v =
      if (sp.minMaxCols.isEmpty)
        applyDeltas(spark, mvRoot, deltas, sp.groupCols, sp.sumCols, marks)
      else
        // the recompute state for a join MV is the two bases' TARGET-
        // version join — group-scoped via the same semi-join, so cost
        // is |hit groups|' join rows, never a two-table rescan
        applyDeltasMinMax(spark, mvRoot, deltas, sp.groupCols, sp.sumCols,
          sp.minMaxCols, Seq.empty, // join MVs carry no sketch columns
          Snapshots.read(spark, sp.left, toL)
            .join(Snapshots.read(spark, sp.right, toR), Seq(sp.joinCol)),
          marks)
    Refs.moveTag(sp.left, leaseName(mvRoot), toL)
    Refs.moveTag(sp.right, leaseName(mvRoot), toR)
    v
  }
}
