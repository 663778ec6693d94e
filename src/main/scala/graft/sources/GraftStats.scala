package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** A33/A27 → COST-BASED OPTIMIZER (r9, the r8 verdict's item 5): the
  * manifest already carries per-file row counts, per-column min/max
  * ranges, and null counts — but a V1 `LogicalRelation` exposes only
  * `sizeInBytes` unless its catalog entry carries
  * `CatalogStatistics`. This rule fills that gap for CATALOG-NAMED
  * graft tables (the by-name path where `catalogTable` exists to hang
  * stats on): rowCount = Σ manifest file rows, column min/max = fold
  * of the per-file ranges, nullCount = Σ per-file null counts — ALL
  * metadata-only, zero data files opened, zero jobs run inside the
  * rule (the property that keeps resolution cheap on a 100 TB table:
  * the manifest stats are free because every commit already recorded
  * them). The fourth statistic — NDV, which FilterEstimation REQUIRES
  * before it will price even a range predicate, and which parquet
  * footers don't carry — comes from an explicit `GRAFT ANALYZE` pass
  * (one distributed scan, Iceberg's ANALYZE contract) stored
  * VERSIONED in the snapshot log; the rule merges the newest record
  * analyzed at a version ≤ the scanned one, capped at its row count
  * ([[Snapshots.analyzeTable]]).
  *
  * What it buys: with `spark.sql.cbo.enabled`, FilterEstimation can
  * shrink a selective predicate's output estimate below the broadcast
  * threshold — flipping a sort-merge join over a big-but-filtered
  * graft table into a broadcast join (spec-pinned: SMJ before
  * ANALYZE, BHJ after, SMJ by path), and join reorder sees real
  * cardinalities instead of file bytes.
  *
  * Soundness: stats describe the EXACT pinned version the relation
  * scans (`GraftFileIndex.tableVersion`); DV-carrying and
  * column-mapped versions never reach this rule (they plan through
  * GraftCompatRelation, not HadoopFsRelation), so the manifest sums
  * are never stale over merge-on-read state. Legacy manifests missing
  * row counts attach nothing (estimation falls back to sizeInBytes,
  * exactly as before).
  */
class GraftStatsRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case lr: LogicalRelation if lr.catalogTable.exists(_.stats.isEmpty) =>
      val cs = lr.relation match {
        case h: HadoopFsRelation => h.location match {
          case g: GraftFileIndex =>
            GraftStats.catalogStats(g.tablePath, g.tableVersion)
          case g: GraftPartitionedFileIndex =>
            GraftStats.partitionedCatalogStats(g.partitionDirs)
          case g: GraftHiddenPartitionedIndex =>
            GraftStats.partitionedCatalogStats(g.partitionDirs)
          case _ => None
        }
        case _ => None
      }
      cs match {
        case Some(stats) =>
          lr.copy(catalogTable = lr.catalogTable.map(_.copy(stats = Some(stats))))
        case None => lr
      }
  }
}

object GraftStats {

  /** Catalog statistics for a DV-carrying (or column-mapped) version —
    * what [[GraftDvScanRule]] hangs on the substituted vectorized
    * scan: manifest column ranges/null counts/NDV as on the plain
    * path, with rowCount corrected for the dead positions
    * ([[Snapshots.rowCount]] — exact, not an estimate). Column min/max
    * stay the manifest bounds, which under DVs are sound-as-bounds but
    * possibly wide (a dead row may have held the extremum) — the
    * standard estimator trade; A48's EXACT metadata answers stay off
    * DV versions for precisely this reason. */
  private[graft] def dvAdjustedStats(spark: org.apache.spark.sql.SparkSession,
      path: String, v: Int): Option[CatalogStatistics] =
    catalogStats(path, v).map { base =>
      base.copy(rowCount =
        Snapshots.rowCount(spark, path, v).map(BigInt(_)).orElse(base.rowCount))
    }

  /** Manifest-derived `CatalogStatistics` for one version of a flat
    * table: None when any live file lacks recorded row counts (legacy
    * manifests — no guessing). Metadata-only by construction. */
  private[graft] def catalogStats(path: String, v: Int): Option[CatalogStatistics] = {
    if (!Snapshots.hasVersion(path, v)) return None
    val live = Snapshots.liveFiles(path, v).map(Snapshots.canonical)
    if (live.isEmpty)
      return Some(CatalogStatistics(BigInt(0), Some(BigInt(0)), Map.empty))
    val rows = Snapshots.fileRows(path, v)
    if (!live.forall(rows.contains)) return None
    val bytes = live.map(f => Files.size(Paths.get(f))).sum
    val totalRows = live.map(rows).sum
    // NDV, two sources merged (capped at the SCANNED version's row
    // count either way):
    //  - A61 per-file HLL sketches, register-wise-max-merged over the
    //    LIVE set — present for every column of every post-r10 commit,
    //    exact-to-the-version by construction (a delete, compaction, or
    //    append moves the estimate with the files; nothing to re-run);
    //  - the A46 ANALYZE sidecar for columns the sketches don't cover
    //    (legacy manifests) — point-in-time, drifts until re-analyzed.
    val hll = Snapshots.fileHll(path, v)
    val sketchNdv: Map[String, Long] = {
      // empty files record no sketch (they have no aggregate group) and
      // contribute zero distincts — merge over the non-empty live set
      val nonEmpty = live.filter(f => rows(f) > 0L)
      val covered = nonEmpty.headOption
        .map(f => hll.getOrElse(f, Map.empty).keySet).getOrElse(Set.empty)
        .filter(c => nonEmpty.forall(f => hll.get(f).exists(m =>
          m.contains(c) &&
            m(c).length == hll(nonEmpty.head)(c).length)))
      covered.iterator.map { c =>
        c -> graft.functions.Hll.estimate(
          nonEmpty.map(f => hll(f)(c)).reduce(graft.functions.Hll.merge))
      }.toMap
    }
    val ndv: Map[String, Long] =
      (Snapshots.ndvRecord(path, v).map(_._2).getOrElse(Map.empty) ++
        sketchNdv)
        .map { case (c, n) => c -> math.min(n, totalRows) }
    // ANALYZE-written equi-height histograms (same versioned record):
    // the skew model FilterEstimation prefers over uniform min/max
    val hist: Map[String, org.apache.spark.sql.catalyst.plans.logical.Histogram] =
      Snapshots.histRecord(path, v).map { case (c, (height, bins)) =>
        c -> org.apache.spark.sql.catalyst.plans.logical.Histogram(height,
          bins.map { case (lo, hi, n) =>
            org.apache.spark.sql.catalyst.plans.logical.HistogramBin(lo, hi, n)
          }.toArray)
      }
    Some(CatalogStatistics(BigInt(bytes),
      Some(BigInt(totalRows)),
      columnStats(live, Snapshots.fileStats(path, v),
        Snapshots.fileNulls(path, v), ndv, hist)))
  }

  /** The partitioned form: sums across every partition's CURRENT
    * version; column ranges fold across partitions (the partition
    * column itself has no data-file stats — it lives in directory
    * names — and is simply absent from colStats). */
  private[sources] def partitionedCatalogStats(
      dirs: Seq[(String, String)]): Option[CatalogStatistics] = {
    val per = dirs.map { case (_, d) =>
      catalogStats(d, Snapshots.currentVersion(d)) }
    if (per.exists(_.isEmpty)) return None
    val all = per.flatten
    val colStats = all.flatMap(_.colStats.toSeq)
      .groupBy(_._1).collect {
        // a column must be present (with min/max) in EVERY partition,
        // or the fold would understate the true range
        case (c, entries) if entries.size == dirs.size =>
          c -> foldColumn(entries.map(_._2))
      }
    val totalRows = all.flatMap(_.rowCount).sum
    Some(CatalogStatistics(
      all.map(_.sizeInBytes).sum,
      Some(totalRows),
      colStats.map { case (c, st) =>
        c -> st.copy(distinctCount = st.distinctCount.map(_.min(totalRows)))
      }.toMap))
  }

  /** Fold per-file manifest stats into per-column catalog stats.
    * Only columns with recorded ranges in EVERY live file qualify
    * (a partial range is not a table range); null counts likewise. */
  private def columnStats(live: Seq[String],
      stats: Map[String, Map[String, (String, String, String)]],
      nulls: Map[String, Map[String, Long]],
      ndv: Map[String, Long],
      hist: Map[String, org.apache.spark.sql.catalyst.plans.logical.Histogram]
        = Map.empty): Map[String, CatalogColumnStat] = {
    val perFile = live.map(f => stats.getOrElse(f, Map.empty))
    if (perFile.isEmpty) return Map.empty
    val cols = perFile.map(_.keySet).reduce(_ intersect _)
    val ranged = cols.iterator.flatMap { c =>
      val entries = perFile.map(_(c))
      val tag = entries.head._1
      val nullCount: Option[BigInt] = {
        val per = live.map(f => nulls.getOrElse(f, Map.empty).get(c))
        if (per.forall(_.isDefined)) Some(BigInt(per.flatten.sum)) else None
      }
      // r12: string-tagged ranges are base64 prefixes — Spark's own
      // ANALYZE records no min/max for strings either (FilterEstimation
      // prices string predicates from NDV + nullCount alone), so carry
      // exactly those; a NaN double bound likewise yields no range
      val numeric = tag != "S" &&
        entries.forall(e => scala.util.Try(BigDecimal(e._2)).isSuccess &&
          scala.util.Try(BigDecimal(e._3)).isSuccess)
      if (!numeric) {
        if (nullCount.isEmpty && ndv.get(c).isEmpty) None
        else Some(c -> CatalogColumnStat(
          distinctCount = ndv.get(c).map(BigInt(_)),
          min = None, max = None, nullCount = nullCount,
          avgLen = None, maxLen = None))
      } else {
        val mins = entries.map(e => BigDecimal(e._2))
        val maxs = entries.map(e => BigDecimal(e._3))
        // external string form must parse under the column's type:
        // integral tags (plain longs, micros, days) render without a
        // decimal point — CatalogColumnStat v2 stores timestamps as
        // micros and dates as days, exactly the T/A representation
        def render(x: BigDecimal): String =
          if (tag == "L" || tag == "T" || tag == "A") x.toBigInt.toString
          else x.toString
        Some(c -> CatalogColumnStat(
          distinctCount = ndv.get(c).map(BigInt(_)),
          min = Some(render(mins.min)),
          max = Some(render(maxs.max)),
          nullCount = nullCount,
          avgLen = None, maxLen = None,
          histogram = hist.get(c)))
      }
    }.toMap
    // columns the ANALYZE covered but the manifest has no range for
    // (strings: footers record no min/max tag) still carry their NDV —
    // enough for equality-predicate and join-cardinality estimation
    ranged ++ (ndv.keySet -- ranged.keySet).iterator.map { c =>
      c -> CatalogColumnStat(distinctCount = Some(BigInt(ndv(c))),
        min = None, max = None, nullCount = None, avgLen = None, maxLen = None)
    }
  }

  private def foldColumn(entries: Seq[CatalogColumnStat]): CatalogColumnStat = {
    def decs(vs: Seq[Option[String]]): Seq[BigDecimal] =
      vs.flatten.map(BigDecimal(_))
    val mins = decs(entries.map(_.min))
    val maxs = decs(entries.map(_.max))
    val integral = entries.forall(_.min.exists(!_.contains('.')))
    def render(x: BigDecimal): String =
      if (integral) x.toBigInt.toString else x.toString
    CatalogColumnStat(
      // NDVs don't add, but Σ per-partition NDV is the standard
      // merge upper bound (catalogStats caps it at total rows)
      distinctCount = {
        val ds = entries.map(_.distinctCount)
        if (ds.forall(_.isDefined)) Some(ds.flatten.sum) else None
      },
      min = if (mins.nonEmpty) Some(render(mins.min)) else None,
      max = if (maxs.nonEmpty) Some(render(maxs.max)) else None,
      nullCount = {
        val ns = entries.map(_.nullCount)
        if (ns.forall(_.isDefined)) Some(ns.flatten.sum) else None
      },
      avgLen = None, maxLen = None)
  }
}

/** A33/A27/A42 → METADATA-ONLY AGGREGATES (r9, Delta's
  * OptimizeMetadataOnlyDeltaQuery): a global `count(*)` / `count(col)`
  * / `min(col)` / `max(col)` over a graft relation is ANSWERED FROM
  * THE MANIFEST — the Aggregate rewrites to a one-row LocalRelation
  * and the 100 TB scan disappears from the plan entirely (spec pin:
  * the query still answers after a live data file is deleted from
  * disk). count(*) = Σ file rows; count(col) = Σ rows − Σ null counts;
  * min/max = fold of the per-file ranges (integral and floating
  * columns — float ranges were recorded as exact widened doubles, so
  * the narrow-back is exact).
  *
  * FILTERED form (r11, the r10 verdict's item 5): a conjunctive
  * predicate of simple comparisons rewrites too, when the manifest
  * PROVES every live file wholly inside or wholly outside it — a file
  * is ALL-IN for `a ≥ l` when its recorded lo ≥ l AND its null count
  * is zero (NULL fails every comparison), ALL-OUT when hi < l (nulls
  * fail along); `IsNull`/`IsNotNull` decide from the null counts
  * alone; on a partitioned root a predicate on the PARTITION column
  * decides whole directories (the value is a per-dir constant — this
  * is partition pruning performed by the rule). The aggregate then
  * answers from the ALL-IN files only; ANY file the stats can't
  * classify bails the whole rewrite to the scan. Typical wins at
  * 100 TB: `WHERE day = …` (pruned to one partition, answered from
  * its manifest) and range predicates aligned with file layout
  * (range-partitioned/Z-ordered tables, where file ranges are
  * disjoint by construction).
  *
  * Sound by construction: DV-carrying and column-mapped versions plan
  * through the compat relations and never match; DISTINCT /
  * FILTER-clause / grouped aggregates don't match; a live file
  * missing a needed statistic bails to the scan — unless the null
  * counts prove the file all-null in that column (min/max ignore
  * nulls). Partitioned roots sum across every partition's current
  * version.
  */
class GraftMetaAggRule extends Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {

  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.catalyst.expressions.aggregate._
  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, Project}
  import org.apache.spark.sql.types._

  /** One graft table slice the relation scans: a flat table, a
    * partition dir with its constant partition value, or a HIDDEN
    * partition dir with its epoch's transform + routed value. */
  private case class Slice(path: String, v: Int, partValue: Option[String],
      transform: Option[(GraftTransform, String)] = None)

  private case class ScanInfo(slices: Seq[Slice], partCol: Option[String],
      filters: Seq[Expression])

  /** The graft slices + filter conjuncts this plan scans, or None if
    * not a clean (Project/Filter)*-over-graft-relation shape. */
  private def scanInfo(p: LogicalPlan): Option[ScanInfo] = p match {
    case lr: LogicalRelation => lr.relation match {
      case h: HadoopFsRelation => h.location match {
        case g: GraftFileIndex =>
          Some(ScanInfo(Seq(Slice(g.tablePath, g.tableVersion, None)),
            None, Nil))
        case g: GraftPartitionedFileIndex =>
          Some(ScanInfo(g.partitionDirs.map { case (value, d) =>
            Slice(d, Snapshots.currentVersion(d), Some(value)) },
            Some(g.partitionCol), Nil))
        case g: GraftHiddenPartitionedIndex =>
          Some(ScanInfo(g.partitionGroups.flatMap { case (t, ds) =>
            ds.map { case (value, d) =>
              Slice(d, Snapshots.currentVersion(d), None,
                Some((t, value))) } }, None, Nil))
        case _ => None
      }
      case _ => None
    }
    case Project(projs, child) if projs.forall(_.isInstanceOf[AttributeReference]) =>
      scanInfo(child)
    case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
      scanInfo(f.child).map(i =>
        i.copy(filters = splitConjunctivePredicates(f.condition) ++ i.filters))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg @ Aggregate(Nil, aggExprs, child, _) =>
      scanInfo(child) match {
        case Some(info) if info.slices.nonEmpty =>
          survivorsOf(info) match {
            case Some(survivors) =>
              val values = aggExprs.map(answer(_, survivors))
              if (values.exists(_.isEmpty)) agg
              else LocalRelation(agg.output,
                Seq(org.apache.spark.sql.catalyst.InternalRow
                  .fromSeq(values.map(_.get))))
            case None => agg
          }
        case _ => agg
      }
  }

  /** The ALL-IN live files per slice, or None when any conjunct is
    * unsupported or any file is unclassifiable. With no filters every
    * live file survives (the r9 unfiltered behavior, no stats needed
    * beyond what each aggregate itself reads). */
  private def survivorsOf(info: ScanInfo)
      : Option[Seq[(String, Int, Seq[String])]] = {
    val out = info.slices.map { s =>
      if (!Snapshots.hasVersion(s.path, s.v)) return None
      val live = Snapshots.liveFiles(s.path, s.v).map(Snapshots.canonical)
      if (info.filters.isEmpty) (s.path, s.v, live)
      else {
        // partition-column conjuncts decide the whole dir
        val (partConjs, rest) = info.filters.partition(c =>
          info.partCol.exists(pc => c.references.nonEmpty &&
            c.references.forall(_.name == pc)))
        // HIDDEN-partition conjuncts on the transform's source column
        // decide the dir through the transform: mayContain = false is
        // a proven ALL-OUT; all-in is ¬mayContain(¬conjunct) — no row
        // of the dir can fail it (time transforms carry exact micros
        // intervals, so `WHERE ts ≥ …` decides whole months). A dir
        // the transform can't decide falls through to the per-file
        // stats below, never straight to a bail.
        var transformOut = false
        val dataConjs = rest.filter { c =>
          s.transform match {
            case Some((t, v)) if c.references.nonEmpty &&
                c.references.forall(_.name == t.col) =>
              if (!t.mayContain(v, c)) { transformOut = true; false }
              else !negateCmp(c).exists(n => !t.mayContain(v, n))
            case _ => true
          }
        }
        val dirIn = partConjs.map(classifyPart(_, s.partValue, info.partCol))
        if (dirIn.contains(None)) return None
        if (transformOut || dirIn.flatten.contains(false))
          (s.path, s.v, Seq.empty[String])
        else {
          val stats = Snapshots.fileStats(s.path, s.v)
          val nulls = Snapshots.fileNulls(s.path, s.v)
          val rows = Snapshots.fileRows(s.path, s.v)
          val kept = scala.collection.mutable.ListBuffer.empty[String]
          live.foreach { f =>
            if (!rows.get(f).contains(0L)) { // empty files are ALL-OUT
              val verdicts = dataConjs.map(classifyFile(_,
                stats.getOrElse(f, Map.empty),
                nulls.getOrElse(f, Map.empty), rows.get(f)))
              if (verdicts.forall(_ == Some(true))) kept += f
              else if (!verdicts.exists(_ == Some(false))) return None
              // some conjunct is ALL-OUT → the file contributes nothing
            }
          }
          (s.path, s.v, kept.toSeq)
        }
      }
    }
    Some(out)
  }

  /** The stats-prunable negation of a comparison (NULL-free in both
    * directions: rows of a valued hidden partition always carry a
    * non-NULL transform source). Equality's negation isn't a prunable
    * shape — equality decides per-file instead. */
  private def negateCmp(e: Expression): Option[Expression] = e match {
    case GreaterThan(a, b) => Some(LessThanOrEqual(a, b))
    case GreaterThanOrEqual(a, b) => Some(LessThan(a, b))
    case LessThan(a, b) => Some(GreaterThanOrEqual(a, b))
    case LessThanOrEqual(a, b) => Some(GreaterThan(a, b))
    case _ => None
  }

  /** Whole-dir verdict of a partition-column conjunct: Some(true) =
    * every row in, Some(false) = every row out, None = unsupported. */
  private def classifyPart(c: Expression, value: Option[String],
      partCol: Option[String]): Option[Boolean] = (c, value) match {
    case (EqualTo(a: AttributeReference, Literal(l, StringType)), Some(v))
        if partCol.contains(a.name) && l != null =>
      Some(l.toString == v)
    case (EqualTo(Literal(l, StringType), a: AttributeReference), Some(v))
        if partCol.contains(a.name) && l != null =>
      Some(l.toString == v)
    case (In(a: AttributeReference, vs), Some(v))
        if partCol.contains(a.name) &&
          vs.forall(e => e.isInstanceOf[Literal] &&
            e.asInstanceOf[Literal].value != null) =>
      Some(vs.exists(_.asInstanceOf[Literal].value.toString == v))
    case (IsNotNull(a: AttributeReference), Some(_))
        if partCol.contains(a.name) => Some(true)
    case _ => None
  }

  /** Per-file verdict of a data-column conjunct against the file's
    * recorded (lo, hi) range and null count. ALL-IN demands zero nulls
    * (NULL fails every comparison); ALL-OUT is free of that demand
    * (nulls fail alongside the out-of-range values). */
  private def classifyFile(c: Expression,
      stats: Map[String, (String, String, String)],
      nulls: Map[String, Long], rowsOf: Option[Long]): Option[Boolean] = {
    def nullsOf(a: AttributeReference): Option[Long] =
      nulls.get(a.name).orElse(rowsOf.filter(_ == 0L))
    def lit(e: Expression): Option[Any] = e match {
      case Literal(v, dt) if v != null && supported(dt) => Some(v)
      case _ => None
    }
    // a file provably ALL-NULL in the column (incl. a schema-evolution
    // era file that predates the column): every comparison fails — a
    // sound ALL-OUT even with no recorded range
    def allNull(a: AttributeReference): Boolean =
      (for (n <- nullsOf(a); r <- rowsOf) yield n == r).getOrElse(false)
    // r12: judged in SIGN space via the shared tag-aware comparator
    // (GraftFileIndex.bounds): sLo/sHi are the signs of (recorded lo
    // cmp l, recorded hi cmp l). The recorded range always CONTAINS the
    // true one (string bounds may be widened by truncation), so ALL-IN
    // per recorded range ⊆ all-in per true range and likewise ALL-OUT —
    // both verdicts stay sound; the only cost is more "don't know".
    def cmp(a: AttributeReference, l: Any,
        in: (Int, Int) => Boolean,
        out: (Int, Int) => Boolean): Option[Boolean] =
      if (allNull(a)) Some(false)
      else for {
        (sLo, sHi) <- GraftFileIndex.bounds(stats, a.name, l)
        n <- nullsOf(a)
        r <- if (in(sLo, sHi) && n == 0L) Some(true)
             else if (out(sLo, sHi)) Some(false)
             else None
      } yield r
    c match {
      case GreaterThanOrEqual(a: AttributeReference, e) => lit(e).flatMap(l =>
        cmp(a, l, (sLo, _) => sLo >= 0, (_, sHi) => sHi < 0))
      case GreaterThan(a: AttributeReference, e) => lit(e).flatMap(l =>
        cmp(a, l, (sLo, _) => sLo > 0, (_, sHi) => sHi <= 0))
      case LessThanOrEqual(a: AttributeReference, e) => lit(e).flatMap(l =>
        cmp(a, l, (_, sHi) => sHi <= 0, (sLo, _) => sLo > 0))
      case LessThan(a: AttributeReference, e) => lit(e).flatMap(l =>
        cmp(a, l, (_, sHi) => sHi < 0, (sLo, _) => sLo >= 0))
      case EqualTo(a: AttributeReference, e) => lit(e).flatMap(l =>
        cmp(a, l, (sLo, sHi) => sLo == 0 && sHi == 0,
          (sLo, sHi) => sLo > 0 || sHi < 0))
      // literal-on-the-left mirrors
      case GreaterThanOrEqual(e, a: AttributeReference) =>
        classifyFile(LessThanOrEqual(a, e), stats, nulls, rowsOf)
      case GreaterThan(e, a: AttributeReference) =>
        classifyFile(LessThan(a, e), stats, nulls, rowsOf)
      case LessThanOrEqual(e, a: AttributeReference) =>
        classifyFile(GreaterThanOrEqual(a, e), stats, nulls, rowsOf)
      case LessThan(e, a: AttributeReference) =>
        classifyFile(GreaterThan(a, e), stats, nulls, rowsOf)
      case EqualTo(e, a: AttributeReference) =>
        classifyFile(EqualTo(a, e), stats, nulls, rowsOf)
      case IsNotNull(a: AttributeReference) => (nullsOf(a), rowsOf) match {
        case (Some(n), Some(r)) =>
          if (n == 0L) Some(true) else if (n == r) Some(false) else None
        case _ => None
      }
      case IsNull(a: AttributeReference) => (nullsOf(a), rowsOf) match {
        case (Some(n), Some(r)) =>
          if (n == r) Some(true) else if (n == 0L) Some(false) else None
        case _ => None
      }
      case _ => None
    }
  }

  /** Evaluate one output aggregate over the surviving files of every
    * slice; None = not answerable (leave the whole Aggregate to the
    * scan). */
  private def answer(ne: NamedExpression,
      tables: Seq[(String, Int, Seq[String])]): Option[Any] = ne match {
    case Alias(AggregateExpression(fn, Complete, false, None, _), _) =>
      fn match {
        // count(*) / count(1); count(NULL) is NOT a row count — it
        // counts non-null evaluations, i.e. zero
        case Count(Seq(Literal(v, _))) if v != null => totalRows(tables)
        case Count(Seq(Literal(null, _))) => Some(0L)
        case Count(Seq(a: AttributeReference)) =>
          for (r <- totalRows(tables); n <- totalNulls(tables, a.name))
            yield r - n
        case Min(a: AttributeReference) => fold(tables, a, isMin = true)
        case Max(a: AttributeReference) => fold(tables, a, isMin = false)
        case _ => None
      }
    // a constant output column (a tag like lit("v0").as("snap"))
    // rides along — it needs no data either
    case Alias(l: Literal, _) => Some(l.value)
    case _ => None
  }

  private def totalRows(
      tables: Seq[(String, Int, Seq[String])]): Option[Long] = {
    val per = tables.map { case (path, v, files) =>
      val rows = Snapshots.fileRows(path, v)
      if (files.forall(rows.contains)) Some(files.map(rows).sum) else None
    }
    if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
  }

  private def totalNulls(tables: Seq[(String, Int, Seq[String])],
      col: String): Option[Long] = {
    val per = tables.map { case (path, v, files) =>
      val nulls = Snapshots.fileNulls(path, v)
      val rows = Snapshots.fileRows(path, v)
      // an empty file records no null lines — it contributes 0 nulls
      val perFile = files.map(f => nulls.getOrElse(f, Map.empty).get(col)
        .orElse(rows.get(f).filter(_ == 0L)))
      if (perFile.forall(_.isDefined)) Some(perFile.flatten.sum) else None
    }
    if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
  }

  /** Manifest-range min/max of `a` across every surviving file of
    * every slice, typed back under the column's own type. A file
    * without a recorded range is sound to SKIP only when the null
    * counts prove it all-null in the column; otherwise bail. All-null
    * (or empty) → null, matching the aggregate's semantics. */
  private def fold(tables: Seq[(String, Int, Seq[String])],
      a: AttributeReference, isMin: Boolean): Option[Any] = {
    if (!supported(a.dataType)) return None
    val isString = a.dataType == StringType
    var acc: Option[BigDecimal] = None
    var accS: Option[Array[Byte]] = None
    def cmpB(x: Array[Byte], y: Array[Byte]): Int = {
      val n = math.min(x.length, y.length); var i = 0
      while (i < n) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return Integer.signum(d)
        i += 1
      }
      Integer.signum(x.length - y.length)
    }
    tables.foreach { case (path, v, files) =>
      val stats = Snapshots.fileStats(path, v)
      val nulls = Snapshots.fileNulls(path, v)
      val rows = Snapshots.fileRows(path, v)
      files.foreach { f =>
        stats.getOrElse(f, Map.empty).get(a.name) match {
          case Some((tag, lo, hi)) =>
            // r12: the ANSWERED value must be the true bound — a
            // truncated string stat is only a widened enclosure, so a
            // non-exact bound bails the whole rewrite to the scan
            if (isString) {
              if (tag != "S") return None
              Snapshots.decodeStringStat(if (isMin) lo else hi) match {
                case Some((bytes, exact)) if exact =>
                  accS = Some(accS.fold(bytes)(y =>
                    if (if (isMin) cmpB(bytes, y) < 0 else cmpB(bytes, y) > 0)
                      bytes else y))
                case _ => return None
              }
            } else {
              if (tag == "S") return None
              val x = try BigDecimal(if (isMin) lo else hi)
                      catch { case _: NumberFormatException => return None }
              acc = Some(acc.fold(x)(y =>
                if (isMin) y.min(x) else y.max(x)))
            }
          case None =>
            // sound to skip only if provably valueless in the column:
            // an empty file, or one the null counts show all-null
            val skippable = rows.get(f).contains(0L) || (for {
              n <- nulls.getOrElse(f, Map.empty).get(a.name)
              r <- rows.get(f)
            } yield n == r).getOrElse(false)
            if (!skippable) return None
        }
      }
    }
    if (isString)
      Some(accS.map(b => org.apache.spark.unsafe.types.UTF8String
        .fromBytes(b)).orNull)
    else Some(acc.map(typed(_, a.dataType)).orNull)
  }

  private def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType |
         TimestampType | TimestampNTZType | DateType | StringType => true
    case _: DecimalType => true
    case _ => false
  }

  private def typed(x: BigDecimal, dt: DataType): Any = dt match {
    case ByteType => x.toByte
    case ShortType => x.toShort
    case IntegerType => x.toInt
    case LongType => x.toLong
    case FloatType => x.toFloat
    case DoubleType => x.toDouble
    // internal forms: timestamps are micros (instant for TZ,
    // wall-clock for NTZ — each matching what its tag recorded),
    // dates are days
    case TimestampType | TimestampNTZType => x.toLong
    case DateType => x.toInt
    case d: DecimalType =>
      Decimal(x.setScale(d.scale, scala.math.BigDecimal.RoundingMode.HALF_UP)
        .underlying, d.precision, d.scale)
  }
}
