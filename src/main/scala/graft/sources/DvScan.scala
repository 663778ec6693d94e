package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** r13 (the r12 verdict's item 3) — VECTORIZED reads of DV-carrying and
  * column-mapped versions (Delta's DV scan shape). The connector's
  * [[GraftCompatRelation]] is row-based by design: a V1
  * `PrunedFilteredScan` can only hand Spark an `RDD[Row]`, so every
  * read between a merge-on-read commit and its reconcile paid the
  * row-transition boundary — and with the r12 `morWrites` streaming
  * sink, DV state is the STEADY state of an ingest table, not a corner.
  *
  * This resolution rule (graft extensions sessions) replaces the
  * compat leaf with a NATIVE plan equivalent to Snapshots' own read
  * path, built from stock operators so Catalyst/Tungsten treat it like
  * any parquet query:
  *
  *   Project(logical names restored, original exprIds preserved)
  *     └─ [LeftAnti join on (_metadata.file_path, _metadata.row_index)
  *         against the DV parquet — only when the version carries DVs]
  *         └─ HadoopFsRelation(GraftFileIndex, ParquetFileFormat)
  *              — physical schema, ColumnarBatch vectorized scan
  *
  * Because the substitution happens at RESOLUTION time, the whole
  * optimizer runs over it afterwards: predicates on data columns push
  * through the rename projection and the anti join's left side into
  * the parquet scan (`PushedFilters`), the A27 manifest stats prune
  * files inside [[GraftFileIndex]], column pruning reaches the scan
  * schema, and the scan itself is whole-stage-codegen'd ColumnarBatch
  * — none of which the row-based compat scan could surface. The DV
  * side is a small parquet relation; Spark's size-based planning
  * broadcasts it in the common case and is free to shuffle a massive
  * accumulated DV (same trade as Snapshots.applyDv).
  *
  * Sessions WITHOUT the extensions keep the row-based compat scan —
  * same results, slower boundary — so the rule is a pure acceleration,
  * never a correctness dependency. Pinned by DvScanSpec (plan shape +
  * content) and exercised end-to-end by q_lake_compat through the
  * extensions session.
  */
class GraftDvScanRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    // r14 (the r13 verdict's item 4): the PARTITIONED and HIDDEN
    // compat relations substitute ONE vectorized scan spanning every
    // directory — the multi-dir stats-pruning FileIndex the plain read
    // path already uses, now version-PINNED to the compat relation's
    // resolved heads (so "pure acceleration, never a dependency" holds
    // exactly even when a commit lands mid-resolution). Directory
    // pruning happens INSIDE listFiles (partition filters for A26, the
    // transform mapping for A49), so a 10k-dir table plans one scan
    // node instead of 10k analyzed union branches; the DV anti join
    // runs once against the union of every dir's sidecars (DV keys are
    // file-scoped — cross-dir matches are impossible). Per-dir COLUMN
    // MAPPINGS that disagree cannot share one physical schema: that
    // case falls back to the r13 per-dir union (correctness first).
    case lr: LogicalRelation
        if lr.relation.isInstanceOf[GraftPartitionedCompatRelation] =>
      val rel = lr.relation.asInstanceOf[GraftPartitionedCompatRelation]
      val dirsV = rel.partitionDirs.map { case (_, d) =>
        (d, rel.dirVersions(d)) }
      if (mappingsAgree(dirsV)) {
        val partSchema = new StructType().add(rel.partitionCol,
          org.apache.spark.sql.types.StringType)
        val index = new GraftPartitionedFileIndex(spark, rel.tablePath,
          rel.partitionCol, rel.partitionDirs, rel.dirVersions)
        rebind(lr, nativeMulti(index, partSchema,
          dataFieldsOf(lr.schema, dirsV.head, Some(rel.partitionCol)),
          dvsOf(dirsV), lr.schema.fieldNames.toIndexedSeq))
      } else rebind(lr, nativeUnion(
        rel.partitionDirs.map { case (value, d) =>
          (d, rel.dirVersions(d), Some(rel.partitionCol -> value)) },
        lr.schema))
    case lr: LogicalRelation
        if lr.relation.isInstanceOf[GraftHiddenCompatRelation] =>
      val rel = lr.relation.asInstanceOf[GraftHiddenCompatRelation]
      val dirsV = rel.partitionGroups.flatMap(_._3).map { case (_, d) =>
        (d, rel.dirVersions(d)) }
      if (mappingsAgree(dirsV)) {
        val index = new graft.sources.GraftHiddenPartitionedIndex(spark,
          rel.tablePath,
          rel.partitionGroups.map { case (_, t, ds) => (t, ds) },
          rel.dirVersions)
        rebind(lr, nativeMulti(index, new StructType(),
          dataFieldsOf(lr.schema, dirsV.head, None),
          dvsOf(dirsV), lr.schema.fieldNames.toIndexedSeq))
      } else rebind(lr, nativeUnion(
        rel.partitionGroups.flatMap(_._3).map { case (_, d) =>
          (d, rel.dirVersions(d), None) },
        lr.schema))
    case lr: LogicalRelation if lr.relation.isInstanceOf[GraftCompatRelation] =>
      val compat = lr.relation.asInstanceOf[GraftCompatRelation]
      val out = native(compat.tablePath, compat.tableVersion)
      val analyzed = out.queryExecution.analyzed
      // the A46/A33 CBO flip, DV-adjusted (the row-based compat leaf
      // could never carry CatalogStatistics): a catalog-named table's
      // stats land on the substituted scan, rowCount corrected for
      // dead positions
      val newPlan = lr.catalogTable match {
        case Some(ct) =>
          // user-computed ANALYZE stats (ct.stats set) survive the
          // substitution verbatim; only a stats-less catalog table gets
          // the DV-adjusted manifest estimate
          val stats = ct.stats.orElse(GraftStats.dvAdjustedStats(spark,
            compat.tablePath, compat.tableVersion))
          stats match {
            case Some(cs) => analyzed.transform {
              case l: LogicalRelation
                  if l.relation.isInstanceOf[HadoopFsRelation] &&
                    l.relation.asInstanceOf[HadoopFsRelation]
                      .location.isInstanceOf[GraftFileIndex] =>
                l.copy(catalogTable = Some(ct.copy(stats = Some(cs))))
            }
            case None => analyzed
          }
        case None => analyzed
      }
      // hand the substituted subtree back under the ORIGINAL output
      // attribute ids, so everything referencing the old relation's
      // columns still resolves
      Project(lr.output.zip(newPlan.output).map { case (o, n) =>
        Alias(n, o.name)(exprId = o.exprId, qualifier = o.qualifier)
      }, newPlan)
  }

  /** True iff ONE physical schema (the head dir's) can soundly read
    * every directory's files: each dir must carry a STORED schema
    * IDENTICAL to the head's in (logical name, physical name,
    * dataType). r15 (advice fix): the previous gate compared
    * logical→physical NAME assignments only — a dir whose log evolved
    * independently (a per-dir WIDEN, or a legacy schema-less dir mixed
    * with mapped ones) passed, and the single spanning scan then read
    * it under the head dir's physical schema, misreading or silently
    * null-filling. A mismatch now falls back to the per-dir union
    * read, which normalizes each dir under its own schema. */
  private def mappingsAgree(dirs: Seq[(String, Int)]): Boolean = {
    val sigs = dirs.map { case (d, v) =>
      Snapshots.tableSchema(d, v).map(_.fields.toIndexedSeq.map(f =>
        (f.name, Snapshots.physicalName(f), f.dataType)))
    }
    sigs.headOption match {
      case None => true // zero dirs: one (empty) schema vacuously
      case Some(h) => h.isDefined && sigs.forall(_ == h)
    }
  }

  /** The DATA fields to scan (partition column stripped), carrying the
    * head dir's stored mapping metadata so physical names resolve. */
  private def dataFieldsOf(schema: StructType, d0: (String, Int),
      partCol: Option[String])
      : Seq[org.apache.spark.sql.types.StructField] = {
    val data = schema.fields.filterNot(f => partCol.contains(f.name))
    val stored = Snapshots.tableSchema(d0._1, d0._2)
      .map(s => s.fields.map(f => f.name -> f).toMap)
      .getOrElse(Map.empty)
    data.toIndexedSeq.map(f => stored.getOrElse(f.name, f))
  }

  /** Every dir's DV sidecars at its pinned version. */
  private def dvsOf(dirs: Seq[(String, Int)]): Seq[String] =
    dirs.flatMap { case (d, v) => Snapshots.dvFiles(d, v) }

  /** One vectorized scan spanning every directory: multi-dir
    * stats-pruning index, logical names restored, one global DV anti
    * join, columns ordered to the relation's schema. */
  private def nativeMulti(
      index: org.apache.spark.sql.execution.datasources.FileIndex,
      partSchema: StructType,
      dataFields: Seq[org.apache.spark.sql.types.StructField],
      dvs: Seq[String], outCols: Seq[String]): LogicalPlan = {
    val physical = StructType(dataFields.map(f =>
      f.copy(name = Snapshots.physicalName(f))).toArray)
    val hfs = HadoopFsRelation(
      location = index,
      partitionSchema = partSchema,
      dataSchema = physical,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat(),
      options = Map.empty)(spark)
    val base = spark.baseRelationToDataFrame(hfs)
    val logical = dataFields.toIndexedSeq.map(f =>
      col(s"`${Snapshots.physicalName(f)}`").as(f.name, f.metadata)) ++
      partSchema.fieldNames.toIndexedSeq.map(c => col(s"`$c`"))
    val body =
      if (dvs.isEmpty) base.select(logical: _*)
      else {
        val withPos = base.select(logical :+
          col("_metadata.file_path").as("__file") :+
          col("_metadata.row_index").as("__pos"): _*)
        val dv = Snapshots.readDv(spark, dvs)
        withPos.join(dv,
            withPos("__file") === dv("__dv_file") &&
              withPos("__pos") === dv("__dv_pos"),
            "left_anti")
      }
    body.select(outCols.toIndexedSeq.map(c => col(s"`$c`")): _*)
      .queryExecution.analyzed
  }

  /** Union of per-directory native reads, each optionally tagged with
    * its constant partition value, normalized to `schema`'s columns
    * (per-dir logs may have evolved independently — missing columns
    * null-fill, exactly like the compat scan). The FALLBACK for
    * disagreeing per-dir column mappings; versions are the relation's
    * pinned heads. */
  private def nativeUnion(dirs: Seq[(String, Int, Option[(String, String)])],
      schema: StructType): LogicalPlan = {
    val frames = dirs.map { case (d, v, tag) =>
      val base = tag.foldLeft(native(d, v)) { case (df, (c, value)) =>
        df.withColumn(c, lit(value))
      }
      base.select(schema.fieldNames.toIndexedSeq.map(c =>
        (if (base.columns.contains(c)) col(s"`$c`")
         else lit(null).cast(schema(c).dataType)).as(c)): _*)
    }
    frames.reduce(_.unionByName(_)).queryExecution.analyzed
  }

  private def rebind(lr: LogicalRelation, newPlan: LogicalPlan)
      : LogicalPlan =
    Project(lr.output.zip(newPlan.output).map { case (o, n) =>
      Alias(n, o.name)(exprId = o.exprId, qualifier = o.qualifier)
    }, newPlan)

  /** The vectorized equivalent of `Snapshots.read(path, v)`: physical
    * parquet scan over the version's live files (stats-pruning file
    * index), DV anti join when the version carries DVs, logical-name
    * projection when it carries a column mapping. */
  private def native(path: String, v: Int): DataFrame = {
    val schemaNow: StructType = Snapshots.tableSchema(path, v).getOrElse(
      spark.read.parquet(Snapshots.liveFiles(path, v): _*).schema)
    val physical = StructType(schemaNow.fields.map(f =>
      f.copy(name = Snapshots.physicalName(f))))
    val hfs = HadoopFsRelation(
      location = new GraftFileIndex(spark, path, v),
      partitionSchema = new StructType(),
      dataSchema = physical,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat(),
      options = Map.empty)(spark)
    val base = spark.baseRelationToDataFrame(hfs)
    val logical = schemaNow.fields.toIndexedSeq.map(f =>
      col(s"`${Snapshots.physicalName(f)}`").as(f.name, f.metadata))
    val dvs = Snapshots.dvFiles(path, v)
    if (dvs.isEmpty) base.select(logical: _*)
    else {
      val withPos = base.select(logical :+
        col("_metadata.file_path").as("__file") :+
        col("_metadata.row_index").as("__pos"): _*)
      val dv = Snapshots.readDv(spark, dvs)
      withPos.join(dv,
          withPos("__file") === dv("__dv_file") &&
            withPos("__pos") === dv("__dv_pos"),
          "left_anti")
        .select(schemaNow.fieldNames.toIndexedSeq.map(c => col(s"`$c`")): _*)
    }
  }
}
