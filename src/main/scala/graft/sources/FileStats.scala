package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
  GetStructField, XxHash64Function}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker,
  WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One stats-bearing column of a staged file: its dotted path, an
  * accessor bound to the written row, its type and its range tag (None:
  * null count and NDV only). */
private[sources] final case class StatCol(name: String, acc: Expression,
    dataType: DataType, tag: Option[String])

/** What a staging write records per file: the stats columns, whether
  * they carry NDV registers, and the ordinal of a string column whose
  * values are counted (a DV write's marked files and their dead rows). */
private[sources] final case class StatSpec(cols: IndexedSeq[StatCol],
    hll: Boolean, marksOf: Option[Int])

private[sources] object StatSpec {

  /** Row counts only. */
  val RowsOnly: StatSpec = StatSpec(Vector.empty, hll = false, None)

  /** Row counts plus the row count per value of string column `c`. */
  def marking(schema: StructType, c: String): StatSpec =
    RowsOnly.copy(marksOf = Some(schema.fieldIndex(c)))

  /** The manifest stats of a data file written under `schema`: every
    * column [[FileStats.leaves]] yields, NDV registers unless
    * `spark.graft.stats.ndvSketch.enabled` is off. */
  def data(spark: SparkSession, schema: StructType): StatSpec = {
    val cols = FileStats.leaves(spark, schema).map { case (name, path, dt) =>
      val top = path.head._2
      val acc = path.tail.foldLeft[Expression](
          BoundReference(top, schema(top).dataType, nullable = true)) {
        case (e, (n, i)) => GetStructField(e, i, Some(n)) }
      StatCol(name, acc, dt, FileStats.typeTag(dt))
    }
    StatSpec(cols, FileStats.ndvOn(spark), None)
  }
}

/** What one write task saw of one file it wrote: its rows and, per
  * [[StatSpec]] column, the rendered (min, max) (null when the column
  * holds no value), the null count and the NDV registers (null when
  * the spec has none); `marks` are the tracked column's values with
  * their row counts. */
private[sources] final case class WrittenFile(name: String, rows: Long,
    ranges: Array[(String, String)], nulls: Array[Long],
    hll: Array[Array[Byte]], marks: Map[String, Long])

private final case class TaskFiles(files: Seq[WrittenFile]) extends WriteTaskStats

/** The per-file statistics of a staging write, collected inside the
  * write tasks as each row goes to its file — the Delta pattern of
  * per-file stats taken while the file is written — so a commit never
  * re-reads what it just wrote. Same semantics as
  * [[Snapshots.statsLines]]: floats range as doubles, ties keep the
  * first value seen (the min/max aggregates' rule), a struct leaf is
  * null where its parent is, and the NDV registers hash each non-null
  * value with `xxhash64`. Results land on the driver in
  * [[written]], keyed by file name. */
private[sources] final class FileStatsTracker(spec: StatSpec)
    extends WriteJobStatsTracker {

  @volatile @transient private var seen: Map[String, WrittenFile] = Map.empty

  /** file name → its stats, once the write job has committed. */
  def written: Map[String, WrittenFile] = seen

  override def newTaskInstance(): WriteTaskStatsTracker = new FileStatsTask(spec)

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    seen = stats.flatMap { case TaskFiles(fs) => fs; case _ => Nil }
      .map(f => f.name -> f).toMap
}

private final class FileStatsTask(spec: StatSpec) extends WriteTaskStatsTracker {
  private val open = scala.collection.mutable.HashMap.empty[String, FileAcc]
  private val done = scala.collection.mutable.ArrayBuffer.empty[WrittenFile]
  private var lastPath: String = _
  private var last: FileAcc = _

  override def newPartition(partitionValues: InternalRow): Unit = ()

  override def newFile(filePath: String): Unit = open(filePath) = new FileAcc(spec)

  override def closeFile(filePath: String): Unit = {
    open.remove(filePath).foreach(a => done += a.result(filePath))
    if (filePath == lastPath) { lastPath = null; last = null }
  }

  override def newRow(filePath: String, row: InternalRow): Unit = {
    if (!(filePath eq lastPath)) { lastPath = filePath; last = open(filePath) }
    last.add(row)
  }

  override def getFinalStats(taskCommitTime: Long): WriteTaskStats = {
    open.keys.toSeq.foreach(closeFile)
    TaskFiles(done.toSeq)
  }
}

/** One file's running stats. */
private final class FileAcc(spec: StatSpec) {
  private val cols = spec.cols
  private val n = cols.length
  private val isFloat = cols.map(_.dataType == FloatType).toArray
  private val ordering = cols.map(c =>
    if (c.tag.isEmpty) null
    else TypeUtils.getInterpretedOrdering(
      if (c.dataType == FloatType) DoubleType else c.dataType)).toArray
  private var rows = 0L
  private val mins = new Array[Any](n)
  private val maxs = new Array[Any](n)
  private val nonNull = new Array[Long](n)
  private val regs = if (spec.hll) Array.fill(n)(new Array[Byte](graft.functions.Hll.M)) else null
  private val marks = scala.collection.mutable.HashMap.empty[String, Long]

  def add(row: InternalRow): Unit = {
    rows += 1
    var i = 0
    while (i < n) {
      val v = cols(i).acc.eval(row)
      if (v != null) {
        nonNull(i) += 1
        val o = ordering(i)
        if (o != null) {
          val x = if (isFloat(i)) v.asInstanceOf[Float].toDouble else v
          if (mins(i) == null || o.lt(x, mins(i))) mins(i) = InternalRow.copyValue(x)
          if (maxs(i) == null || o.gt(x, maxs(i))) maxs(i) = InternalRow.copyValue(x)
        }
        if (regs != null) graft.functions.Hll.updateRegs(regs(i),
          XxHash64Function.hash(v, cols(i).dataType, 42L))
      }
      i += 1
    }
    spec.marksOf.foreach { m =>
      if (!row.isNullAt(m)) {
        val k = row.getUTF8String(m).toString
        marks(k) = marks.getOrElse(k, 0L) + 1L
      }
    }
  }

  def result(path: String): WrittenFile = {
    def external(v: Any): Any = v match {
      case d: Decimal => d.toJavaBigDecimal
      case s: UTF8String => s.toString
      case other => other
    }
    val ranges = Array.tabulate(n) { i =>
      if (mins(i) == null) null
      else {
        val t = cols(i).tag.get
        (Snapshots.renderStat(t, external(mins(i)), isMax = false),
          Snapshots.renderStat(t, external(maxs(i)), isMax = true))
      }
    }
    WrittenFile(path.substring(path.lastIndexOf('/') + 1), rows, ranges,
      nonNull.map(rows - _), regs, marks.toMap)
  }
}

private[sources] object FileStats {

  /** The range tag of a column type: "L" integral, "D" floating, "T"
    * timestamp micros (TZ and NTZ), "A" date days, "C" decimal, "S"
    * string; None for a type without a range stat. */
  def typeTag(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some("L")
    case FloatType | DoubleType                        => Some("D")
    // r12: the types a real lake predicate actually filters on —
    // timestamps (micros), dates (days), decimals (plain string,
    // exact), strings (truncated prefixes, the Delta convention).
    // Widening (A59) never crosses tags, so per-file tags stay
    // uniform per column across mixed-era files. NTZ timestamps
    // (what pandas/arrow-written parquet reads back as) share the
    // 'T' micros tag — both internal forms are micros longs, and a
    // predicate literal always carries the column's own flavor.
    case TimestampType | TimestampNTZType              => Some("T")
    case DateType                                      => Some("A")
    case _: DecimalType                                => Some("C")
    case StringType                                    => Some("S")
    case _                                             => None
  }

  /** Every stats-bearing column of `schema` as (dotted path, (field
    * name, ordinal) path, type): top-level atomics plus — unless
    * `spark.graft.stats.nestedLeaves.enabled` is off — struct leaves;
    * arrays and maps carry no stats. */
  def leaves(spark: SparkSession, schema: StructType)
      : IndexedSeq[(String, Seq[(String, Int)], DataType)] = {
    val nestedOn = spark.conf
      .get("spark.graft.stats.nestedLeaves.enabled", "true") == "true"
    def walk(prefix: String, path: Seq[(String, Int)], dt: DataType)
        : IndexedSeq[(String, Seq[(String, Int)], DataType)] = dt match {
      case st: StructType => st.fields.toIndexedSeq.zipWithIndex.flatMap {
        case (f, i) => walk(s"$prefix.${f.name}", path :+ (f.name -> i), f.dataType) }
      case _: ArrayType | _: MapType => Vector.empty
      case other => Vector((prefix, path, other))
    }
    schema.fields.toIndexedSeq.zipWithIndex.flatMap { case (f, i) =>
      f.dataType match {
        case _: StructType if !nestedOn => Vector.empty
        case dt => walk(f.name, Seq(f.name -> i), dt)
      }
    }
  }

  /** Whether commits record per-file NDV registers (a pure-append
    * firehose table that is never CBO-joined can shed the sketch cost;
    * everything then degrades to the ANALYZE path as for legacy
    * manifests). */
  def ndvOn(spark: SparkSession): Boolean =
    spark.conf.get("spark.graft.stats.ndvSketch.enabled", "true") == "true"
}
