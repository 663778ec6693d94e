package graft.sources

import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** A18 — snapshot versioning with time travel (the Delta/Iceberg log
  * pattern over a plain parquet directory): the MANIFEST, not the
  * directory listing, is the source of truth for what a version
  * contains. Writes never delete data files — a versioned merge adds
  * new files and a new manifest whose live set is (previous live −
  * rewritten) + staged — so every prior version stays readable until
  * `vacuum` reclaims files no retained version references.
  *
  * Scale design: a manifest is one line per live FILE (not per row),
  * so log size tracks file count; reads plan from the manifest's
  * explicit file list, which also skips the directory-listing scan a
  * 100 TB table pays on an object store. Commit is a single manifest
  * write — the atom a real table format wraps in a CAS/txn; the data
  * movement is identical, and the merge itself reuses the A15/A16
  * index-pruned copy-on-write path (only key-range-intersecting files
  * rewritten, update keys broadcast).
  */
object Snapshots {

  private def logDir(path: String) = Paths.get(path, "_graft_log")

  /** Canonical absolute decoded form for file identity: the scan
    * reports `file:///…` URIs (%-encoded — spaces become %20), while
    * manifests may hold plain, possibly relative, paths. Comparing raw
    * strings would fail to retire superseded files and silently keep
    * both old and new rows — so every comparison and every stored
    * manifest line goes through this.
    */
  private[graft] def canonical(f: String): String = {
    val p =
      if (f.startsWith("file:")) Paths.get(java.net.URI.create(f))
      else Paths.get(f)
    p.toAbsolutePath.normalize.toString
  }

  private def manifestPath(path: String, v: Int) =
    logDir(path).resolve(f"v$v%06d.manifest")

  // DELTA-ENCODED COMMITS (the Delta-log/checkpoint trade, inverted to
  // fit a snapshot-manifest log): a full-snapshot manifest costs
  // O(live files) bytes PER COMMIT — at 100 TB (~1M files) a streaming
  // upsert landing a commit a minute would write a ~100 MB manifest
  // for a 3-file change. So a commit whose diff against its parent is
  // smaller than its snapshot is stored as ops against version v-1
  // (`#delta-base=v-1`, then `-line` / `+line` over the RESOLVED
  // parent lines — file lines and `#` metadata lines alike, so stat /
  // DV / sidecar / ts carry-forward costs diff, not table), and every
  // CheckpointEvery-th version is forced FULL, bounding any resolution
  // chain to < CheckpointEvery manifest reads. Readers see resolved
  // lines through [[manifestLines]] — the single choke point every
  // parser below goes through — so the encoding is invisible above
  // this file. Line order: a resolved delta preserves base order and
  // appends additions; every parser is prefix-keyed and every
  // order-sensitive consumer (streaming snapshot chunking) sorts, so
  // order is presentation only. Vacuum MATERIALIZES any retained
  // delta whose base it is about to drop (see [[vacuum]]) — the
  // invariant is that every retained version resolves from retained
  // manifests alone.
  private[graft] val CheckpointEvery = 10
  private val DeltaBaseHeader = "#delta-base="

  // Resolution cache: keyed by (manifest file identity, size, mtime)
  // so it can never serve a STALE table — a manifest is immutable
  // once CAS-committed (vacuum's materialization rewrites it
  // content-EQUIVALENTLY, so even a pre-materialization hit resolves
  // identically), and a table recreated at the same path writes a new
  // file with a new size/mtime key. Without this, every liveFiles /
  // fileStats / tableSchema call re-walks the delta chain (≤10 file
  // reads) — measured ~1.2-1.3× on the commit-heavy staging queries.
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Seq[String]]()

  /** Resolved manifest lines of version `v`: raw content for a full
    * manifest, base-applied ops for a delta one. Chain depth is
    * < CheckpointEvery by construction. */
  private[graft] def manifestLines(path: String, v: Int): Seq[String] = {
    val p = manifestPath(path, v)
    val attrs = Files.readAttributes(p,
      classOf[java.nio.file.attribute.BasicFileAttributes])
    val key = (p.toAbsolutePath.toString, attrs.size,
      attrs.lastModifiedTime.to(java.util.concurrent.TimeUnit.NANOSECONDS))
    val hit = manifestCache.get(key)
    if (hit != null) return hit
    val resolved = resolveManifest(path, v)
    if (manifestCache.size > 512) manifestCache.clear()
    manifestCache.put(key, resolved)
    resolved
  }

  private def resolveManifest(path: String, v: Int): Seq[String] = {
    val raw = Files.readAllLines(manifestPath(path, v)).asScala.toSeq
    raw.headOption match {
      case Some(h) if h.startsWith(DeltaBaseHeader) =>
        val base = h.stripPrefix(DeltaBaseHeader).trim.toInt
        require(base >= 0 && base < v && Files.exists(manifestPath(path, base)),
          s"graft: delta manifest v$v of $path references missing base v$base " +
            "(vacuum materialization invariant violated)")
        val removed = raw.iterator.filter(_.startsWith("-")).map(_.substring(1)).toSet
        val added = raw.filter(_.startsWith("+")).map(_.substring(1))
        manifestLines(path, base).filterNot(removed) ++ added
      case _ => raw
    }
  }

  /** Is `v`'s manifest stored delta-encoded? First line only — vacuum
    * calls this for every retained version, and a full checkpoint
    * manifest at the 1M-file design point is ~100 MB it must not read
    * just to learn the answer is no. */
  private[graft] def isDeltaManifest(path: String, v: Int): Boolean =
    hasVersion(path, v) && {
      val r = Files.newBufferedReader(manifestPath(path, v))
      try Option(r.readLine()).exists(_.startsWith(DeltaBaseHeader))
      finally r.close()
    }

  /** Parquet files sitting in the table directory that NO retained
    * manifest references and that graft did not stage (graft-managed
    * files — staged data, CDF, DV, bloom sidecars — all carry the
    * `vN_` prefix; un-prefixed registered files are v0 snapshot
    * bootstraps). A nonempty answer means something wrote raw files
    * into a versioned table behind the log's back — rows that reads
    * will never see and vacuum will reclaim. Consumed by the
    * connector's refresh() guard.
    */
  private[graft] def strayFiles(path: String): Seq[String] = {
    if (currentVersion(path) < 0) return Seq.empty // log gone/absent: not ours to judge
    // candidates FIRST: when every file carries the graft `vN_` prefix
    // (any table past its bootstrap rewrites), refresh() costs one
    // directory listing and never opens a manifest
    val candidates = listDir(Paths.get(path))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .filterNot(_.getFileName.toString.startsWith("v"))
      .map(p => canonical(p.toString))
    if (candidates.isEmpty) return Seq.empty
    val registered = (earliestVersion(path) to currentVersion(path))
      .flatMap(v => liveFiles(path, v)).map(canonical).toSet
    candidates.filterNot(registered.contains)
  }

  /** Directory listing, strict and with the stream closed — Files.list
    * holds an open file descriptor until closed; a long-lived driver
    * doing log maintenance in a loop must not leak one per call. */
  private[graft] def listDir(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = Files.list(dir)
    try s.iterator.asScala.toList finally s.close()
  }

  /** True when `df` is deterministic over ALREADY-PINNED data — every
    * leaf a materialized checkpoint (LogicalRDD) or a local relation,
    * every expression deterministic. Such a frame re-evaluates
    * bit-identically per action, so the merge paths' consistency
    * checkpoint (one evaluation feeding data + DV + change artifacts)
    * is already satisfied and the re-checkpoint job can be skipped —
    * the streaming sink's per-partition slices hit this on every
    * micro-batch commit. */
  private def isPinned(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan}
    import org.apache.spark.sql.execution.LogicalRDD
    def det(p: LogicalPlan): Boolean = p match {
      case _: LogicalRDD => true
      case _: LocalRelation => true
      case _: LeafNode => false // a storage scan can change between actions
      case other =>
        // r16 (r15 advice): a subquery expression hides a whole plan —
        // possibly a mutable storage scan — behind deterministic=true;
        // treat any PlanExpression as not pinned
        other.expressions.forall(e => e.deterministic && !e.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]])) &&
          other.children.forall(det)
    }
    det(df.queryExecution.analyzed)
  }

  /** r16 — deterministic over an IMMUTABLE SNAPSHOT and cheap to
    * re-evaluate: every leaf is materialized data, a local relation,
    * or a file scan whose file LISTING was resolved when the plan was
    * built (parquet data files are immutable and `InMemoryFileIndex` /
    * the graft indexes never re-list, so the scanned byte set cannot
    * change between actions), every expression deterministic with no
    * subquery, and only per-row operators above the leaves (project /
    * filter / union) — re-evaluating such a plan costs one cheap
    * pass, which each consuming action pays INSIDE its own job anyway.
    * For these sources the r15 unconditional `localCheckpoint` bought
    * no consistency (same multiset per evaluation, loudly or not at
    * all on executor loss either way) and cost a whole extra
    * materialization job per commit — the r15 driver bench's
    * merge-verb regression. Joins/aggregates/windows/shuffles and
    * anything non-whitelisted still pin. */
  private def isStableSnapshot(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def detExprs(p: LogicalPlan): Boolean =
      p.expressions.forall(e => e.deterministic && !e.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]))
    def ok(p: LogicalPlan): Boolean = p match {
      case _: LogicalRDD => true
      case _: LocalRelation => true
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => h.location match {
          case _: org.apache.spark.sql.execution.datasources.InMemoryFileIndex => true
          case _: GraftFileIndex => true // pinned to one immutable version
          // the partitioned graft indexes resolve each dir's CURRENT
          // version — a concurrent commit between actions could move
          // them; not stable
          case _ => false // an unknown index may re-list per action
        }
        case _ => false
      }
      case _: Project | _: Filter | _: Union | _: SubqueryAlias =>
        detExprs(p) && p.children.forall(ok)
      case _ => false
    }
    ok(df.queryExecution.analyzed)
  }

  /** Latest committed version, or -1 for an uninitialized dir. */
  def currentVersion(path: String): Int = {
    val dir = logDir(path)
    if (!Files.isDirectory(dir)) return -1
    val vs = listDir(dir)
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".manifest") =>
        s.stripPrefix("v").stripSuffix(".manifest").toInt }
    if (vs.isEmpty) -1 else vs.max
  }

  // A19-on-write: a manifest may carry the version's table schema as a
  // header line; data lines are the live files. Old manifests without a
  // header stay readable (plain parquet inference).
  private val SchemaHeader = "#schema="

  // A38 — commit timestamps: every manifest records its wall-clock
  // commit time, enabling TIMESTAMP AS OF time travel (Delta's
  // timestampAsOf): the version to read for time t is the LATEST
  // commit at or before t. The recorded instant — not file mtime,
  // which backup/restore tooling rewrites — is the contract.
  private val TsHeader = "#ts="

  /** Wall-clock commit time of version `v` (epoch millis), or None for
    * pre-timestamp manifests (falls back to the manifest file's mtime,
    * which is the best available evidence for legacy commits). */
  def commitTime(path: String, v: Int): Option[Long] = {
    if (!hasVersion(path, v)) return None
    manifestLines(path, v)
      .find(_.startsWith(TsHeader)).map(_.stripPrefix(TsHeader).trim.toLong)
      .orElse(Some(Files.getLastModifiedTime(manifestPath(path, v)).toMillis))
  }

  /** The version in force AT `tsMillis`: the latest retained commit at
    * or before it. Refuses a time before the earliest retained commit
    * (nothing existed — or vacuum dropped it — there). */
  def versionAsOfTime(path: String, tsMillis: Long): Int = {
    val vs = (earliestVersion(path) to currentVersion(path))
      .flatMap(v => commitTime(path, v).map(v -> _))
    val atOrBefore = vs.filter(_._2 <= tsMillis)
    require(atOrBefore.nonEmpty,
      s"no version of $path existed at $tsMillis (earliest retained commit: " +
        s"${vs.headOption.map(_._2).getOrElse(-1L)})")
    atOrBefore.maxBy(v => (v._2, v._1))._1
  }

  /** TIMESTAMP AS OF read: the table as it stood at `tsMillis`. */
  def readAsOfTime(spark: SparkSession, path: String, tsMillis: Long): DataFrame =
    read(spark, path, versionAsOfTime(path, tsMillis))

  private[graft] def liveFiles(path: String, v: Int): Seq[String] =
    manifestLines(path, v)
      .filter(l => l.nonEmpty && !l.startsWith("#"))

  /** The table schema RECORDED at version `v` (None for pre-header
    * manifests). This is what makes schema evolution on write work:
    * after a widening commit, live files have MIXED physical schemas;
    * reading them under the recorded schema null-fills the columns an
    * old file predates, and time travel to a pre-widening version
    * reads under THAT version's narrower schema — the column simply
    * does not exist there yet. */
  private[graft] def tableSchema(path: String, v: Int): Option[org.apache.spark.sql.types.StructType] =
    manifestLines(path, v)
      .find(_.startsWith(SchemaHeader))
      .map(l => org.apache.spark.sql.types.DataType.fromJson(
        l.stripPrefix(SchemaHeader)).asInstanceOf[org.apache.spark.sql.types.StructType])

  // A24 — column mapping (the Delta column-mapping pattern): a field's
  // metadata may carry the PHYSICAL name it is stored under in the data
  // files. RENAME is then a metadata-only commit — same files, new
  // logical name mapped to the old physical name — and DROP removes the
  // field from the recorded schema while the bytes stay in place for
  // older versions to time-travel to. Every version reads under ITS OWN
  // schema: pre-rename versions show the old name, pre-drop versions
  // still show the column. Data files are ALWAYS written under physical
  // names, so a table's files stay mutually consistent across renames.
  // Limitation (documented, as in Delta without id-mapping): re-adding
  // a previously DROPPED column's name can resurrect pre-drop bytes
  // from old files — real formats prevent this with column IDs.
  private val PhysicalKey = "graft_physical"

  private[graft] def physicalName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey) else f.name

  private def toPhysical(s: org.apache.spark.sql.types.StructType) =
    org.apache.spark.sql.types.StructType(s.fields.map(f => f.copy(name = physicalName(f))))

  private[sources] def hasMapping(s: org.apache.spark.sql.types.StructType): Boolean =
    s.fields.exists(_.metadata.contains(PhysicalKey))

  /** Does version `v`'s manifest exist (committed and not vacuumed)? */
  private[graft] def hasVersion(path: String, v: Int): Boolean =
    v >= 0 && Files.exists(manifestPath(path, v))

  /** Read raw parquet `files` under a recorded schema: physical column
    * names against the bytes, aliased back to logical names (metadata
    * kept — downstream commits need the mapping to survive the frame). */
  private def readFilesAs(spark: SparkSession,
      schema: Option[org.apache.spark.sql.types.StructType],
      files: Seq[String]): DataFrame = schema match {
    case Some(s) if hasMapping(s) =>
      spark.read.schema(toPhysical(s)).parquet(files: _*)
        .select(s.fields.toIndexedSeq.map(f =>
          col(physicalName(f)).as(f.name, f.metadata)): _*)
    case Some(s) => spark.read.schema(s).parquet(files: _*)
    case None    => spark.read.parquet(files: _*)
  }

  /** Project a logical-name frame to the PHYSICAL names of `schema`
    * for staging to disk (identity when no mapping is in force). */
  private def stagedAsPhysical(df: DataFrame,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    df.select(schema.fields.toIndexedSeq.map(f =>
      col(f.name).as(physicalName(f))): _*)

  /** `df` as it is staged to disk under `outSchema` (physical names when
    * a mapping is in force); its `.schema` is the staged files' schema,
    * which their stats are keyed under. */
  private def stagedFrame(df: DataFrame,
      outSchema: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    outSchema.fold(df)(stagedAsPhysical(df, _))

  /** Read `files` under version `v`'s recorded schema when present. */
  private def readUnder(spark: SparkSession, path: String, v: Int,
      files: Seq[String]): DataFrame =
    readFilesAs(spark, tableSchema(path, v), files)

  // A27 — per-FILE column statistics IN THE MANIFEST (the Delta
  // per-file stats pattern): every commit records min/max of each
  // numeric top-level column for the files it STAGES (taken inside the
  // write that makes them — cost ∝ commit, never table) and carries
  // retained files' stats forward verbatim. Consumers (merge/keyed-
  // delete file discovery, readPrunedRange) then prune from the
  // MANIFEST ALONE — before r7 every merge scanned the whole live set
  // to rebuild per-file key ranges, making merge cost track table
  // size. Stats are keyed by PHYSICAL column names, so they survive
  // renames untouched. Old manifests without stats fall back to the
  // scan (compat).
  private val StatsHeader = "#filestats="
  private val StatsSep = "\t"

  /** Per-file physical-column stats recorded at `v`:
    * file → col → (typeTag "L"|"D", min, max) as strings. */
  private[graft] def fileStats(path: String, v: Int): Map[String, Map[String, (String, String, String)]] =
    manifestLines(path, v)
      .filter(_.startsWith(StatsHeader))
      .map(_.stripPrefix(StatsHeader).split(StatsSep, -1))
      .collect { case Array(f, c, t, mn, mx) => (f, c, t, mn, mx) }
      .groupBy(_._1)
      .map { case (f, rows) =>
        f -> rows.map(r => r._2 -> ((r._3, r._4, r._5))).toMap }
      .toMap

  // ── r12: STRING stat bounds — truncated-prefix encoding ────────────
  // A string min/max is stored as base64 of at most [[StringStatMaxBytes]]
  // UTF-8 bytes (base64 keeps tabs/newlines out of the tab-separated
  // manifest line). Truncation WIDENS the range, which is the sound
  // direction for every consumer: a truncated MIN is the raw byte
  // prefix (bytewise ≤ the true min), a truncated MAX is the prefix
  // with its last non-0xFF byte incremented and the tail dropped
  // (bytewise > every string sharing the prefix). Truncated bounds are
  // marked with a trailing '~' (not in the base64 alphabet) so exact
  // consumers (metadata-only min/max answers, merge key ranges) can
  // refuse them; a max whose prefix is all 0xFF has no finite upper
  // bound and stores the '*' sentinel. Comparisons happen on the RAW
  // BYTES (never decoded to java String — a prefix may split a UTF-8
  // codepoint), matching Spark's UTF8String binary ordering.
  private[graft] val StringStatMaxBytes = 64
  private[graft] val StringStatNoMax = "*"

  private[graft] def encodeStringStat(s: String, isMax: Boolean): String = {
    val b64 = java.util.Base64.getEncoder
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (bytes.length <= StringStatMaxBytes) b64.encodeToString(bytes)
    else if (!isMax)
      b64.encodeToString(
        java.util.Arrays.copyOf(bytes, StringStatMaxBytes)) + "~"
    else {
      val p = java.util.Arrays.copyOf(bytes, StringStatMaxBytes)
      var i = p.length - 1
      while (i >= 0 && p(i) == -1) i -= 1
      if (i < 0) StringStatNoMax
      else {
        val out = java.util.Arrays.copyOf(p, i + 1)
        out(i) = (out(i) + 1).toByte
        b64.encodeToString(out) + "~"
      }
    }
  }

  /** Decoded string bound: (UTF-8 bytes, exact). None = the '*'
    * sentinel (no finite upper bound). Raises on malformed base64 —
    * callers treat that as "no stats" via their own catch. */
  private[graft] def decodeStringStat(enc: String): Option[(Array[Byte], Boolean)] =
    if (enc == StringStatNoMax) None
    else if (enc.endsWith("~"))
      Some((java.util.Base64.getDecoder.decode(enc.dropRight(1)), false))
    else Some((java.util.Base64.getDecoder.decode(enc), true))

  // A33 — per-file ROW COUNTS in the manifest (Delta's numRecords):
  // recorded with the column stats as each file is written, carried
  // forward with them, so `count(*)` of any retained
  // version is a manifest sum — zero data files opened on a 100 TB
  // table. DV dead positions subtract via a DV-files-only count.
  private val RowsHeader = "#filerows="

  // A42 — per-file NULL COUNTS (the third leg of Delta's
  // min/max/nullCount stats triple), for every atomic top-level
  // column, recorded with them: `IS NULL` prunes
  // files with zero nulls in the column, `IS NOT NULL` prunes files
  // that are entirely null there — the skipping min/max cannot
  // express. Absence of a line = unknown = keep (legacy manifests
  // stay sound).
  private val NullsHeader = "#filenulls="
  // A61: per-(file, column) HLL NDV registers — "#filehll=<f>\t<c>\t<p>\t<hex>"
  private val HllHeader = "#filehll="

  /** Per-file NDV sketches at `v`: file → column → registers. Only
    * same-width sketches merge; the line carries p so a future width
    * change stays readable (mixed widths simply disable the merge). */
  private[sources] def fileHll(path: String, v: Int): Map[String, Map[String, Array[Byte]]] =
    manifestLines(path, v)
      .filter(_.startsWith(HllHeader))
      .map(_.stripPrefix(HllHeader).split(StatsSep, -1))
      .collect { case Array(f, c, _, hex) =>
        (f, c, graft.functions.Hll.fromHex(hex)) }
      .groupBy(_._1)
      .map { case (f, rows) => f -> rows.map(r => r._2 -> r._3).toMap }
      .toMap

  /** Per-file null counts recorded at `v`: file → col → nulls. */
  private[sources] def fileNulls(path: String, v: Int): Map[String, Map[String, Long]] =
    if (!hasVersion(path, v)) Map.empty
    else manifestLines(path, v)
      .filter(_.startsWith(NullsHeader))
      .map(_.stripPrefix(NullsHeader).split(StatsSep, -1))
      .collect { case Array(f, c, n) => (f, c, n.toLong) }
      .groupBy(_._1)
      .map { case (f, rows) => f -> rows.map(r => r._2 -> r._3).toMap }
      .toMap

  /** Per-file row counts recorded at `v` (file → rows). */
  private[sources] def fileRows(path: String, v: Int): Map[String, Long] =
    manifestLines(path, v)
      .filter(_.startsWith(RowsHeader))
      .map(_.stripPrefix(RowsHeader).split(StatsSep, -1))
      .collect { case Array(f, n) => f -> n.toLong }.toMap

  // r9 — ANALYZED NDV (the CBO's third input, beside the manifest's
  // free rowCount and min/max): Catalyst's FilterEstimation refuses to
  // price even a range predicate without a distinctCount, and NDV is
  // the one statistic parquet footers do NOT carry — so, exactly like
  // Iceberg's ANALYZE-written theta sketches, it is computed on demand
  // by an explicit `GRAFT ANALYZE` pass (ONE distributed scan,
  // approx_count_distinct over every atomic column in a single
  // aggregate — the collect is one row) and stored as a tiny sidecar
  // in the log dir, KEYED TO THE VERSION it was computed at. Readers
  // of version v use the newest record analyzed at a version ≤ v
  // (stats drift with later commits until re-analyzed — the standard
  // ANALYZE contract — but a time-travel read never sees statistics
  // from its own future). Vacuum never touches the sidecar (it
  // reclaims only .parquet files) and it costs O(columns) bytes.
  private def ndvPath(path: String, v: Int) =
    logDir(path).resolve(f"ndv-v$v%06d.stats")

  /** One distributed NDV pass over the CURRENT version (+ an opt-in
    * EQUI-HEIGHT HISTOGRAM pass — see below); writes the versioned
    * sidecar and returns the version analyzed.
    *
    * `histogram = true` adds Spark's own two-pass histogram build
    * (ANALYZE TABLE … FOR COLUMNS with
    * spark.sql.statistics.histogram.enabled): pass 1 extends the NDV
    * aggregate with equi-probable percentile bounds per numeric
    * column; pass 2 assigns every value its bin (count of interior
    * bounds ≤ x — a fold over the literal bounds array) and computes
    * per-bin NDV in ONE scan for ALL columns (array-of-structs
    * explode → (col, bin) aggregate, ≤ cols×bins groups). The
    * histogram is what lets FilterEstimation see SKEW: a uniform
    * min/max model prices `v <= 99` over a 95%-mass-below-100 column
    * at ~0.05% and would happily broadcast 95k rows
    * (spec-pinned inversion in LakeSqlSpec). */
  def analyzeTable(spark: SparkSession, path: String,
      histogram: Boolean = false, histogramBins: Int = 64): Int = {
    require(histogramBins >= 2 && histogramBins <= 1000,
      s"histogramBins in [2, 1000] (got $histogramBins)")
    val v = headOf(path)
    val df = read(spark, path, v)
    import org.apache.spark.sql.types._
    val cols = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] ||
        f.dataType == StringType || f.dataType == BooleanType ||
        f.dataType == DateType || f.dataType == TimestampType => f.name
    }.toSeq
    val numCols = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] => f.name }.toSeq
    val lines: Seq[String] =
      if (cols.isEmpty) Seq.empty
      else {
        val ndvAggs = cols.map(c => approx_count_distinct(col(s"`$c`")).as(c))
        val pctls = (0 to histogramBins).map(_.toDouble / histogramBins)
        val histAggs =
          if (!histogram) Seq.empty
          else numCols.flatMap(c => Seq(
            percentile_approx(col(s"`$c`").cast("double"),
              lit(pctls.toArray), lit(10000)).as(s"__h_$c"),
            count(col(s"`$c`")).as(s"__n_$c")))
        val aggs = ndvAggs ++ histAggs
        val row = df.agg(aggs.head, aggs.tail: _*).collect()(0) // 1 row
        val ndvLines =
          cols.indices.map(i => s"${cols(i)}$StatsSep${row.getLong(i)}")
        val histLines: Seq[String] = if (!histogram) Seq.empty else {
          val bounds: Map[String, Seq[Double]] = numCols.zipWithIndex.map {
            case (c, i) =>
              c -> Option(row.getSeq[Double](cols.size + 2 * i))
                .getOrElse(Seq.empty)
          }.toMap
          val nonNull: Map[String, Long] = numCols.zipWithIndex.map {
            case (c, i) => c -> row.getLong(cols.size + 2 * i + 1) }.toMap
          val live = bounds.filter(_._2.size == histogramBins + 1).keys.toSeq
          if (live.isEmpty) Seq.empty
          else {
            // pass 2: per-bin NDV, one scan for all histogram columns
            def binIdx(c: String): org.apache.spark.sql.Column = {
              val interior = bounds(c).slice(1, histogramBins)
              aggregate(
                lit(interior.toArray),
                lit(0),
                (acc, b) => acc + when(col(s"`$c`").cast("double") >= b, 1)
                  .otherwise(0))
            }
            val structs = array(live.map(c => struct(
              lit(c).as("c"), binIdx(c).as("bin"),
              col(s"`$c`").cast("double").as("v"))): _*)
            val perBin = df.select(explode(structs).as("e"))
              .select(col("e.c").as("c"), col("e.bin").as("bin"),
                col("e.v").as("v"))
              .filter(col("v").isNotNull)
              .groupBy("c", "bin")
              .agg(approx_count_distinct(col("v")).as("ndv"))
              .collect() // ≤ cols × bins rows
              .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
            live.map { c =>
              val bs = bounds(c)
              val bins = (0 until histogramBins).map { i =>
                s"${bs(i)}:${bs(i + 1)}:${perBin.getOrElse((c, i), 0L).max(1L)}"
              }.mkString("|")
              val height = nonNull(c).toDouble / histogramBins
              s"#h$StatsSep$c$StatsSep$height$StatsSep$bins"
            }
          }
        }
        ndvLines ++ histLines
      }
    val tmp = Files.createTempFile(logDir(path), "ndv", ".tmp")
    Files.write(tmp, lines.mkString("\n").getBytes("UTF-8"))
    Files.move(tmp, ndvPath(path, v),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    v
  }

  /** Histogram records from the same analyze sidecar [[ndvRecord]]
    * resolves: col → (height, bins as (lo, hi, ndv)). */
  private[sources] def histRecord(path: String,
      v: Int): Map[String, (Double, Seq[(Double, Double, Long)])] = {
    val ld = logDir(path)
    if (!Files.isDirectory(ld)) return Map.empty
    val best = listDir(ld).map(_.getFileName.toString)
      .collect { case n if n.startsWith("ndv-v") && n.endsWith(".stats") =>
        n.stripPrefix("ndv-v").stripSuffix(".stats").toInt }
      .filter(_ <= v)
    if (best.isEmpty) return Map.empty
    new String(Files.readAllBytes(ndvPath(path, best.max)), "UTF-8")
      .split("\n").filter(_.startsWith(s"#h$StatsSep"))
      .map(_.split(StatsSep, -1))
      .collect { case Array(_, c, h, bins) =>
        c -> (h.toDouble, bins.split('|').toSeq.map { b =>
          val Array(lo, hi, n) = b.split(':')
          (lo.toDouble, hi.toDouble, n.toLong)
        })
      }.toMap
  }

  /** The newest NDV record analyzed at a version ≤ `v`:
    * (analyzedVersion, col → ndv). None until someone ANALYZEs. */
  private[sources] def ndvRecord(path: String, v: Int): Option[(Int, Map[String, Long])] = {
    val ld = logDir(path)
    if (!Files.isDirectory(ld)) return None
    val best = listDir(ld).map(_.getFileName.toString)
      .collect { case n if n.startsWith("ndv-v") && n.endsWith(".stats") =>
        n.stripPrefix("ndv-v").stripSuffix(".stats").toInt }
      .filter(_ <= v)
    if (best.isEmpty) return None
    val av = best.max
    val m = new String(Files.readAllBytes(ndvPath(path, av)), "UTF-8")
      .split("\n").filter(_.nonEmpty)
      .map(_.split(StatsSep, -1)).collect { case Array(c, n) => c -> n.toLong }
      .toMap
    Some((av, m))
  }

  /** ONE scan of `files` for their manifest stat lines: per-file row
    * count, min/max of every ranged column — and (r15) of every STRUCT
    * LEAF, keyed by its dotted path (`meta.width`), so a predicate on
    * typed metadata prunes files exactly like a top-level column —
    * null counts and NDV registers. Files graft writes get the same
    * lines from their own write ([[stageFiles]]); this aggregate serves
    * only files graft did not write (an [[init]] over user parquet) and
    * is the reference the tracked write is checked against. The collect
    * is |files| × columns. `schema` is the files' own schema: reading
    * under it spares the footer-inference job. */
  private[graft] def statsLines(spark: SparkSession, files: Seq[String],
      schema: org.apache.spark.sql.types.StructType): Seq[String] = {
    if (files.isEmpty) return Seq.empty
    val df = spark.read.schema(schema).parquet(files: _*)
    // every stats-bearing column: (dotted path, accessor, dataType)
    val allCols: Seq[(String, org.apache.spark.sql.Column,
        org.apache.spark.sql.types.DataType)] =
      FileStats.leaves(spark, df.schema).map { case (c, path, dt) =>
        (c, path.tail.foldLeft(col(s"`${path.head._1}`"))((a, f) => a.getField(f._1)), dt)
      }
    // FloatType stats are aggregated AS DOUBLE: Float.toString("0.7")
    // re-parsed with toDouble gives 0.7d > (0.7f widened) =
    // 0.699999988…, so a float-recorded min can exceed the file's true
    // min and an `=== 0.7f` probe would UNSOUNDLY prune a matching
    // file. Float→double widening is exact and monotonic, and
    // Double.toString round-trips, so the double-recorded range is the
    // exact widened range the probe side compares against.
    val numCols = allCols
      .flatMap { case (c, acc, dt) => FileStats.typeTag(dt).map(t => (c, acc, dt, t,
        dt == org.apache.spark.sql.types.FloatType)) }
    // r12: per-tag aggregate input — timestamps range as exact micros,
    // dates as days (both monotonic, so min/max commute with the
    // conversion); decimals and strings aggregate in their own type
    // and are rendered by renderStat below
    def statInput(acc: org.apache.spark.sql.Column,
        dt: org.apache.spark.sql.types.DataType, tag: String,
        isFloat: Boolean): org.apache.spark.sql.Column = tag match {
      case "D" if isFloat => acc.cast("double")
      // TZ timestamps range as instant micros; NTZ aggregate raw (its
      // external LocalDateTime converts to wall-clock micros below —
      // min/max commute with both conversions)
      case "T" if dt == org.apache.spark.sql.types.TimestampType =>
        unix_micros(acc)
      case "A" => unix_date(acc)
      case _   => acc
    }
    // A42: null counts cover every ATOMIC column (strings included) and
    // struct leaf, not just the numeric ones the range stats track. A
    // leaf's null count includes rows whose PARENT struct is null —
    // exactly what IS [NOT] NULL on the extracted field evaluates.
    val atomicCols = allCols.map { case (c, acc, _) => (c, acc) }
    // A61: one HLL register-set per (file, atomic column) rides the
    // same single staged-files pass — merged register-wise over the
    // LIVE set, the table's NDV follows every commit exactly (the CBO
    // input A46's ANALYZE sidecar could only approximate until re-run).
    // HllSketchAgg keeps its buffer an object between rows; the udaf()
    // wrapper would re-encode 128 bytes per row per column.
    def hllAgg(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      org.apache.spark.sql.GraftSqlBridge.toColumn(
        graft.functions.HllSketchAgg(
          org.apache.spark.sql.GraftSqlBridge.toExpression(c))
          .toAggregateExpression())
    val hllCols: Seq[(String, org.apache.spark.sql.Column)] =
      if (FileStats.ndvOn(spark)) atomicCols else Seq.empty
    val aggs = count(lit(1)).as("__nr") +:
      (numCols.toIndexedSeq.zipWithIndex.flatMap {
        case ((_, acc, dt, t, isFloat), i) =>
          val cc = statInput(acc, dt, t, isFloat)
          Seq(min(cc).as(s"__mn_$i"), max(cc).as(s"__mx_$i")) } ++
        atomicCols.zipWithIndex.map { case ((_, acc), i) =>
          count(acc).as(s"__nn_$i") } ++
        hllCols.zipWithIndex.map { case ((_, acc), i) =>
          hllAgg(when(acc.isNotNull, xxhash64(acc))).as(s"__hll_$i") })
    val collected = df.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val nnBase = 2 + 2 * numCols.length
    val hllBase = nnBase + atomicCols.length
    val lines = collected.toSeq.flatMap { r =>
      val f = canonical(r.getString(0))
      val nRows = r.getLong(1)
      val rowsLine = RowsHeader + Seq(f, nRows.toString).mkString(StatsSep)
      val rangeLines = numCols.toIndexedSeq.zipWithIndex.flatMap {
        case ((c, _, _, t, _), i) =>
          val mn = r.get(2 + 2 * i); val mx = r.get(3 + 2 * i)
          if (mn == null || mx == null) None
          else Some(StatsHeader + Seq(f, c, t, renderStat(t, mn, isMax = false),
            renderStat(t, mx, isMax = true)).mkString(StatsSep))
      }
      val nullLines = atomicCols.zipWithIndex.map { case ((c, _), i) =>
        NullsHeader + Seq(f, c, (nRows - r.getLong(nnBase + i)).toString)
          .mkString(StatsSep)
      }
      val hllLines = hllCols.zipWithIndex.flatMap { case ((c, _), i) =>
        Option(r.get(hllBase + i)).map(regs =>
          HllHeader + Seq(f, c, graft.functions.Hll.P.toString,
            graft.functions.Hll.toHex(regs.asInstanceOf[Array[Byte]]))
            .mkString(StatsSep))
      }
      rowsLine +: (rangeLines ++ nullLines ++ hllLines)
    }
    // an EMPTY staged part-file yields no aggregate group but is still
    // a live file — its row count is exactly zero, record it (column
    // ranges stay absent: an empty file has none, and their absence
    // correctly disables range pruning, never the count)
    val seen = collected.map(r => canonical(r.getString(0))).toSet
    lines ++ files.map(canonical).filterNot(seen).map(f =>
      RowsHeader + Seq(f, "0").mkString(StatsSep))
  }

  /** A min/max aggregate value as its manifest string: decimals plain,
    * strings by [[encodeStringStat]], NTZ timestamps as wall-clock
    * micros, everything else by `toString`. */
  private[sources] def renderStat(tag: String, v: Any, isMax: Boolean): String = (tag, v) match {
    case ("C", d: java.math.BigDecimal) => d.toPlainString
    case ("S", s: String) => encodeStringStat(s, isMax)
    case ("T", ldt: java.time.LocalDateTime) => // NTZ wall-clock micros
      (ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
        ldt.getNano / 1000L).toString
    case _   => v.toString
  }

  /** The manifest stat lines of file `f` from what its write recorded
    * under `spec` — line for line what [[statsLines]] gives the file. A
    * 0-row file has its row count only. */
  private[sources] def writtenLines(f: String, spec: StatSpec,
      w: WrittenFile): Seq[String] = {
    val rowsLine = RowsHeader + Seq(f, w.rows.toString).mkString(StatsSep)
    if (w.rows == 0L) return Seq(rowsLine)
    val cols = spec.cols.zipWithIndex
    rowsLine +: (cols.flatMap { case (c, i) =>
      Option(w.ranges(i)).map { case (mn, mx) =>
        StatsHeader + Seq(f, c.name, c.tag.get, mn, mx).mkString(StatsSep) }
    } ++ cols.map { case (c, i) =>
      NullsHeader + Seq(f, c.name, w.nulls(i).toString).mkString(StatsSep)
    } ++ (if (w.hll == null) Nil else cols.map { case (c, i) =>
      HllHeader + Seq(f, c.name, graft.functions.Hll.P.toString,
        graft.functions.Hll.toHex(w.hll(i))).mkString(StatsSep)
    }))
  }

  /** Per-file stat lines (column ranges AND row counts) of `retained`
    * files as recorded at version `v`, carried forward verbatim into
    * the next commit. */
  private[sources] def carriedStats(path: String, v: Int, retained: Seq[String]): Seq[String] = {
    val keep = retained.map(canonical).toSet
    def fileOf(l: String, h: String) = l.stripPrefix(h).split(StatsSep, -1)(0)
    manifestLines(path, v).filter { l =>
      (l.startsWith(StatsHeader) && keep.contains(fileOf(l, StatsHeader))) ||
        (l.startsWith(RowsHeader) && keep.contains(fileOf(l, RowsHeader))) ||
        (l.startsWith(NullsHeader) && keep.contains(fileOf(l, NullsHeader))) ||
        (l.startsWith(HllHeader) && keep.contains(fileOf(l, HllHeader)))
    }
  }

  /** Stat lines (column ranges + row counts) of `files` as recorded at
    * `v`, with each embedded file path rewritten through `remap` — the
    * publish step of a branch ([[Refs.publish]]) hard-links staged
    * files into the main directory and must carry their stats under
    * the NEW path without rescanning anything. */
  private[sources] def remappedStats(path: String, v: Int, files: Seq[String],
      remap: String => String): Seq[String] = {
    val keep = files.map(canonical).toSet
    def rewrite(l: String, h: String): Option[String] = {
      val parts = l.stripPrefix(h).split(StatsSep, -1)
      if (keep.contains(parts(0)))
        Some(h + (canonical(remap(parts(0))) +: parts.tail.toSeq).mkString(StatsSep))
      else None
    }
    manifestLines(path, v).flatMap { l =>
      if (l.startsWith(StatsHeader)) rewrite(l, StatsHeader)
      else if (l.startsWith(RowsHeader)) rewrite(l, RowsHeader)
      else if (l.startsWith(NullsHeader)) rewrite(l, NullsHeader)
      else if (l.startsWith(HllHeader)) rewrite(l, HllHeader)
      else None
    }
  }

  /** A33 — `count(*)` of version `version` from the MANIFEST alone:
    * the live files' recorded row counts summed, minus the dead rows the
    * version's DV descriptors record for live files (entries on files
    * no longer live are inert and must not over-subtract). None when
    * any live file predates row-count recording (legacy manifests) —
    * the caller falls back to a scan. No file is opened and no job
    * runs, unless a `#dv=` line predates descriptors ([[dvMarks]]).
    */
  def rowCount(spark: SparkSession, path: String, version: Int = -1): Option[Long] = {
    val v = if (version < 0) currentVersion(path) else version
    require(Files.exists(manifestPath(path, v)), s"no version $v at $path")
    val live = liveFiles(path, v).map(canonical)
    val rows = fileRows(path, v)
    if (!live.forall(rows.contains)) return None
    val dead = dvMarks(spark, dvEntries(path, v))
    Some(live.map(f => rows(f) - dead.getOrElse(f, 0L)).sum)
  }

  // A30 — DELETION VECTORS (the Delta DV / Iceberg position-delete
  // pattern): a delete may land as a MERGE-ON-READ commit instead of a
  // copy-on-write rewrite. A DV sidecar is a parquet file of
  // (__dv_file, __dv_pos) row positions that are DEAD at that version,
  // and every read anti-joins them out. Deleting d rows from a 100 TB
  // table then writes O(d) positions, not O(touched file bytes); reads
  // pay one (usually broadcast) anti join until [[reconcileDV]] folds
  // the DVs back into rewritten files. Positions come from parquet's
  // `_metadata.row_index`, which is stable per file.
  // Each sidecar's `#dv=` line carries its DESCRIPTOR, counted by the
  // sidecar's own write (Delta's DV `cardinality`, split per file):
  //   #dv=<sidecar>\t<dead rows>\t<file>\t<n>\t<file>\t<n>…
  // so which files a DV marks, and how many of their rows, is a
  // manifest read — row counts, reconcile, deep clone, the merge's OCC
  // DV-clash check and the change feed open no sidecar for it. A line
  // written before descriptors names the sidecar alone; [[dvMarks]]
  // reads just those sidecars. (The total keeps a 0-row sidecar's line
  // distinct from such a line.) Entries are carried forward whole on
  // every commit; entries on files no longer live are INERT (the anti
  // join cannot match a file that is not scanned), so carrying them is
  // harmless garbage that reconcile/OPTIMIZE ZORDER clears.
  private val DvHeader = "#dv="

  /** One `#dv=` entry: a sidecar and its descriptor — each data file it
    * marks (canonical) with its dead rows — or None for a line written
    * before descriptors. */
  private[sources] final case class DvEntry(sidecar: String,
      marks: Option[Map[String, Long]]) {
    def line: String = DvHeader + marks.fold(sidecar)(m =>
      (Seq(sidecar, m.values.sum.toString) ++ m.toSeq.sorted.flatMap {
        case (f, n) => Seq(f, n.toString) }).mkString("\t"))
  }

  /** A DV sidecar's position columns. Sidecars may also carry the dead
    * rows' keys and pre-images (the change feed's), but every DV reader
    * uses only these two, so sidecars are read under this fixed schema:
    * a schema-less `spark.read.parquet` would run a Spark job just to
    * read a footer. */
  private val DvSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("__dv_file",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("__dv_pos",
      org.apache.spark.sql.types.LongType)))

  /** The (__dv_file, __dv_pos) rows of the DV files `dvs`. */
  private[sources] def readDv(spark: SparkSession, dvs: Seq[String]): DataFrame =
    spark.read.schema(DvSchema).parquet(dvs: _*)

  /** The DV entries in force at version `v` (accumulated) — what every
    * commit that keeps `v`'s DVs carries. */
  private[sources] def dvEntries(path: String, v: Int): Seq[DvEntry] =
    manifestLines(path, v).filter(_.startsWith(DvHeader)).map { l =>
      val parts = l.stripPrefix(DvHeader).split('\t')
      DvEntry(parts(0), if (parts.length == 1) None else Some(
        parts.drop(2).grouped(2).map(p => p(0) -> p(1).toLong).toMap))
    }

  /** The DV sidecars in force at version `v`: the path view of
    * [[dvEntries]], for readers that open the sidecars themselves (scans,
    * vacuum, DETAIL). */
  private[graft] def dvFiles(path: String, v: Int): Seq[String] =
    manifestLines(path, v).filter(_.startsWith(DvHeader))
      .map(_.stripPrefix(DvHeader).takeWhile(_ != '\t'))

  // A31 — STORED CHANGE DATA (the Delta `_change_data` pattern): a
  // writing commit may also record the change rows it just computed
  // anyway — (all columns, change_type), post-image for
  // inserts/updates, pre-image for deletes — as `#cdf=` parquet refs,
  // with a bare `#cdfok` marker meaning "this commit's change set is
  // recorded" (possibly empty: layout/metadata commits). A single-step
  // feed (the incremental consumer's shape) then reads exactly the
  // CHANGED ROWS — where the manifest-diff path reads the changed
  // FILES' full pre+post images, a 1-row update to a 1 GB file costs
  // the feed 2 GB. Multi-version windows and unmarked commits
  // (restore, legacy manifests) fall back to the diff, which remains
  // the semantic ground truth the stored path is spec-pinned against.
  // Like Delta's enableChangeDataFeed, storing change data is a TABLE
  // PROPERTY, off by default: it buys the changed-rows feed at the
  // price of one extra write per commit (∝ the commit's change set) —
  // a table nobody tails incrementally shouldn't pay it. The flag
  // rides the manifest (`#cdfenabled`), carried forward by every
  // commit automatically; disabled tables' feeds serve from the
  // manifest diff exactly as before.
  private val CdfOkHeader = "#cdfok"
  private val CdfHeader = "#cdf="
  private val CdfEnabledHeader = "#cdfenabled"

  /** Is change-data recording enabled at version `v`? */
  private[graft] def cdfEnabled(path: String, v: Int): Boolean =
    v >= 0 && Files.exists(manifestPath(path, v)) &&
      manifestLines(path, v).contains(CdfEnabledHeader)

  /** Turn change-data recording ON from the next commit: a pure
    * metadata commit (live set, schema, stats, DVs all carried).
    * Returns the new version.
    */
  def enableChangeDataFeed(path: String): Int = {
    val v = headOf(path)
    val live = liveFiles(path, v)
    commitNext(path, v, live, tableSchema(path, v),
      carriedStats(path, v, live), dvEntries(path, v),
      cdf = Some(Seq.empty), cdfFlag = true)
  }

  // A34 — CHECK CONSTRAINTS (the Delta `ALTER TABLE ADD CONSTRAINT`
  // pattern): named boolean SQL expressions carried in the manifest
  // (`#constraint=name\texpr`), enforced at WRITE time — a merge whose
  // batch has a row evaluating the expression to FALSE refuses before
  // staging anything (SQL semantics: NULL passes, like ANSI CHECK).
  // Adding a constraint validates the whole existing live set first
  // (one scan — the one-time cost Delta charges too); from then on
  // only batches are checked, because retained rows were admitted
  // under the constraint. Deletes cannot violate and skip the check.
  private val ConstraintHeader = "#constraint="

  /** Constraints in force at version `v`: (name, exprText). */
  private[graft] def constraintsOf(path: String, v: Int): Seq[(String, String)] =
    if (v < 0 || !Files.exists(manifestPath(path, v))) Seq.empty
    else manifestLines(path, v)
      .filter(_.startsWith(ConstraintHeader))
      .map(_.stripPrefix(ConstraintHeader).split("\t", 2))
      .collect { case Array(n, e) => (n, e) }

  /** Throw unless every row of `batch` satisfies every constraint of
    * version `v` (FALSE violates; NULL passes, ANSI CHECK). The probe
    * is one filtered limit-1 job per constraint over the BATCH. A
    * batch MISSING a table column is normalized with nulls first —
    * full-row-replace semantics null-fill those columns, and the
    * constraint must judge what will actually land. */
  private def enforceConstraints(path: String, v: Int, batch: DataFrame): Unit = {
    val cons = constraintsOf(path, v)
    if (cons.isEmpty) return
    val frame = tableSchema(path, v) match {
      case Some(s) => batch.select((filledTo(batch, s) ++
          batch.columns.toIndexedSeq.filterNot(s.fieldNames.contains)
            .map(c => col(s"`$c`"))): _*)
      case None => batch
    }
    cons.foreach { case (name, e) =>
      val bad = frame.filter(coalesce(!expr(e), lit(false))).limit(1).collect()
      if (bad.nonEmpty)
        throw new IllegalArgumentException(
          s"CHECK constraint '$name' ($e) violated by e.g. ${bad.head}")
    }
  }

  /** Add a named CHECK constraint; the EXISTING live rows are
    * validated first (their one full scan), then a metadata commit
    * records it and every later merge enforces it on its batch.
    * Returns the new version.
    */
  def addConstraint(spark: SparkSession, path: String,
      name: String, exprText: String): Int = {
    require(!name.contains('\t') && !name.contains('\n') &&
      !exprText.contains('\t') && !exprText.contains('\n'),
      "constraint name/expression must not contain tabs or newlines")
    val v = headOf(path)
    require(!constraintsOf(path, v).exists(_._1 == name),
      s"constraint '$name' already exists")
    val live = liveFiles(path, v)
    if (live.nonEmpty) {
      val bad = readLive(spark, path, v, live)
        .filter(coalesce(!expr(exprText), lit(false))).limit(1).collect()
      require(bad.isEmpty,
        s"cannot add constraint '$name' ($exprText): existing row violates it, e.g. ${bad.headOption.getOrElse("")}")
    }
    commitNext(path, v, live, tableSchema(path, v),
      carriedStats(path, v, live), dvEntries(path, v), cdf = Some(Seq.empty),
      constraintsOverride = Some(constraintsOf(path, v) :+ (name -> exprText)))
  }

  /** Drop a named constraint (metadata commit). Returns the new
    * version. */
  def dropConstraint(path: String, name: String): Int = {
    val v = headOf(path)
    val cons = constraintsOf(path, v)
    require(cons.exists(_._1 == name), s"no constraint '$name'")
    val live = liveFiles(path, v)
    commitNext(path, v, live, tableSchema(path, v),
      carriedStats(path, v, live), dvEntries(path, v), cdf = Some(Seq.empty),
      constraintsOverride = Some(cons.filterNot(_._1 == name)))
  }

  // A39 — CLUSTERING STATE in the manifest: a full OPTIMIZE ZORDER
  // records the clustering columns (`#cluster=`) and marks its output
  // files clustered (`#clusterfile=`); every later commit carries the
  // columns and the still-live intersection of the clustered set
  // forward. The INCREMENTAL optimize then knows exactly which live
  // files are the unclustered tail — merges' copy-on-write outputs,
  // streaming micro-batch commits — and re-clusters ONLY those. At
  // 100 TB a wholesale nightly re-cluster is impossible; clustering
  // the tail while earlier generations stay internally z-clustered is
  // how production formats keep layout maintenance proportional to
  // ingest (per-file pruning works per generation, and a periodic
  // full ZORDER resets the generation count).
  private val ClusterHeader = "#cluster="
  private val ClusterFileHeader = "#clusterfile="

  /** Clustering columns in force at `v` (from the last full ZORDER).
    * The manifest line is tab-joined, so the r8 N-column generalization
    * reads 2-column manifests unchanged. */
  private[graft] def clusterOf(path: String, v: Int): Option[Seq[String]] =
    if (!hasVersion(path, v)) None
    else manifestLines(path, v)
      .find(_.startsWith(ClusterHeader))
      .map(_.stripPrefix(ClusterHeader).split("\t").toSeq)
      .filter(_.nonEmpty)

  /** Live files known CLUSTERED at `v` (canonical). */
  private[graft] def clusterFilesOf(path: String, v: Int): Set[String] =
    if (!hasVersion(path, v)) Set.empty
    else manifestLines(path, v)
      .filter(_.startsWith(ClusterFileHeader))
      .map(_.stripPrefix(ClusterFileHeader)).toSet

  // A41 — FILE-LEVEL BLOOM INDEX (the Delta bloom-filter-index
  // pattern): point-lookup file skipping on a column the layout does
  // NOT cluster — z-order buys range pruning on two dimensions, the
  // bloom buys `col = x` skipping on any other (integral) column.
  // `#bloomcol=` records the indexed column + bits-per-row (carried by
  // every commit); `#bloomidx=` lines reference SIDECAR parquet files
  // of (file, col, bits array<long>) rows — one filter per data file,
  // sized to ITS row count so the false-positive rate stays flat
  // across skewed files. Sidecars are built DISTRIBUTEDLY (positions →
  // per-word bit_or → array assembly, no driver collect of bits) by
  // the ingest writers (merge/update/overwrite stage them for their
  // new files alongside the data); rewrite paths (compact/zorder)
  // leave their outputs unindexed — a file with no bloom entry is
  // always KEPT by the probe (skipping degrades, never lies) until
  // [[reindexBloom]] catches the stragglers. The probe itself is a
  // distributed filter over the index relation; only file VERDICTS
  // (manifest-scale) reach the driver. No false negatives, ever.
  private val BloomColHeader = "#bloomcol="
  private val BloomIdxHeader = "#bloomidx="

  // A50 — HASH-BUCKETED LAYOUT in the manifest (the storage-partitioned
  // join enabler): `#bucketspec=col\tn` records that every live data
  // file holds exactly the rows whose pmod(murmur3(col), n) equals the
  // file's `_NNNNN` name tag — Spark's OWN bucket convention, produced
  // by routing every rewrite through `repartition(n, col)` (whose
  // HashPartitioning partition-id expression IS the bucketed-read
  // expectation) and tagging each writer task's output with its
  // partition index. The connector then hands `FileSourceScanExec` a
  // real `BucketSpec`, so the scan reports
  // HashPartitioning(col, n): two graft tables co-bucketed on their
  // join key sort-merge join with ZERO exchange — at 100 TB the
  // fact⋈fact shuffle (the single most expensive stage in a lake
  // pipeline) is paid ONCE at write time and never again, and `col =
  // x` point reads prune to 1/n of the files (Spark's bucket pruning).
  // The property is immutable table metadata, set by the bucketed
  // bootstrap and carried by every commit; every ingest/DML path
  // re-routes its staged rows through the bucket hash, so the layout
  // survives merge/delete/update/append/overwrite AND compaction.
  // Maintenance that cannot preserve it (ZORDER's global re-sort)
  // refuses; anything else that stages untagged files merely DEGRADES
  // the read (the connector only declares the BucketSpec when every
  // live file carries a valid tag — correctness never rides the tag).
  private val BucketHeader = "#bucketspec="

  // A51 — IDEMPOTENT WRITES (Delta's SetTransaction action): a commit
  // may carry `#txn=appId\tversion`, the high-water mark of an
  // external transaction lineage (a streaming query's (appId, batchId),
  // a retried ETL job's run number). A write tagged (app, ver) with
  // ver ≤ the recorded mark is a NO-OP — and because the mark rides
  // the SAME manifest CAS as the data it covers, the guard is atomic
  // with the commit: there is no window where the data landed but the
  // marker didn't (the failure mode any sidecar marker — including the
  // C25 sink's `_last_batch_*` fast path — leaves open, where a crash
  // between commit and marker re-commits the batch on replay). Marks
  // are monotonic per app (commitAt keeps the max), carried forward by
  // every commit, preserved across RESTORE (replays after a restore
  // still no-op — the safe direction), and per-app independent.
  private val TxnHeader = "#txn="

  /** The highest transaction version recorded at `v` for `appId`. */
  def txnVersionOf(path: String, v: Int, appId: String): Option[Long] =
    if (!hasVersion(path, v)) None
    else manifestLines(path, v).collectFirst {
      case l if l.startsWith(TxnHeader) &&
          l.stripPrefix(TxnHeader).takeWhile(_ != '\t') == appId =>
        l.stripPrefix(TxnHeader).split("\t")(1).toLong
    }

  /** [[txnVersionOf]] at the current head (−1-versioned tables: None). */
  def txnVersionOf(path: String, appId: String): Option[Long] =
    txnVersionOf(path, currentVersion(path), appId)

  private def requireTxnApp(appId: String): Unit =
    require(appId.nonEmpty && !appId.contains("\t") && !appId.contains("\n"),
      s"graft: txnAppId must be non-empty without tab/newline: '$appId'")

  // ── A56: multi-table publish fence ─────────────────────────────────
  // One file under the table's log: "owner\texpiryMillis". A live fence
  // makes every commitAt on the table throw EXCEPT commits whose txn
  // mark names the owner (the transaction's own redo publishes).
  // Pre-COMMIT fences carry a TTL so an abandoned begin() frees the
  // table; at COMMIT time the owner hardens its fences (expiry = ∞) so
  // the window between the coordinator record and the last publish can
  // never be invaded — a crash there leaves the table fenced until
  // GraftTxn.recover() completes the redo, which is the liveness
  // contract (Delta-style: someone must finish the log).
  private def fenceFile(path: String) = logDir(path).resolve("txn_fence")

  private[graft] def fenceOwner(path: String): Option[(String, Long)] = {
    val f = fenceFile(path)
    if (!Files.exists(f)) return None
    try {
      val Array(app, exp) =
        new String(Files.readAllBytes(f), "UTF-8").trim.split("\t")
      Some((app, exp.toLong))
    } catch { case _: Exception => None } // torn read of a dying fence
  }

  private[graft] def acquireFence(path: String, app: String,
      ttlMillis: Long): Unit = {
    requireTxnApp(app)
    Files.createDirectories(logDir(path))
    val f = fenceFile(path)
    var attempts = 0
    while (attempts <= 5) {
      // r13: fence acquire is the OTHER putIfAbsent client of the
      // pluggable CommitStore (a fence is a CAS on its own marker)
      if (CommitStores.get.putIfAbsent(f,
          s"$app\t${System.currentTimeMillis() + ttlMillis}"
            .getBytes("UTF-8")))
        return
      fenceOwner(path) match {
        case Some((o, _)) if o == app => // re-entrant refresh
          CommitStores.get.replace(f,
            s"$app\t${System.currentTimeMillis() + ttlMillis}"
              .getBytes("UTF-8"))
          return
        case Some((o, exp)) if exp > System.currentTimeMillis() =>
          throw new java.util.ConcurrentModificationException(
            s"$path is already fenced by '$o'")
        case _ => CommitStores.get.delete(f) // expired or torn: clear
      }
      attempts += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"could not fence $path after $attempts attempts")
  }

  private[graft] def hardenFence(path: String, app: String): Unit = {
    require(fenceOwner(path).exists(_._1 == app),
      s"$path fence not owned by '$app'")
    // through the store's atomic swap (not a raw write): a reader must
    // never see a torn fence, on ANY backend
    CommitStores.get.replace(fenceFile(path),
      s"$app\t${Long.MaxValue}".getBytes("UTF-8"))
  }

  private[graft] def releaseFence(path: String, app: String): Unit =
    if (fenceOwner(path).exists(_._1 == app))
      CommitStores.get.delete(fenceFile(path))

  /** The bucket spec `(column, numBuckets)` recorded at `v`, if the
    * table was created bucketed. */
  def bucketSpecOf(path: String, v: Int): Option[(String, Int)] =
    if (!hasVersion(path, v)) None
    else manifestLines(path, v).find(_.startsWith(BucketHeader)).map { l =>
      val p = l.stripPrefix(BucketHeader).split("\t")
      (p(0), p(1).toInt)
    }

  private def partFileIndex(name: String): Int = {
    val m = java.util.regex.Pattern.compile("^part-(\\d+)-").matcher(name)
    require(m.find(), s"graft: unexpected staged file name '$name' " +
      "(cannot derive its bucket id from the writer partition index)")
    m.group(1).toInt
  }

  /** Stage `df`'s rows as `v{vNext}_…` data files under `path` and
    * return their paths and stat lines — the one data-staging body every
    * write path shares. The stat lines come from the write itself
    * ([[stageFiles]]): no job re-reads the staged files. When `bucket`
    * is set, rows are hash-routed into exactly `n` writer partitions with Spark's bucket-id expression
    * (`repartition(n, col)` plans HashPartitioning, whose
    * partitionIdExpression is the same pmod(murmur3(col), n) the
    * bucketed READ assumes), sorted within buckets, and each staged
    * file is renamed to carry Spark's `_NNNNN` bucket tag (inserted
    * before the first extension dot, the bucketed-write file-name
    * convention) derived from its writer task's partition index. */
  private def stageData(spark: SparkSession, df: DataFrame,
      outSchema: Option[StructType], path: String, vNext: Int,
      bucket: Option[(String, Int)], namePart: String = "")
      : (Seq[String], Seq[String]) = {
    val routed = bucket match {
      case Some((c, n)) =>
        df.repartition(n, col(s"`$c`")).sortWithinPartitions(col(s"`$c`"))
      case None => df
    }
    stageWithStats(spark, stagedFrame(routed, outSchema), path) { base =>
      val tagged = bucket match {
        case Some(_) =>
          val tag = org.apache.spark.sql.GraftSqlBridge
            .bucketIdToString(partFileIndex(base))
          val dot = base.indexOf('.')
          base.substring(0, dot) + tag + base.substring(dot)
        case None => base
      }
      s"v${vNext}_$namePart$tagged"
    }
  }

  /** Stage `df` as data files under `dst` ([[stageFiles]]); returns
    * their paths and the stat lines their own write recorded. */
  private def stageWithStats(spark: SparkSession, df: DataFrame, dst: String)(
      name: String => String): (Seq[String], Seq[String]) = {
    val spec = StatSpec.data(spark, df.schema)
    val staged = stageFiles(df, dst, spec)(name)
    (staged.map(_._1), staged.flatMap { case (f, w) => writtenLines(canonical(f), spec, w) })
  }

  /** Version 0 from `df` where `path` holds no table yet: `df` staged
    * as `v0_{namePart}…` files with the stats of their own write, and
    * parquet already in `path` adopted as [[init]] adopts it (only
    * adopted files pay the stats scan), committed with `marks`. */
  private def bootstrap(spark: SparkSession, path: String, df: DataFrame,
      namePart: String, marks: Seq[(String, Long)]): Int = {
    Files.createDirectories(Paths.get(path))
    val adopted = listDir(Paths.get(path)).map(_.toString).filter(_.endsWith(".parquet"))
    val (staged, stagedStats) = stageWithStats(spark, df, path)(n => s"v0_$namePart$n")
    val schema =
      if (adopted.isEmpty) org.apache.spark.sql.GraftSqlBridge.asNullable(df.schema)
      else spark.read.parquet(adopted ++ staged: _*).schema
    commit(path, adopted ++ staged, Some(schema),
      statsLines(spark, adopted, schema) ++ stagedStats, txn = marks)
  }

  /** Version 0 of a table graft fills itself ([[bootstrap]]) — parquet
    * a crashed earlier attempt left in `path` (written, never
    * committed) is cleared, not adopted. */
  private[graft] def initWritten(spark: SparkSession, path: String, df: DataFrame,
      marks: Seq[(String, Long)]): Int = {
    require(currentVersion(path) < 0, s"$path already versioned")
    if (Files.isDirectory(Paths.get(path)))
      listDir(Paths.get(path)).filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(Files.deleteIfExists(_))
    bootstrap(spark, path, df, "", marks)
  }

  /** A50 — create a BUCKETED versioned table: the bootstrap routes
    * `df` through the bucket hash once, and every later write path
    * preserves the layout (see [[stageData]]). The spec is fixed at
    * creation — re-bucketing is a new table (Spark's own bucketed
    * tables have the same contract). */
  def writeBucketedVersioned(spark: SparkSession, path: String,
      df: DataFrame, bucketCol: String, numBuckets: Int,
      changeDataFeed: Boolean = false): Int = {
    require(currentVersion(path) < 0,
      s"$path already versioned — the bucket layout is fixed at creation")
    require(df.columns.contains(bucketCol),
      s"graft: bucket column '$bucketCol' not in ${df.columns.mkString(", ")}")
    require(numBuckets > 0 && numBuckets <= 100000,
      s"graft: numBuckets $numBuckets out of range (1..100000)")
    Files.createDirectories(Paths.get(path))
    val (staged, stats) =
      stageData(spark, df, None, path, 0, Some((bucketCol, numBuckets)))
    commit(path, staged, Some(df.schema), stats,
      cdfFlag = changeDataFeed,
      bucketOverride = Some((bucketCol, numBuckets)))
  }

  /** The indexed columns and their bits-per-row in force at `v` (one
    * `#bloomcol=` line per column — r8 made the property plural; a
    * table indexed before then simply has one line). */
  private[graft] def bloomColsOf(path: String, v: Int): Seq[(String, Int)] =
    if (!hasVersion(path, v)) Seq.empty
    else parseBloomCols(manifestLines(path, v))

  /** Bloom sidecar files referenced at `v` (accumulated; entries for
    * retired data files are inert). */
  private[graft] def bloomIdxFiles(path: String, v: Int): Seq[String] =
    if (!hasVersion(path, v)) Seq.empty
    else manifestLines(path, v)
      .filter(_.startsWith(BloomIdxHeader)).map(_.stripPrefix(BloomIdxHeader))

  /** Build one bloom SIDECAR for `files` on `column` and stage it into
    * the table dir under version-`vNext` naming; returns the refs
    * (empty when nothing to index). Fully distributed: bit positions
    * explode per row, per-64-bit-word OR-aggregation, array assembly —
    * the driver never holds a bitset. */
  private def stageBloomSidecar(spark: SparkSession, path: String, vNext: Int,
      files: Seq[String], column: String, bitsPerRow: Int): Seq[String] = {
    if (files.isEmpty) return Seq.empty
    val df = spark.read.parquet(files: _*)
    if (!df.columns.contains(column)) return Seq.empty
    // r12: STRING columns index the xxhash64 of the value (the probe
    // side hashes its literal identically, plan-time and point-lookup
    // alike) — a hash collision is one more false positive, never a
    // false negative, so skipping stays sound; integral columns keep
    // indexing the raw value
    val keyExpr =
      if (df.schema(column).dataType == org.apache.spark.sql.types.StringType)
        xxhash64(col(s"`$column`"))
      else col(s"`$column`").cast("long")
    val rows = df.select(input_file_name().as("file"), keyExpr.as("__k"))
      .filter(col("__k").isNotNull)
    // filter size per file, computed AS LONG and validated before the
    // int-positioned kernel sees it: at the default 10 bits/row a file
    // beyond ~214 M rows would overflow Int and produce a negative (or
    // silently wrapped, mis-sized) m — fail loudly here instead. The
    // per-file sizes are collected once (|staged files| rows, bounded
    // by the commit like the statsLines collect) and re-issued as a
    // broadcastable local relation for the join.
    import spark.implicits._
    val sizedRows: Array[(String, Long)] =
      rows.groupBy("file").agg(count(lit(1)).as("__n"))
        .select(col("file"),
          (ceil(greatest(col("__n") * bitsPerRow, lit(64)) / 64.0) * 64)
            .cast("long").as("mL"))
        .as[(String, Long)].collect()
    sizedRows.find(_._2 > Int.MaxValue).foreach { case (f, m) =>
      throw new IllegalArgumentException(
        s"bloom filter for $f needs $m bits (> Int.MaxValue); " +
          "lower bitsPerRow or split the file before indexing")
    }
    val sized = sizedRows.map { case (f, m) => (f, m.toInt) }.toSeq
      .toDF("file", "m")
    val posCol = graft.functions.bloom_positions(col("__k"), col("m"))
    val words = rows.join(sized, "file")
      .select(col("file"), col("m"), explode(posCol).as("p"))
      .select(col("file"), col("m"), (col("p") / 64).cast("int").as("w"),
        expr("shiftleft(1L, p % 64)").as("b"))
      .groupBy("file", "m", "w").agg(bit_or(col("b")).as("word"))
    // assemble each file's dense bitset imperatively in ONE pass over
    // its set words (mapGroups). The declarative formulation —
    // map_from_entries + transform(sequence)(element_at) — was
    // measured QUADRATIC in filter size: element_at on a map is a
    // linear scan, so an m-bit filter cost O((m/64)²) and the 10×
    // sweep blew up 14×. One group per FILE, entries ≤ m/64: linear.
    import spark.implicits._
    val sidecar = words
      .select(col("file"), col("m"), col("w"), col("word"))
      .as[(String, Int, Int, Long)]
      .groupByKey(_._1)
      .mapGroups { (f, it) =>
        var arr: Array[Long] = null
        it.foreach { case (_, m, w, word) =>
          if (arr == null) arr = new Array[Long](m / 64)
          arr(w) |= word
        }
        (f, arr)
      }
      .toDF("file", "bits")
      .select(col("file"), lit(column).as("col"), col("bits"))
    stageFiles(sidecar, path, StatSpec.RowsOnly)(n => s"v${vNext}_bloom_$n").map(_._1)
  }

  /** Sidecar refs for `staged` when the table's bloom property is on —
    * one sidecar build per indexed column (the ingest writers call
    * this beside their data staging). */
  private def maybeBloom(spark: SparkSession, path: String, baseV: Int,
      staged: Seq[String]): Seq[String] =
    bloomColsOf(path, baseV).flatMap { case (c, bpr) =>
      stageBloomSidecar(spark, path, baseV + 1, staged, c, bpr)
    }

  /** A41 — add a bloom index on `column` (integral-typed): indexes the
    * EXISTING live files (the one-time scan, like addConstraint) and
    * records the property so every later merge/update/overwrite
    * indexes its staged files automatically. Returns the new version.
    */
  def addBloomIndex(spark: SparkSession, path: String, column: String,
      bitsPerRow: Int = 10): Int = {
    val v = headOf(path)
    require(!bloomColsOf(path, v).exists(_._1 == column),
      s"bloom index already on '$column'")
    require(bitsPerRow >= 2 && bitsPerRow <= 64, "bitsPerRow in [2, 64]")
    val live = liveFiles(path, v)
    // integral columns index the raw value, STRING columns (r12) the
    // xxhash64 of the value — anything else (decimal/float/nested)
    // would cast-null or has no stable key form, committing a partial
    // (or empty) index with the property still set — later point
    // lookups would degrade to full scans with no signal. Refuse those
    // up front.
    tableSchema(path, v).orElse(
      if (live.isEmpty) None else Some(spark.read.parquet(live: _*).schema))
      .foreach { schema0 =>
        val field = schema0.fields.find(_.name == column).getOrElse(
          throw new IllegalArgumentException(
            s"bloom column '$column' not in table schema " +
              schema0.fieldNames.mkString(", ")))
        import org.apache.spark.sql.types._
        require(Seq[DataType](ByteType, ShortType, IntegerType, LongType,
            StringType).contains(field.dataType),
          s"bloom index needs an integral or string column; '$column' is " +
            field.dataType.simpleString)
      }
    val refs = stageBloomSidecar(spark, path, v + 1, live, column, bitsPerRow)
    commitNext(path, v, live, tableSchema(path, v),
      carriedStats(path, v, live), dvEntries(path, v), cdf = Some(Seq.empty),
      bloomColsOverride = Some(bloomColsOf(path, v) :+ (column, bitsPerRow)),
      bloomExtra = refs)
  }

  /** Rebuild bloom entries for live files that have NONE (rewrite
    * outputs of compact/zorder, published branch files): skipping is
    * restored without touching already-indexed files. Returns the new
    * version (current if nothing to do). */
  def reindexBloom(spark: SparkSession, path: String): Int = {
    val v = headOf(path)
    val cols = bloomColsOf(path, v)
    require(cols.nonEmpty, s"$path has no bloom index")
    val live = liveFiles(path, v).map(canonical)
    val refs = bloomIdxFiles(path, v)
    // (col, file) pairs already indexed — one small sidecar read
    val indexed: Set[(String, String)] =
      if (refs.isEmpty) Set.empty
      else spark.read.parquet(refs: _*)
        .select("col", "file").distinct().collect()
        .map(r => (r.getString(0), canonical(r.getString(1)))).toSet
    val extra = cols.flatMap { case (column, bpr) =>
      val missing = live.filterNot(f => indexed.contains((column, f)))
      if (missing.isEmpty) Seq.empty
      else stageBloomSidecar(spark, path, v + 1, missing, column, bpr)
    }
    if (extra.isEmpty) return v
    commitDml(path, v)(bloom = extra)
  }

  /** A41 — POINT LOOKUP with bloom file skipping: read exactly the
    * live rows where `column = value`, scanning only files whose bloom
    * filter might contain the value (plus any unindexed files — a
    * missing entry keeps its file, so the answer is always exact).
    * The probe is a distributed filter over the sidecar relation; the
    * driver sees per-file VERDICTS only.
    */
  def readPointLookup(spark: SparkSession, path: String, column: String,
      value: Any, version: Int = -1): DataFrame = {
    val v = if (version < 0) currentVersion(path) else version
    require(hasVersion(path, v), s"no version $v at $path")
    val live = liveFiles(path, v)
    val pred = col(s"`$column`") === value
    val onCol = bloomColsOf(path, v).exists(_._1 == column)
    val refs = bloomIdxFiles(path, v)
    if (!onCol || refs.isEmpty || live.isEmpty)
      return read(spark, path, v).filter(pred)
    // r12: string indexes carry xxhash64(value) — hash the probe the
    // same way (the exact codegen'd function the build side ran)
    val probe = value match {
      case _: String => xxhash64(lit(value))
      case _ => lit(value)
    }
    val verdicts = spark.read.parquet(refs: _*)
      .filter(col("col") === column)
      .select(col("file"), graft.functions.bloom_row_might_contain(
        col("bits"), probe).as("hit"))
      .collect().map(r => canonical(r.getString(0)) -> r.getBoolean(1)).toMap
    val keep = live.filter { f =>
      verdicts.getOrElse(canonical(f), true) // unindexed file: keep
    }
    if (keep.isEmpty) readLive(spark, path, v, live).filter(pred).limit(0)
    else readLive(spark, path, v, keep.toIndexedSeq).filter(pred)
  }

  /** A41 — BATCHED point lookup (r15, the r14 verdict's item 7): one
    * IN-list = ONE distributed verdict job over the sidecar relation
    * (a file survives if its filter might contain ANY of the values)
    * and ONE pruned read — the shape a user asking for several keys
    * actually wants, instead of a job submission per value. Exactness
    * as in [[readPointLookup]] (unindexed files always survive). */
  def readPointLookupIn(spark: SparkSession, path: String, column: String,
      values: Seq[Any], version: Int = -1): DataFrame = {
    require(values.nonEmpty, "readPointLookupIn: empty value list")
    val v = if (version < 0) currentVersion(path) else version
    require(hasVersion(path, v), s"no version $v at $path")
    val live = liveFiles(path, v)
    val pred = col(s"`$column`").isin(values: _*)
    val onCol = bloomColsOf(path, v).exists(_._1 == column)
    val refs = bloomIdxFiles(path, v)
    if (!onCol || refs.isEmpty || live.isEmpty)
      return read(spark, path, v).filter(pred)
    def probe(value: Any) = value match {
      case _: String => xxhash64(lit(value))
      case _ => lit(value)
    }
    val hitAny = values.map(x => graft.functions.bloom_row_might_contain(
      col("bits"), probe(x))).reduce(_ || _)
    val verdicts = spark.read.parquet(refs: _*)
      .filter(col("col") === column)
      .select(col("file"), hitAny.as("hit"))
      .collect().map(r => canonical(r.getString(0)) -> r.getBoolean(1)).toMap
    val keep = live.filter(f => verdicts.getOrElse(canonical(f), true))
    if (keep.isEmpty) readLive(spark, path, v, live).filter(pred).limit(0)
    else readLive(spark, path, v, keep.toIndexedSeq).filter(pred)
  }

  /** Did version `v`'s commit record its change set? */
  private[graft] def cdfRecorded(path: String, v: Int): Boolean =
    manifestLines(path, v)
      .exists(l => l == CdfOkHeader || l.startsWith(CdfHeader))

  /** Stored change-data parquet files of version `v`'s commit. */
  private[graft] def cdfFilesOf(path: String, v: Int): Seq[String] =
    manifestLines(path, v)
      .filter(_.startsWith(CdfHeader)).map(_.stripPrefix(CdfHeader))

  /** Read `files` under `schema` WITH the per-row identity the DV
    * machinery keys on: `__file` = the scan's `_metadata.file_path`
    * rendering, `__pos` = `_metadata.row_index`. Column mapping applies
    * exactly as in [[readFilesAs]].
    */
  private def readFilesAsWithPos(spark: SparkSession,
      schema: Option[org.apache.spark.sql.types.StructType],
      files: Seq[String]): DataFrame = {
    val meta = Seq(col("_metadata.file_path").as("__file"),
      col("_metadata.row_index").as("__pos"))
    schema match {
      case Some(s) if hasMapping(s) =>
        spark.read.schema(toPhysical(s)).parquet(files: _*)
          .select(s.fields.toIndexedSeq.map(f =>
            col(physicalName(f)).as(f.name, f.metadata)) ++ meta: _*)
      case Some(s) =>
        spark.read.schema(s).parquet(files: _*)
          .select(s.fields.toIndexedSeq.map(f => col(f.name)) ++ meta: _*)
      case None =>
        spark.read.parquet(files: _*).select(col("*") +: meta: _*)
    }
  }

  /** Drop from `withPos` (a [[readFilesAsWithPos]] frame) every row the
    * DV sidecars `dvs` mark dead, keeping `__file`/`__pos`. Not forced
    * broadcast: a massive accumulated DV must be allowed to
    * shuffle-anti-join; Spark broadcasts the usual small case on its
    * own. */
  private def applyDv(spark: SparkSession, withPos: DataFrame,
      dvs: Seq[String]): DataFrame =
    if (dvs.isEmpty) withPos
    else {
      val dv = readDv(spark, dvs)
      withPos.join(dv,
        withPos("__file") === dv("__dv_file") && withPos("__pos") === dv("__dv_pos"),
        "left_anti")
    }

  /** Read `files` as LIVE at version `v`: under `v`'s recorded schema,
    * with `v`'s deletion vectors applied. Every consumer that means
    * "the rows of these files as the table sees them" — read, merge
    * rewrite, delete rewrite, compaction, re-clustering — must come
    * through here, or DV-deleted rows resurrect in the rewrite.
    */
  private[sources] def readLive(spark: SparkSession, path: String, v: Int,
      files: Seq[String]): DataFrame = {
    val dvs = dvFiles(path, v)
    if (dvs.isEmpty) readUnder(spark, path, v, files)
    else applyDv(spark, readFilesAsWithPos(spark, tableSchema(path, v), files), dvs)
      .drop("__file", "__pos")
  }

  /** The physical name of logical column `name` at version `v`. */
  private[sources] def physicalOf(path: String, v: Int, name: String): String =
    tableSchema(path, v).flatMap(_.fields.find(_.name == name))
      .map(physicalName).getOrElse(name)

  /** Manifest-only per-file [min, max] of logical `column` at `v`, as
    * (file, minStr, maxStr, typeTag) — None unless EVERY live file has
    * the stat (partial coverage must not silently unprune). A file
    * recorded with 0 rows holds no key: it has no range and needs none
    * (Spark always writes partition 0's file, so a commit can stage
    * one). */
  private def manifestRanges(path: String, v: Int, live: Seq[String],
      column: String): Option[Seq[(String, String, String, String)]] = {
    val phys = physicalOf(path, v, column)
    val stats = fileStats(path, v)
    val empty = fileRows(path, v).collect { case (f, 0L) => f }.toSet
    val rows = live.map(canonical).filterNot(empty).map { f =>
      stats.get(f).flatMap(_.get(phys)).map { case (t, mn, mx) => (f, mn, mx, t) }
    }
    if (rows.forall(_.isDefined)) Some(rows.flatten) else None
  }

  /** r12: manifest key ranges decoded TAG-AWARE into a broadcastable
    * (file, kmin, kmax) frame typed as `keyType` — the shared input of
    * every merge/keyed-delete file-discovery semi-join. A bound the tag
    * cannot decode exactly (truncated string stats, the '*' sentinel, a
    * tag foreign to the key's type) decodes to NULL, and the range
    * condition ([[keyRangeCond]]) treats a NULL bound as "may hold any
    * key" — conservatively touched, never skipped. Before r12 the
    * bounds were cast blind (`cast(keyType)`), which was only correct
    * for the L/D tags that existed then; a micros-long cast to
    * timestamp via STRING parsing would null out and silently skip
    * files holding matches. */
  private def keyRangeFrame(spark: SparkSession,
      rows: Seq[(String, String, String, String)],
      keyType: org.apache.spark.sql.types.DataType): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val df = rows.toDF("file", "__mns", "__mxs", "__tag")
    def dec(s: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      keyType match {
        case TimestampType =>
          when(col("__tag") === "T", timestamp_micros(s.cast("long")))
        // NTZ: no builtin reconstructs an NTZ from raw micros without
        // routing through the session timezone — decode to NULL, the
        // conservative always-touched verdict (an NTZ-keyed merge is
        // rare enough that correctness beats the skipped stat)
        case TimestampNTZType => lit(null).cast(TimestampNTZType)
        case DateType =>
          when(col("__tag") === "A", date_from_unix_date(s.cast("int")))
        case StringType =>
          when(col("__tag") === "S" && !s.endsWith("~") &&
            s =!= StringStatNoMax, decode(unbase64(s), "UTF-8"))
        case _ =>
          when(col("__tag").isin("L", "D", "C"), s.cast(keyType))
      }
    df.select(col("file"), dec(col("__mns")).as("kmin"),
      dec(col("__mxs")).as("kmax"))
  }

  /** Key `k` may live in [kmin, kmax] — NULL bounds keep the file. */
  private def keyRangeCond(k: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    col("kmin").isNull || col("kmax").isNull ||
      (k >= col("kmin") && k <= col("kmax"))

  // ── r16: ONE action per merge or key-delete batch answers the
  // duplicate-key refusal, the batch row count AND candidate-file
  // discovery ───────────────────────────────────────────────────────
  // The r15 merge paths spent two actions here per commit (a
  // groupBy-count dup probe + a stats semi-join collect); at bench
  // scale each action is ~60–200 ms of fixed driver latency, and at
  // 100 TB each is a full scheduling round-trip. The summary brings
  // the distinct LEADING key values to the driver, and file discovery
  // becomes a driver-side walk of the manifest ranges it already had
  // in hand. The driver holds at most the key budget (the compare
  // budget over the live file count): past it the keys stay on the
  // executors (`overBudget`) and discovery takes the distributed join.

  private[graft] case class BatchKeySummary(
      nRows: Long, hasDupTuples: Boolean,
      leadKeys: Array[Any], leadJudgeable: Boolean,
      overBudget: Boolean = false)

  /** The leading key projected to its INTERNAL stats form (micros/days
    * for T/A — the form [[GraftFileIndex.bounds]] compares), plus
    * whether that form can be judged against manifest ranges at all.
    * Not judgeable (NTZ, exotic types) matches [[keyRangeFrame]]'s
    * NULL-decode: every file stays touched. */
  private def leadInternalOf(leadKey: String,
      keyType: org.apache.spark.sql.types.DataType)
      : (org.apache.spark.sql.Column, Boolean) = {
    import org.apache.spark.sql.types._
    keyType match {
      case TimestampType => (unix_micros(col(s"`$leadKey`")), true)
      case DateType => (unix_date(col(s"`$leadKey`")), true)
      case TimestampNTZType => (lit(null), false)
      case _: NumericType | StringType | BooleanType =>
        (col(s"`$leadKey`"), true)
      case _ => (lit(null), false)
    }
  }

  /** The batch key summary of a flat table's merge or key delete:
    * [[keySummaries]] under one routing value. Past `maxKeys`, an
    * aggregate answers the duplicate verdict and the summary is
    * [[BatchKeySummary.overBudget]]. */
  private def batchKeySummary(ups: DataFrame, keyCols: Seq[String],
      keyType: org.apache.spark.sql.types.DataType, maxKeys: Long): BatchKeySummary = {
    val judgeable = leadInternalOf(keyCols.head, keyType)._2
    keySummaries(ups, lit(null).cast("string"), keyCols, keyType, maxKeys) match {
      case (_, _, Some(m)) => m.getOrElse(null, BatchKeySummary(0L, false, Array.empty, judgeable))
      case (_, nRows, None) =>
        val dup = ups.groupBy(keyCols.map(c => col(s"`$c`")): _*).count()
          .filter(col("count") > 1L).limit(1).collect().nonEmpty
        BatchKeySummary(nRows, dup, Array.empty, judgeable, overBudget = true)
    }
  }

  /** One job over the batch: each partition counts its (routing value,
    * key TUPLE) pairs in place (float keys normalized as a grouping
    * normalizes them), and the driver merges the per-partition counts
    * as they arrive — max count > 1 ⟺ duplicate tuples — so no shuffle
    * stage runs. `value` is a string column: the partition router's
    * routing value ([[PartitionedSnapshots.route]]), a NULL literal for
    * a flat table. At most `maxKeys + 1` pairs are held per partition
    * or in the merge: past `maxKeys` the counts are dropped and the
    * summaries are None. Returns the routing values seen (held
    * whatever the budget: bounded by the layout's partition count), the
    * batch's rows, and per value its summary; lead keys are the tuples'
    * leading key in its internal stats form. */
  private[sources] def keySummaries(ups: DataFrame, value: Column, keyCols: Seq[String],
      keyType: org.apache.spark.sql.types.DataType, maxKeys: Long)
      : (Set[String], Long, Option[Map[String, BatchKeySummary]]) = {
    import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
    import org.apache.spark.unsafe.types.UTF8String
    import scala.collection.mutable
    val (leadInternal, judgeable) = leadInternalOf(keyCols.head, keyType)
    val keys = ups.select(value.as("__p") +: leadInternal.as("__k") +:
      keyCols.map(c => col(s"`$c`")): _*)
    val attrs = keys.queryExecution.analyzed.output
    val normalized = attrs.map(org.apache.spark.sql.GraftSqlBridge.normalizeFloats)
    val cap = math.min(maxKeys, Int.MaxValue - 1L).toInt
    val counts = new java.util.HashMap[UnsafeRow, java.lang.Long]
    val values = mutable.HashSet.empty[UTF8String]
    var nRows = 0L
    var over = false
    ups.sparkSession.sparkContext.runJob(keys.queryExecution.toRdd,
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
        val norm = UnsafeProjection.create(normalized, attrs)
        val m = new java.util.HashMap[UnsafeRow, java.lang.Long]
        val vs = mutable.HashSet.empty[UTF8String]
        var n = 0L
        var full = false
        it.foreach { r =>
          n += 1
          val p = r.getUTF8String(0)
          if (!vs.contains(p)) vs += (if (p == null) null else p.clone())
          if (!full) {
            m.merge(norm(r).copy(), 1L, (a, b) => a + b)
            if (m.size > cap) { full = true; m.clear() }
          }
        }
        (n, full, vs.toArray, m.asScala.toArray.map { case (k, c) => (k, c.longValue) })
      },
      (_: Int, part: (Long, Boolean, Array[UTF8String], Array[(UnsafeRow, Long)])) =>
        counts.synchronized {
          nRows += part._1
          values ++= part._3
          over ||= part._2
          if (!over) part._4.foreach { case (k, c) => counts.merge(k, c, (a, b) => a + b) }
          if (over || counts.size > cap) { over = true; counts.clear() }
        })
    val leadType = attrs(1).dataType
    val toLead = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(leadType)
    // per value: (rows, max tuple count) and the distinct lead keys
    val per = mutable.HashMap.empty[String, (Array[Long], mutable.HashSet[Any])]
    if (!over) counts.forEach { (k, c) =>
      val (n, leads) = per.getOrElseUpdate(if (k.isNullAt(0)) null
        else k.getUTF8String(0).toString, (Array(0L, 0L), mutable.HashSet.empty[Any]))
      n(0) += c; n(1) = math.max(n(1), c)
      if (judgeable) leads += toLead(k.get(1, leadType))
    }
    (values.map(v => if (v == null) null else v.toString).toSet, nRows,
      if (over) None
      else Some(per.map { case (p, (n, leads)) =>
        p -> BatchKeySummary(n(0), n(1) > 1L, leads.toArray, judgeable) }.toMap))
  }

  /** Stat tags a key of `keyType` can be judged against — exactly the
    * tags [[keyRangeFrame]] decodes for that type (foreign tags keep
    * the file there via NULL bounds, here via "not judgeable"). */
  private def judgeableTags(keyType: org.apache.spark.sql.types.DataType)
      : Set[String] = {
    import org.apache.spark.sql.types._
    keyType match {
      case TimestampType => Set("T")
      case DateType => Set("A")
      case StringType => Set("S")
      case _: NumericType => Set("L", "D", "C")
      case _ => Set.empty
    }
  }

  /** Driver-side candidate-file discovery: keep every file whose
    * recorded [lo, hi] may contain SOME batch key (tag-aware compare,
    * [[GraftFileIndex.bounds]]); an unjudgeable bound or key keeps the
    * file — [[keyRangeCond]]'s NULL semantics. None when the walk
    * would be too expensive single-threaded (falls back to the
    * distributed semi-join) or the key type is unjudgeable with a
    * NON-empty key set unavailable. */
  private def touchedByRanges(ranges: Seq[(String, String, String, String)],
      keyType: org.apache.spark.sql.types.DataType,
      summary: BatchKeySummary,
      maxCompares: Long): Option[IndexedSeq[String]] = {
    if (!summary.leadJudgeable)
      return Some(ranges.map(r => canonical(r._1)).toIndexedSeq)
    if (summary.overBudget || ranges.length.toLong *
        math.max(summary.leadKeys.length, 1) > maxCompares) return None
    val tags = judgeableTags(keyType)
    Some(ranges.iterator.collect {
      case (f, mn, mx, t)
          if !tags.contains(t) || // foreign tag: may hold any key
            summary.leadKeys.exists { k =>
              GraftFileIndex.bounds(Map("__k" -> ((t, mn, mx))), "__k", k)
                .forall { case (sLo, sHi) => sLo <= 0 && sHi >= 0 }
            } =>
        canonical(f)
    }.toIndexedSeq)
  }

  /** The per-commit compare budget for driver-side file discovery;
    * beyond it the distributed stats semi-join takes over (a huge
    * batch × a huge live set is executor work, not driver work). */
  private[sources] def plannerTouchedMaxCompares(spark: SparkSession): Long =
    spark.conf.get("spark.graft.merge.plannerTouched.maxCompares",
      "8000000").toLong

  /** The most lead keys a batch key summary collects for a walk over
    * `live`'s ranges: the compare budget per live file. */
  private def keyBudget(spark: SparkSession, live: Seq[String]): Long =
    plannerTouchedMaxCompares(spark) / math.max(live.size, 1)

  /** Counts observed on a materializing action (r16: CollectMetrics
    * accumulators ride the merge checkpoint job via `observe()`, so
    * the emptiness/cardinality probes stop being a job of their own).
    * The listener publishing them is ASYNC: poll (up to 10 s) after the
    * action, then fall back to `recompute` — one plain aggregate over
    * the already-materialized frame; never wrong, at worst one extra
    * cheap job on a listener hiccup. */
  private[graft] def observedCounts(obs: Observation,
      names: Seq[String], recompute: () => Seq[Long]): Seq[Long] = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var m = org.apache.spark.sql.GraftSqlBridge.observedOrEmpty(obs)
    while (m.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(2)
      m = org.apache.spark.sql.GraftSqlBridge.observedOrEmpty(obs)
    }
    if (m.nonEmpty) names.map(n => m(n).asInstanceOf[Long]) else recompute()
  }

  /** May a file with recorded (tag, mn, mx) intersect the LONG range
    * [lo, hi]? Integral-valued tags (L, and r12's micros/days T/A)
    * compare exactly as longs; D/C through double (NaN keeps — it
    * compares falsy both ways); string tags and anything unparseable
    * conservatively answer true (a Long range cannot judge them). */
  private def numericStatInRange(t: String, mn: String, mx: String,
      lo: Long, hi: Long): Boolean = t match {
    case "L" | "T" | "A" =>
      (for (a <- mn.toLongOption; b <- mx.toLongOption)
        yield !(b < lo || a > hi)).getOrElse(true)
    case "D" | "C" =>
      (for (a <- mn.toDoubleOption; b <- mx.toDoubleOption)
        yield !(b < lo || a > hi)).getOrElse(true)
    case _ => true
  }

  /** Earliest version whose manifest is still retained (vacuum drops
    * old manifests), i.e. the furthest back time travel reaches. */
  private[graft] def earliestVersion(path: String): Int = {
    val dir = logDir(path)
    require(Files.isDirectory(dir), s"$path not initialized")
    val vs = listDir(dir).map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".manifest") =>
        s.stripPrefix("v").stripSuffix(".manifest").toInt }
    require(vs.nonEmpty, s"$path not initialized")
    vs.min
  }

  /** A23 — open the change feed as an incremental stream: one batch
    * per committed version, checkpoint-resumable. See
    * [[graft.streaming.ChangeFeed]].
    */
  def readChangesStream(spark: SparkSession, path: String, keyCol: String,
      checkpointDir: String): graft.streaming.ChangeFeed.Feed =
    graft.streaming.ChangeFeed.open(spark, path, keyCol, checkpointDir)

  // Pure line parsers of the self-carrying properties, so commitAt
  // reads the previous manifest exactly once (the path-based
  // accessors above remain for external callers that want one field).
  private def parseConstraints(lines: Seq[String]): Seq[(String, String)] =
    lines.filter(_.startsWith(ConstraintHeader))
      .map(_.stripPrefix(ConstraintHeader).split("\t", 2))
      .collect { case Array(n, e) => (n, e) }
  /** The clustering state recorded at `v`: the ZORDER columns and the
    * still-live clustered files (A39's incremental-tail bookkeeping). */
  private[graft] def clusterStateOf(path: String, v: Int): Option[(Seq[String], Seq[String])] =
    if (!hasVersion(path, v)) None
    else {
      val lines = manifestLines(path, v)
      parseCluster(lines).map(c => (c, parseClusterFiles(lines).toSeq.sorted))
    }

  /** Publish support (A37×A41): rows of `branchRefs` sidecars rewritten
    * for the publish remap — entries for hard-linked branch files move
    * under their main-path names, entries for still-borrowed files keep
    * their paths, everything else (already covered by main's own
    * carried sidecars) drops. Staged as a fresh sidecar under
    * `mainPath`; returns the refs. Cost: sidecar-sized (the branch's
    * new files), zero data files opened. */
  private[sources] def remappedBloomSidecar(spark: SparkSession, mainPath: String,
      vNext: Int, branchRefs: Seq[String], remap: Map[String, String],
      keep: Set[String]): Seq[String] = {
    if (branchRefs.isEmpty) return Seq.empty
    import spark.implicits._
    val remapB = spark.sparkContext.broadcast(remap)
    val keepB = spark.sparkContext.broadcast(keep)
    // localCheckpoint so the emptiness probe and the write are ONE
    // pass over the sidecars, not two
    val rows = spark.read.parquet(branchRefs: _*)
      .select("file", "col", "bits").as[(String, String, Array[Long])]
      .flatMap { case (f, c, bits) =>
        val cf = canonical(f)
        remapB.value.get(cf).map(nf => (nf, c, bits))
          .orElse(if (keepB.value.contains(cf)) Some((cf, c, bits)) else None)
      }
      .toDF("file", "col", "bits")
      .localCheckpoint()
    if (rows.isEmpty) return Seq.empty
    stageFiles(rows, mainPath, StatSpec.RowsOnly)(n => s"v${vNext}_bloom_$n").map(_._1)
  }

  private def parseCluster(lines: Seq[String]): Option[Seq[String]] =
    lines.find(_.startsWith(ClusterHeader))
      .map(_.stripPrefix(ClusterHeader).split("\t").toSeq)
      .filter(_.nonEmpty)
  private def parseClusterFiles(lines: Seq[String]): Set[String] =
    lines.filter(_.startsWith(ClusterFileHeader))
      .map(_.stripPrefix(ClusterFileHeader)).toSet
  private def parseBloomCols(lines: Seq[String]): Seq[(String, Int)] =
    lines.filter(_.startsWith(BloomColHeader))
      .map(_.stripPrefix(BloomColHeader).split("\t", 2))
      .collect { case Array(c, b) => (c, b.toInt) }
  private def parseBloomIdx(lines: Seq[String]): Seq[String] =
    lines.filter(_.startsWith(BloomIdxHeader)).map(_.stripPrefix(BloomIdxHeader))

  /** Single manifest write = the commit atom. Content lands fully in a
    * temp file first, which is then HARD-LINKED into place:
    * Files.createLink is content-atomic (a crash mid-write can never
    * leave a truncated vNNNNNN.manifest that currentVersion treats as
    * committed) AND no-replace-atomic (if two committers race to the
    * same version id, the second link fails with
    * FileAlreadyExistsException at the filesystem level instead of
    * silently replacing the winner — a check-then-rename would TOCTOU
    * here, since POSIX rename replaces). A real table format wraps the
    * same publish step in an object-store CAS.
    */
  /** Commit at an EXPLICIT version id; returns false if another
    * committer already owns it. The no-replace hard link is the CAS:
    * losing is detected at the filesystem level, never by a TOCTOU
    * check, so the caller can rebase and retry (OCC) instead of
    * silently publishing a manifest built on a stale base. */
  private[graft] def commitAt(path: String, v: Int, files: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType],
      stats: Seq[String] = Seq.empty,
      dv: Seq[DvEntry] = Seq.empty,
      cdf: Option[Seq[String]] = None,
      cdfFlag: Boolean = false,
      constraintsOverride: Option[Seq[(String, String)]] = None,
      clusterOverride: Option[(Seq[String], Seq[String])] = None,
      bloomColsOverride: Option[Seq[(String, Int)]] = None,
      bloomExtra: Seq[String] = Seq.empty,
      bucketOverride: Option[(String, Int)] = None,
      txn: Seq[(String, Long)] = Seq.empty): Boolean = {
    Files.createDirectories(logDir(path))
    // any v0 commit is a table BIRTH (init, clone bootstrap, branch
    // re-creation after dropBranch): purge the path's cached
    // resolutions so a rebirth colliding with a deleted table's
    // (size, mtime tick) can never serve the old table's lines
    if (v == 0) {
      val root = logDir(path).toAbsolutePath.toString + java.io.File.separator
      manifestCache.keySet.removeIf(_._1.startsWith(root))
    }
    // A56: a live multi-table publish fence blocks EVERY commit path
    // on this table except the owning transaction's own redo publishes
    // (which carry the owner as their txn mark). Pre-COMMIT fences
    // expire (an abandoned begin frees the table); post-COMMIT fences
    // are hardened until the redo completes — GraftTxn.recover().
    fenceOwner(path).foreach { case (owner, expiry) =>
      if (expiry > System.currentTimeMillis() && !txn.exists(_._1 == owner))
        throw new java.util.ConcurrentModificationException(
          s"$path is fenced by multi-table transaction '$owner' until " +
            "its publish completes (GraftTxn.recover() finishes a " +
            "crashed one); retry after the fence clears")
    }
    val target = manifestPath(path, v)
    if (Files.exists(target)) return false
    locally {
      // the PREVIOUS manifest is read ONCE; every self-carrying
      // property parses from the same line buffer (six separate
      // full-file reads per commit measurably taxed the multi-commit
      // staging queries)
      val prev: Seq[String] =
        if (hasVersion(path, v - 1))
          manifestLines(path, v - 1)
        else Seq.empty
      // the enableChangeDataFeed property carries itself forward: any
      // commit over an enabled base stays enabled; constraints (A34)
      // self-carry the same way unless an add/drop overrides them
      val flag =
        if (cdfFlag || prev.contains(CdfEnabledHeader)) Seq(CdfEnabledHeader)
        else Seq.empty
      val cons = constraintsOverride.getOrElse(parseConstraints(prev))
        .map { case (n, e) => ConstraintHeader + n + "\t" + e }
      // A39: clustering state — a ZORDER commit overrides; everyone
      // else carries the columns plus the still-live clustered subset
      val clusterLines = clusterOverride match {
        case Some((cols, fs)) =>
          Seq(ClusterHeader + cols.mkString("\t")) ++
            fs.map(f => ClusterFileHeader + canonical(f)).sorted
        case None => parseCluster(prev) match {
          case Some(cols) =>
            val liveSet = files.map(canonical).toSet
            Seq(ClusterHeader + cols.mkString("\t")) ++
              parseClusterFiles(prev).intersect(liveSet).toSeq.sorted
                .map(ClusterFileHeader + _)
          case None => Seq.empty
        }
      }
      // A41: the bloom property carries itself; sidecar refs accumulate
      // (inert for retired files) plus this commit's new ones
      val bloomLines = {
        val bc = bloomColsOverride.getOrElse(parseBloomCols(prev))
        bc.map(p => BloomColHeader + p._1 + "\t" + p._2) ++
          (parseBloomIdx(prev) ++ bloomExtra).map(canonical)
            .distinct.sorted.map(BloomIdxHeader + _)
      }
      // A50: the bucket spec is immutable table metadata — set once by
      // the bucketed bootstrap, then self-carried by every commit
      val bucketLines = bucketOverride match {
        case Some((c, n)) => Seq(BucketHeader + c + "\t" + n)
        case None => prev.filter(_.startsWith(BucketHeader))
      }
      // A51: per-app txn marks self-carry; a commit tagging (app, ver)
      // replaces that app's line with max(prev, ver) — monotonic even
      // if a caller's pre-check raced a concurrent same-app writer
      val txnLines = txn match {
        case Seq() => prev.filter(_.startsWith(TxnHeader))
        case marks => // several apps may mark ONE commit (A57 join MVs
          // consume two bases atomically); each app keeps its max
          def appOf(l: String) = l.stripPrefix(TxnHeader).takeWhile(_ != '\t')
          val apps = marks.map(_._1).toSet
          prev.filter(l => l.startsWith(TxnHeader) && !apps.contains(appOf(l))) ++
            marks.groupBy(_._1).toSeq.sortBy(_._1).map { case (app, vs) =>
              val prevVer = prev.collectFirst {
                case l if l.startsWith(TxnHeader) && appOf(l) == app =>
                  l.stripPrefix(TxnHeader).split("\t")(1).toLong
              }
              TxnHeader + app + "\t" +
                math.max(vs.map(_._2).max, prevVer.getOrElse(Long.MinValue))
            }
      }
      // commit timestamps must be MONOTONIC in version (Delta adjusts
      // them the same way): with clock skew a later version could
      // record an earlier instant and TIMESTAMP AS OF would resolve to
      // an older version than one already committed at that time
      val prevTs = prev.find(_.startsWith(TsHeader))
        .flatMap(_.stripPrefix(TsHeader).trim.toLongOption)
        .getOrElse(Long.MinValue)
      val ts = math.max(System.currentTimeMillis(), prevTs + 1)
      val lines = Seq(TsHeader + ts) ++
        schema.map(s => SchemaHeader + s.json).toSeq ++
        flag ++ cons ++ clusterLines ++ bloomLines ++ bucketLines ++
        txnLines ++
        cdf.map(fs => Seq(CdfOkHeader) ++
          fs.map(f => CdfHeader + canonical(f)).sorted).getOrElse(Seq.empty) ++
        dv.map(_.line).sorted ++
        stats.sorted ++ files.map(canonical).sorted
      // delta-encode when the diff beats the snapshot: a small commit
      // to a huge table writes O(change), not O(live files). Every
      // CheckpointEvery-th version stays FULL (bounded resolution
      // chains); a line-multiset collision (never produced by the
      // composer above) falls back to full rather than risk a lossy
      // set-diff.
      val content: Seq[String] =
        if (v % CheckpointEvery == 0 || prev.isEmpty) lines
        else {
          val prevSet = prev.toSet
          val newSet = lines.toSet
          if (prevSet.size != prev.size || newSet.size != lines.size) lines
          else {
            val ops = Seq(DeltaBaseHeader + (v - 1)) ++
              prev.filterNot(newSet).map("-" + _) ++
              lines.filterNot(prevSet).map("+" + _)
            if (ops.size < lines.size) ops else lines
          }
        }
      // r13: the version CAS goes through the pluggable CommitStore —
      // the ONLY way a manifest is ever published (the S3 seam)
      val won = CommitStores.get.putIfAbsent(target,
        content.mkString("\n").getBytes("UTF-8"))
      // The fence pre-check above is a separate read from the CAS
      // (TOCTOU): a writer that read the fence as empty can land its
      // manifest AFTER a transaction's under-fence OCC verification,
      // advancing main past the branch base and wedging the redo's
      // fast-forward forever. Close it by RE-reading the fence after
      // winning the CAS and backing the commit out if a live fence
      // owned by someone else appeared: delete the just-linked
      // manifest (the fence blocks every other commit from stacking on
      // top, so it is still the head) and throw retryably. The fenced
      // transaction's OCC check then sees either a base that never
      // moved or a moved base it refuses on — never a silently lost
      // fast-forward.
      if (won) fenceOwner(path).foreach { case (owner, expiry) =>
        if (expiry > System.currentTimeMillis() && !txn.exists(_._1 == owner)) {
          Files.deleteIfExists(target)
          manifestCache.keySet.removeIf(
            _._1 == target.toAbsolutePath.toString)
          throw new java.util.ConcurrentModificationException(
            s"$path was fenced by multi-table transaction '$owner' " +
              "while this commit was in flight; backed out — retry " +
              "after the fence clears")
        }
      }
      won
    }
  }

  private[graft] def commit(path: String, files: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      stats: Seq[String] = Seq.empty,
      dv: Seq[DvEntry] = Seq.empty,
      cdf: Option[Seq[String]] = None,
      cdfFlag: Boolean = false,
      constraintsOverride: Option[Seq[(String, String)]] = None,
      clusterOverride: Option[(Seq[String], Seq[String])] = None,
      bloomColsOverride: Option[Seq[(String, Int)]] = None,
      bloomExtra: Seq[String] = Seq.empty,
      bucketOverride: Option[(String, Int)] = None,
      txn: Seq[(String, Long)] = Seq.empty): Int = {
    val v = currentVersion(path) + 1
    if (!commitAt(path, v, files, schema, stats, dv, cdf, cdfFlag,
        constraintsOverride, clusterOverride, bloomColsOverride, bloomExtra,
        bucketOverride, txn))
      throw new java.nio.file.FileAlreadyExistsException(
        manifestPath(path, v).toString)
    v
  }

  /** CAS commit against the BASE VERSION THE OPERATION READ: lands at
    * base+1 or throws. Every non-rebasing writer (delete, compact,
    * rename, drop) must publish through this, never through [[commit]]
    * — commit() recomputes the head at publish time, so a concurrent
    * winner landing between an operation's read and its publish would
    * have its changes silently DISCARDED by a live set derived from the
    * stale base (a lost update the stress spec catches). Losing here is
    * loud; the caller restages from the new head and retries.
    */
  private[sources] def commitNext(path: String, base: Int, files: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType],
      stats: Seq[String] = Seq.empty,
      dv: Seq[DvEntry] = Seq.empty,
      cdf: Option[Seq[String]] = None,
      cdfFlag: Boolean = false,
      constraintsOverride: Option[Seq[(String, String)]] = None,
      clusterOverride: Option[(Seq[String], Seq[String])] = None,
      bloomColsOverride: Option[Seq[(String, Int)]] = None,
      bloomExtra: Seq[String] = Seq.empty,
      txn: Seq[(String, Long)] = Seq.empty): Int = {
    if (!commitAt(path, base + 1, files, schema, stats, dv, cdf, cdfFlag,
        constraintsOverride, clusterOverride, bloomColsOverride, bloomExtra,
        txn = txn))
      throw new java.nio.file.FileAlreadyExistsException(
        manifestPath(path, base + 1).toString +
          " (concurrent commit won this version; re-read and retry)")
    base + 1
  }

  // ── The steps of a DML commit, each written once ───────────────────
  // Every keyed and predicate DML verb reads the head (validating its
  // txn marks first), pins its batch, finds its candidate files, stages
  // data / DV / change rows through one staging helper and commits
  // through [[commitDml]] (or, for CoW merge and append, the rebasing
  // [[commitRebasing]]).

  /** The head version a DML commit reads. Txn marks are validated here,
    * before anything is staged: `commitAt` writes an app id raw into
    * `#txn=<app>\t<ver>`, so a tab would hide the mark from
    * [[txnVersionOf]] and a newline would add a bogus live-file line. */
  private def headOf(path: String, marks: Seq[(String, Long)] = Nil): Int = {
    marks.foreach(m => requireTxnApp(m._1))
    val v = currentVersion(path)
    require(v >= 0, s"$path not initialized (call init)")
    v
  }

  /** A51: every mark is already recorded at `v` — the write is a replay
    * and commits nothing. */
  private def replayed(path: String, v: Int, marks: Seq[(String, Long)]): Boolean =
    marks.nonEmpty && marks.forall { case (app, ver) =>
      txnVersionOf(path, v, app).exists(_ >= ver) }

  /** `df` for a commit that derives several artifacts from it: one
    * evaluation must feed them all, or a non-deterministic plan could
    * commit mutually inconsistent pieces. Pinned and stable-snapshot
    * frames already evaluate identically per action (see
    * [[isStableSnapshot]]); anything else is checkpointed. */
  private def pinned(df: DataFrame): DataFrame =
    if (isPinned(df) || isStableSnapshot(df)) df else df.localCheckpoint()

  /** The recorded schema of `v`, or the live files' inferred one. */
  private def schemaAt(spark: SparkSession, path: String, v: Int,
      live: Seq[String]): StructType =
    tableSchema(path, v).getOrElse(readUnder(spark, path, v, live).schema)

  private def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** `df`'s columns laid out as `schema`, NULL where `df` lacks one. */
  private def filledTo(df: DataFrame, schema: StructType): IndexedSeq[Column] =
    schema.fields.toIndexedSeq.map(f =>
      (if (df.columns.contains(f.name)) col(s"`${f.name}`")
       else lit(null).cast(f.dataType)).as(f.name))

  /** The keyed-merge checks: a non-empty, duplicate-free key list that
    * the table holds, and one batch row per key tuple (MERGE
    * cardinality). Returns the batch key summary — one action, or none
    * when the partition router computed it already. */
  private def mergeKeys(batch: DataFrame, keyCols: Seq[String],
      schemaNow: StructType, pre: Option[BatchKeySummary],
      verb: String, maxKeys: Long): BatchKeySummary = {
    require(keyCols.nonEmpty, "merge: empty key column list")
    require(keyCols.distinct.size == keyCols.size,
      s"merge: duplicate key column in ${keyCols.mkString(", ")}")
    keyCols.foreach(k => require(schemaNow.fieldNames.contains(k),
      s"$verb: no key column '$k' in ${schemaNow.fieldNames.mkString(", ")}"))
    val summary = pre.getOrElse(
      batchKeySummary(batch, keyCols, schemaNow(keyCols.head).dataType, maxKeys))
    require(!summary.hasDupTuples,
      s"merge: duplicate '${keyCols.mkString(", ")}' keys in the source " +
        "violate MERGE cardinality on a keyed table")
    summary
  }

  /** Live files of `v` whose lead-key range may hold a key of `keys`.
    * From the batch's key summary, a driver-side walk of the manifest
    * ranges (no job); past the compare budget, a distributed join of
    * the keys against the broadcast per-file ranges (the keys never
    * gather on the driver). Composite
    * keys prune on the leading column only — trailing columns refine
    * membership, never discovery. A manifest without complete ranges
    * scans the live files for them, or, with `scanLegacy = false`
    * (callers that read every candidate anyway), takes every file. */
  private def filesByKey(spark: SparkSession, path: String, v: Int,
      live: Seq[String], leadKey: String,
      keyType: org.apache.spark.sql.types.DataType, keys: DataFrame,
      summary: BatchKeySummary,
      scanLegacy: Boolean = true): IndexedSeq[String] = {
    val ranges = manifestRanges(path, v, live, leadKey)
    if (ranges.isEmpty && !scanLegacy) return live.toIndexedSeq
    ranges.flatMap(touchedByRanges(_, keyType, summary, plannerTouchedMaxCompares(spark)))
      .getOrElse {
        val stats = ranges match {
          case Some(rows) => keyRangeFrame(spark, rows, keyType)
          case None => readUnder(spark, path, v, live)
            .withColumn("file", input_file_name())
            .groupBy("file")
            .agg(min(col(s"`$leadKey`")).as("kmin"),
              max(col(s"`$leadKey`")).as("kmax"))
        }
        keys.select(col(s"`$leadKey`").as("__k"))
          .join(broadcast(stats), keyRangeCond(col("__k")))
          .select("file").distinct()
          .collect().map(r => canonical(r.getString(0))).toIndexedSeq
      }
  }

  /** Per distinct value of `df`'s one string column, its row count:
    * per-partition counts summed on the driver — one shuffle-free job,
    * where a `distinct`/`groupBy` probe submits two under AQE. */
  private def valueCounts(df: DataFrame): Map[String, Long] = {
    val counts = df.as(Encoders.STRING).mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach(f => m(f) = m.getOrElse(f, 0L) + 1L)
      m.iterator
    }(Encoders.tuple(Encoders.STRING, Encoders.scalaLong)).collect()
    counts.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Which data files the DV entries `dvs` mark, with their dead rows
    * summed over the entries (canonical paths; sidecar positions are
    * disjoint, so the counts are exact). Descriptors answer from the
    * manifest; only sidecars written before descriptors are read, in
    * one shuffle-free job. */
  private def dvMarks(spark: SparkSession, dvs: Seq[DvEntry]): Map[String, Long] = {
    val legacy = dvs.collect { case DvEntry(f, None) => f }
    val read =
      if (legacy.isEmpty) Nil
      else valueCounts(readDv(spark, legacy).select("__dv_file")).toSeq
        .map { case (f, n) => canonical(f) -> n }
    (dvs.flatMap(_.marks.getOrElse(Map.empty)) ++ read).groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** The files among `cands` holding a row where `hit` is true. */
  private def filesMatching(spark: SparkSession, path: String, v: Int,
      cands: Seq[String], hit: Column): Seq[String] =
    if (cands.isEmpty) Seq.empty
    else valueCounts(readUnder(spark, path, v, cands).filter(hit)
      .select(input_file_name())).keys.map(canonical).toSeq.distinct

  private def deleteTree(dir: java.nio.file.Path): Unit = {
    val walk = Files.walk(dir)
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach { p => Files.deleteIfExists(p); () }
    finally walk.close()
  }

  /** The one staging step: write `df` to a fresh temp dir and move its
    * parquet parts into `dst` under `name(part file name)`, each with
    * what its write task recorded under `spec` ([[FileStatsTracker]]:
    * row count, and for data files the manifest stats) — the write is
    * the only job. The temp dir — with the writer's `_SUCCESS` and
    * `.crc` files — is removed whether the write succeeds or not. With
    * `skipEmpty`, an all-empty write stages nothing. */
  private def stageFiles(df: DataFrame, dst: String, spec: StatSpec,
      skipEmpty: Boolean = false)(name: String => String): Seq[(String, WrittenFile)] = {
    val stage = Files.createTempDirectory("graft_stage")
    try {
      val tracker = new FileStatsTracker(spec)
      org.apache.spark.sql.GraftSqlBridge.writeParquet(df, stage.toString, Seq(tracker))
      val parts = listDir(stage).filter(_.getFileName.toString.endsWith(".parquet"))
        .map { p =>
          val n = p.getFileName.toString
          p -> tracker.written.getOrElse(n, throw new IllegalStateException(
            s"graft: no write task reported staged file $n"))
        }
      if (skipEmpty && parts.forall(_._2.rows == 0L)) Seq.empty
      else parts.map { case (p, w) =>
        val to = Paths.get(dst).resolve(name(p.getFileName.toString))
        Files.move(p, to)
        (to.toString, w)
      }
    } finally deleteTree(stage)
  }

  /** Stage `doomed` (`__dv_file`, `__dv_pos` and the dead rows'
    * pre-images) as version `v + 1`'s DV sidecars; an empty set stages
    * nothing. Each sidecar comes with its descriptor: the files it
    * marks and their dead rows, as its own write counted them. */
  private def stageDv(path: String, v: Int, doomed: DataFrame): Seq[DvEntry] =
    stageFiles(doomed, path, StatSpec.marking(doomed.schema, "__dv_file"),
        skipEmpty = true)(n => s"v${v + 1}_dv_$n").map { case (f, w) =>
      DvEntry(canonical(f), Some(w.marks.map { case (m, n) => canonical(m) -> n }))
    }

  /** Version `v + 1`'s artifacts, staged overlapped (guide §2.6): the
    * data rows (with the stats their write records), the DV marks
    * and the change rows are independent writes over one evaluation.
    * Returns (data files, their stat lines, DV entries, change-data refs
    * — None when `cdf` is None, i.e. the table records no change data). */
  private def stageArtifacts(spark: SparkSession, path: String, v: Int,
      data: DataFrame, outSchema: Option[StructType],
      dv: Option[DataFrame] = None, cdf: Option[DataFrame] = None)
      : (Seq[String], Seq[String], Seq[DvEntry], Option[Seq[String]]) = {
    val thunks: Seq[(String, () => (Seq[String], Seq[String], Seq[DvEntry]))] =
      Seq("data" -> (() => {
        val (fs, stats) = stageData(spark, data, outSchema, path, v + 1, bucketSpecOf(path, v))
        (fs, stats, Nil) })) ++
        dv.map(d => "dv" -> (() => (Nil, Nil, stageDv(path, v, d)))) ++
        cdf.map(c => "cdf" -> (() => (stageCdf(path, v, c), Nil, Nil)))
    val arts = Par.map(spark, thunks)(t => t._1 -> t._2()).toMap
    (arts("data")._1, arts("data")._2, arts.get("dv").fold(Seq.empty[DvEntry])(_._3),
      arts.get("cdf").map(_._1))
  }

  /** Commit `v + 1` as `v`'s live set minus `touched` plus `staged`: the
    * retained files' stats carry, `stagedStats` describe the new ones,
    * and `v`'s schema and DVs hold unless given. With nothing touched
    * or staged it commits the same table — a DML that found nothing to
    * change, or a metadata-only change. A lost race refuses loudly
    * ([[commitNext]]). */
  private def commitDml(path: String, v: Int)(touched: Seq[String] = Nil,
      staged: Seq[String] = Nil, stagedStats: Seq[String] = Nil,
      schema: Option[StructType] = tableSchema(path, v),
      dv: Seq[DvEntry] = dvEntries(path, v),
      cdf: Option[Seq[String]] = Some(Seq.empty),
      bloom: Seq[String] = Nil, marks: Seq[(String, Long)] = Nil): Int = {
    val gone = touched.map(canonical).toSet
    val retained = liveFiles(path, v).filterNot(f => gone.contains(canonical(f)))
    commitNext(path, v, retained ++ staged, schema,
      carriedStats(path, v, retained) ++ stagedStats, dv, cdf,
      bloomExtra = bloom, txn = marks)
  }

  /** The rebasing commit of CoW merge and append: land on `v + 1`, and
    * on a lost race land on the winner instead — unless the winner
    * recorded `marks` (a concurrent run of the same txn lineage already
    * applied the batch: no-op) or `conflict(base, winner)` refuses.
    * The winner's schema is widened by the batch's new columns. */
  private def commitRebasing(path: String, v: Int, verb: String,
      maxRetries: Int, touched: Set[String], staged: Seq[String],
      stagedStats: Seq[String], outSchema: StructType,
      cdf: Option[Seq[String]], bloom: Seq[String],
      marks: Seq[(String, Long)])(conflict: (Int, Int) => Unit): Int = {
    var base = v
    var attempt = 0
    while (true) {
      val retained = liveFiles(path, base).filterNot(f => touched.contains(canonical(f)))
      val schema =
        if (base == v) outSchema
        else tableSchema(path, base).fold(outSchema)(w => StructType(w.fields ++
          outSchema.fields.filterNot(f => w.fieldNames.contains(f.name))))
      if (commitAt(path, base + 1, retained ++ staged, Some(schema),
          carriedStats(path, base, retained) ++ stagedStats, dvEntries(path, base),
          cdf = cdf, bloomExtra = bloom, txn = marks)) return base + 1
      attempt += 1
      if (attempt > maxRetries)
        throw new java.util.ConcurrentModificationException(
          s"$verb on $path lost $attempt commit races")
      val w = currentVersion(path)
      if (replayed(path, w, marks)) return w
      conflict(base, w)
      base = w
    }
    -1 // unreachable
  }

  // ── A59: TYPE WIDENING (the Delta type-widening pattern) ───────────

  /** `from` can widen to `to` losslessly AND Spark's parquet readers
    * serve old physical-`from` files under a logical-`to` read schema
    * natively (int32→int64, float→double — the SPARK-40876 widening
    * set). Everything else refuses: narrowing loses data, and e.g.
    * int→decimal would need a file rewrite. */
  private[graft] def widensTo(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** A59 — widen `column`'s declared type as a METADATA-ONLY commit:
    * same live files, same stats, same DVs — one manifest line changes
    * (the schema), zero data movement on a 100 TB table. Files written
    * before the widening keep their narrow physical type and read
    * through the wider schema natively (mixed-file reads included);
    * time travel to a pre-widening version serves the OLD type, because
    * the schema is recorded per version like any other evolution. */
  def widenColumn(spark: SparkSession, path: String, column: String,
      to: org.apache.spark.sql.types.DataType): Int = {
    val v = headOf(path)
    val schemaNow = tableSchema(path, v).getOrElse(read(spark, path, v).schema)
    require(schemaNow.fieldNames.contains(column),
      s"widen: no column '$column' in ${schemaNow.fieldNames.mkString(", ")}")
    val from = schemaNow(column).dataType
    require(widensTo(from, to),
      s"widen: ${from.simpleString} -> ${to.simpleString} is not a " +
        "supported widening (byte/short/int up to long, float to double)")
    // f.copy keeps the field metadata — the A24 physical-name mapping
    // survives the type change
    val widened = org.apache.spark.sql.types.StructType(schemaNow.fields.map(
      f => if (f.name == column) f.copy(dataType = to) else f))
    commitDml(path, v)(schema = Some(widened),
      cdf = if (cdfEnabled(path, v)) Some(Seq.empty) else None)
  }

  /** r12 (the r11 verdict's item 7) — ADD COLUMN as a METADATA-ONLY
    * commit (Delta's `ALTER TABLE … ADD COLUMN`): one schema line
    * changes, zero data movement on a 100 TB table. Every live file
    * predates the column, so A19's schema-on-read serves it as NULL
    * (exactly Delta/parquet missing-column semantics); later writes
    * carry real values file-by-file, and time travel to a pre-ADD
    * version serves the old schema because the schema is recorded per
    * version like any other evolution. The new column is necessarily
    * NULLABLE (existing rows have no value for it). */
  def addColumn(spark: SparkSession, path: String, column: String,
      dataType: org.apache.spark.sql.types.DataType): Int = {
    val v = headOf(path)
    val schemaNow = tableSchema(path, v).getOrElse(read(spark, path, v).schema)
    require(!schemaNow.fieldNames.contains(column),
      s"add column: '$column' already exists in " +
        schemaNow.fieldNames.mkString(", "))
    val extended = org.apache.spark.sql.types.StructType(
      schemaNow.fields :+ org.apache.spark.sql.types.StructField(
        column, dataType, nullable = true))
    commitDml(path, v)(schema = Some(extended),
      cdf = if (cdfEnabled(path, v)) Some(Seq.empty) else None)
  }

  /** Version 0: snapshot the directory's current parquet files.
    * `changeDataFeed` opts the table into A31 change-data recording
    * (Delta's enableChangeDataFeed property — off by default since
    * every commit then writes its change rows too). */
  def init(spark: SparkSession, path: String,
      changeDataFeed: Boolean = false): Int = {
    require(currentVersion(path) < 0, s"$path already versioned")
    // same-path rebirth cache purge happens in commitAt's v0 path
    // (covers init, clone bootstrap, AND branch re-creation)
    val files = listDir(Paths.get(path))
      .map(_.toString).filter(_.endsWith(".parquet"))
    val schema =
      if (files.isEmpty) None
      else Some(spark.read.parquet(files: _*).schema)
    // files graft did not write pay one full stats scan; every later
    // commit takes its staged files' stats from their write
    commit(path, files, schema,
      schema.fold(Seq.empty[String])(statsLines(spark, files, _)),
      cdfFlag = changeDataFeed)
  }

  /** Read a specific version (default: latest) from its manifest,
    * under the schema recorded AT that version (older files null-fill
    * columns a later widening added; pre-widening versions don't show
    * the column at all). */
  def read(spark: SparkSession, path: String, version: Int = -1): DataFrame = {
    val v = if (version < 0) currentVersion(path) else version
    require(Files.exists(manifestPath(path, v)), s"no version $v at $path")
    val files = liveFiles(path, v)
    if (files.isEmpty) spark.emptyDataFrame
    else readLive(spark, path, v, files)
  }

  /** A24 — RENAME COLUMN as a metadata-only commit: zero data files
    * move; the new logical name maps (via field metadata) to the
    * physical name the bytes are stored under. Time travel to
    * pre-rename versions reads under the OLD name — each version owns
    * its schema. Returns the new version.
    */
  def renameColumn(spark: SparkSession, path: String,
      from: String, to: String): Int = {
    val v = headOf(path)
    val live = liveFiles(path, v)
    val schema = tableSchema(path, v).getOrElse(
      spark.read.parquet(live: _*).schema)
    require(schema.fieldNames.contains(from), s"renameColumn: no column '$from'")
    require(!schema.fieldNames.contains(to), s"renameColumn: column '$to' exists")
    val fields = schema.fields.map { f =>
      if (f.name == from)
        org.apache.spark.sql.types.StructField(to, f.dataType, f.nullable,
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).putString(PhysicalKey, physicalName(f))
            .build())
      else f
    }
    commitDml(path, v)(schema = Some(StructType(fields)))
  }

  /** A24 — DROP COLUMN as a metadata-only commit: the field leaves the
    * recorded schema; its bytes stay in the files so every retained
    * prior version still time-travels to it. Returns the new version.
    */
  def dropColumn(spark: SparkSession, path: String, name: String): Int = {
    val v = headOf(path)
    val live = liveFiles(path, v)
    val schema = tableSchema(path, v).getOrElse(
      spark.read.parquet(live: _*).schema)
    require(schema.fieldNames.contains(name), s"dropColumn: no column '$name'")
    val fields = schema.fields.filterNot(_.name == name)
    require(fields.nonEmpty, "dropColumn: cannot drop the last column")
    commitDml(path, v)(schema = Some(StructType(fields)))
  }

  /** A28 — RESTORE TABLE TO VERSION (the Delta RESTORE pattern): roll
    * the table back to `toV`'s content as a NEW commit. Head+1's live
    * set, schema, and per-file stats are copied from `toV`'s manifest,
    * so history stays append-only — the rolled-back versions remain
    * time-travelable for forensics, and the A20 change feed across the
    * restore commit reports exactly the rows the rollback un-did
    * (manifest-diff cost, like every other feed window). Zero data
    * movement: file references only. Requires `toV`'s manifest to
    * still be retained (vacuum drops old manifests — restoring past
    * the retention horizon is impossible, by design).
    */
  def restore(path: String, toV: Int): Int = {
    val v = headOf(path)
    require(Files.exists(manifestPath(path, toV)),
      s"restore: no version $toV at $path (vacuumed or never committed)")
    val live = liveFiles(path, toV)
    commitNext(path, v, live, tableSchema(path, toV),
      carriedStats(path, toV, live), dvEntries(path, toV))
  }

  /** A29 — shallow CLONE (the Delta SHALLOW CLONE pattern): `dst`
    * becomes an independent versioned table whose v0 REFERENCES `src`'s
    * live files at `version` (default: current) in place — zero data
    * movement, metadata copy only, so cloning a 100 TB table is a
    * manifest write. From the commit on the histories are independent:
    * merges/deletes/OPTIMIZE on the clone copy-on-write into the
    * clone's own directory and `src` never observes them.
    *
    * Safety: borrowed files live OUTSIDE the clone's directory, and
    * [[vacuum]] reclaims only files UNDER the table's own path — so a
    * clone's vacuum can never delete source data (the containment rule
    * real formats enforce). The standing hazard shallow clones carry
    * everywhere: vacuuming the SOURCE can reclaim files the clone
    * still references — retention policy must outlive clones.
    */
  def cloneShallow(src: String, dst: String, version: Int = -1): Int = {
    val v = if (version < 0) currentVersion(src) else version
    require(v >= 0, s"$src not initialized (call init)")
    require(Files.exists(manifestPath(src, v)), s"clone: no version $v at $src")
    require(currentVersion(dst) < 0, s"clone: $dst already versioned")
    Files.createDirectories(Paths.get(dst))
    val live = liveFiles(src, v)
    // r8: cluster state and the bloom property/sidecars carry into the
    // clone like constraints do — a BRANCH (the A37 consumer of this)
    // then auto-indexes its staged files and keeps incremental ZORDER
    // viable, and publish can remap both back to main
    commit(dst, live, tableSchema(src, v), carriedStats(src, v, live),
      dvEntries(src, v), cdfFlag = cdfEnabled(src, v),
      constraintsOverride = Some(constraintsOf(src, v)),
      clusterOverride = clusterStateOf(src, v),
      bloomColsOverride = Some(bloomColsOf(src, v)),
      bloomExtra = bloomIdxFiles(src, v),
      // A50: the clone shares the source's (already bucket-tagged)
      // files, so the bucket layout — and every exchange-free join on
      // it — carries over for free
      bucketOverride = bucketSpecOf(src, v))
  }

  /** A29′ (r11) — DEEP CLONE: an independent physical copy of one
    * version. Every live data file is HARD-LINKED when the filesystem
    * allows (same-volume deep clones are O(metadata) — Delta's
    * deep-clone optimization; links are safe because graft data files
    * are immutable once committed) and byte-copied otherwise; the
    * manifest rewrites every file reference AND every per-file
    * stats/null/NDV line through the rename, so the clone keeps full
    * pruning/CBO/metadata-aggregate fidelity while sharing NOTHING
    * with the source: a vacuum (or deletion) of the source can never
    * reach under it — the shallow clone's documented hazard, closed.
    * Cluster state remaps; the bucket spec carries (bucket tags live
    * in the copied file names); bloom SIDECARS are dropped (the
    * property carries, so future commits re-index — sidecars are a
    * rebuildable cache, not state). DV-carrying versions MATERIALIZE
    * during the copy (r13, the r12 verdict's item 5): files with dead
    * positions (named by the DV descriptors, no probe) fold their
    * deletion vectors into freshly-written clone files — one
    * distributed pass over exactly the touched files, like
    * [[reconcileDV]] but landing in the clone — while untouched files
    * still hard-link; the clone's v0 never carries a DV ref. The SOURCE
    * keeps its DVs and its versions untouched. Materialized files get
    * freshly computed stats lines (the source's described pre-fold
    * content); linked files keep their remapped originals. */
  def cloneDeep(src: String, dst: String, version: Int = -1): Int = {
    val v = if (version < 0) currentVersion(src) else version
    require(v >= 0, s"$src not initialized (call init)")
    require(Files.exists(manifestPath(src, v)), s"clone: no version $v at $src")
    require(currentVersion(dst) < 0, s"clone: $dst already versioned")
    Files.createDirectories(Paths.get(dst))
    val live = liveFiles(src, v).map(canonical)
    // files carrying live dead-positions (the DV descriptors say which)
    // — these cannot share bytes with the source; everything else links
    val touched: Set[String] =
      dvMarks(SparkSession.active, dvEntries(src, v)).keySet.intersect(live.toSet)
    val taken = scala.collection.mutable.Set.empty[String]
    def copyIn(f: String): String = {
      val srcP = Paths.get(f)
      var name = srcP.getFileName.toString
      var i = 0
      while (!taken.add(name)) { i += 1; name = s"c${i}_" +
        srcP.getFileName.toString }
      val dstP = Paths.get(dst, name)
      // fall back to a byte copy ONLY for the failures hard-linking
      // legitimately raises (cross-device/unsupported FS) — and never
      // REPLACE: a pre-existing file at dstP is a stray this clone
      // doesn't own, and FileAlreadyExistsException must surface, not
      // silently overwrite it (r12, advice fix)
      try Files.createLink(dstP, srcP)
      catch {
        case _: UnsupportedOperationException =>
          Files.copy(srcP, dstP)
        case e: java.nio.file.FileSystemException
            if !e.isInstanceOf[java.nio.file.FileAlreadyExistsException] =>
          Files.copy(srcP, dstP)
      }
      dstP.toString
    }
    val linked = live.filterNot(touched.contains)
    val renames: Map[String, String] = linked.map(f => f -> copyIn(f)).toMap
    // materialize the DV-touched files: ONE distributed read of their
    // live rows (existing DVs applied), staged then moved into the
    // clone with collision-safe names
    val (matFiles, matStats): (Seq[String], Seq[String]) =
      if (touched.isEmpty) (Seq.empty, Seq.empty)
      else {
        val spark = org.apache.spark.sql.SparkSession.active
        val out = stagedFrame(readLive(spark, src, v, touched.toIndexedSeq),
          tableSchema(src, v))
        stageWithStats(spark, out, dst) { n =>
          var name = s"mat_$n"
          var i = 0
          while (!taken.add(name)) { i += 1; name = s"mat${i}_$n" }
          name
        }
      }
    commit(dst, linked.map(renames) ++ matFiles, tableSchema(src, v),
      remappedStats(src, v, linked, renames) ++ matStats,
      cdfFlag = cdfEnabled(src, v),
      constraintsOverride = Some(constraintsOf(src, v)),
      // materialized files fall out of the clustered set (their row
      // layout was rewritten); linked members remap
      clusterOverride = clusterStateOf(src, v).map { case (cols, fs) =>
        (cols, fs.map(canonical).filterNot(touched.contains)
          .map(f => renames.getOrElse(f, f))) },
      bloomColsOverride = Some(bloomColsOf(src, v)),
      bucketOverride = bucketSpecOf(src, v))
  }

  /** Versioned upsert: A16's index-pruned copy-on-write, except the
    * superseded files are retired from the MANIFEST instead of deleted
    * from disk. Returns the new version.
    */
  def mergeVersioned(spark: SparkSession, path: String,
      updates: DataFrame, keyCol: String): Int =
    mergeVersioned(spark, path, updates, Seq(keyCol))

  /** r15 (the r14 verdict's item 3) — COMPOSITE MERGE KEYS: row
    * identity is the TUPLE of `keyCols` (the real-CDC shape — most
    * source-of-truth tables carry multi-column PKs). Same copy-on-write
    * commit, same OCC, same A31 change feed; file discovery prunes on
    * the LEADING key column's per-file [min,max] ranges (A27), so a
    * batch clustered on the first key still touches only its own
    * files — users no longer pre-concat a synthetic key and lose
    * pruning on the real columns.
    *
    * A51 — `txn = Some((appId, version))` is Delta's
    * `txnAppId`/`txnVersion` idempotent-write contract: a replay of an
    * already-recorded (appId, version) returns the current version
    * without staging a byte, and the mark rides the same manifest CAS
    * as the merge itself — exactly-once versions even if the caller
    * crashes between commit and its own bookkeeping, and even against
    * a concurrent instance of the same lineage (the OCC retry
    * re-checks the winner's mark instead of rebasing). */
  def mergeVersioned(spark: SparkSession, path: String,
      updates: DataFrame, keyCols: Seq[String],
      txn: Option[(String, Long)] = None): Int =
    mergeVersionedOCC(spark, path, updates, keyCols, maxRetries = 5,
      beforeCommit = () => (), txn = txn)

  /** A52 — the FULL conditional MERGE (see [[MergeWhen]]): ordered
    * WHEN clauses applied first-match-wins per row, ANSI/Delta
    * semantics. One copy-on-write commit:
    *
    *  - WITHOUT BY-SOURCE clauses, touched files are the A15/A27
    *    stats-pruned key-range set — cost tracks the source batch, not
    *    the table (a conditional upsert on 100 TB rewrites the same
    *    files the plain upsert would).
    *  - BY-SOURCE clauses can change any target row by definition, so
    *    every live file is in scope (the same whole-table scan Delta
    *    pays for NOT MATCHED BY SOURCE) — still ONE pass, one commit.
    *
    * Row evaluation is a single full-outer join (target rows bare,
    * source columns `__src_`-prefixed) followed by one branch-id
    * cascade — no per-clause jobs. A guarded clause with a NULL
    * condition does not fire; unfired matched/target rows are kept,
    * unfired source rows are not inserted; INSERT must assign the key;
    * SET of the key refuses (row identity); duplicate source keys
    * refuse (MERGE cardinality violation — a keyed table holds one row
    * per key). A31 change data records exactly the fired rows
    * (insert / update+pre-image / delete pre-image). The commit CAS
    * refuses a concurrent-writer race loudly (no rebase — re-run the
    * statement against the new head). Bucketed layouts (A50) are
    * preserved through the shared staging. Returns the new version.
    *
    * A54 — SCHEMA EVOLUTION (`evolveSchema = true`, the Delta
    * `MERGE WITH SCHEMA EVOLUTION` contract): SET/INSERT columns the
    * target lacks are APPENDED to the table schema (nullable, type
    * inferred from the assigned expressions' when-cascade — mixed
    * branch types coerce or refuse loudly at analysis, never silently
    * truncate). Existing rows and unfired branches read the new column
    * as NULL; files from BEFORE the evolution are never rewritten for
    * it — A19 schema-on-read null-fills them, so evolving a 100 TB
    * table costs one manifest line, zero data movement. Existing
    * columns TYPE-WIDEN (A59) when an assignment's inferred type is
    * strictly wider in the int→long / float→double lattice — also
    * metadata-only; any other type mismatch SET-casts to the declared
    * type, as without evolution. Time travel to a pre-evolution version serves
    * the OLD schema. If no clause can fire, the schema does not evolve
    * (a no-op merge stays a no-op). With `evolveSchema = false` an
    * unknown SET/INSERT column refuses — the pre-A54 pin.
    */
  def mergeVersionedClauses(spark: SparkSession, path: String,
      source: DataFrame, keyCol: String, clauses: Seq[MergeWhen],
      evolveSchema: Boolean = false,
      txn: Option[(String, Long)] = None,
      txnMulti: Seq[(String, Long)] = Seq.empty): Int =
    mergeVersionedClauses(spark, path, source, Seq(keyCol), clauses,
      evolveSchema, txn, txnMulti)

  /** Composite-key form of [[mergeVersionedClauses]] (r15): the ON
    * condition is equality over the TUPLE of `keyCols` (the ANSI
    * `MERGE ... ON a.x=b.x AND a.y=b.y` shape); file discovery prunes
    * on the leading key column's ranges. */
  def mergeVersionedClauses(spark: SparkSession, path: String,
      sourceIn: DataFrame, keyCols: Seq[String], clauses: Seq[MergeWhen],
      evolveSchema: Boolean,
      txn: Option[(String, Long)],
      txnMulti: Seq[(String, Long)]): Int = {
    import MergeWhen._
    val marks = txn.toSeq ++ txnMulti
    val v = headOf(path, marks)
    // A51: already-recorded marks make the whole statement a replay.
    // Multi-mark commits (A57) record all marks atomically, so any ONE
    // recorded ⇒ all recorded; checking all is belt-and-braces against
    // a hand-built mark state.
    if (replayed(path, v, marks)) return v
    require(clauses.nonEmpty, "mergeVersionedClauses: no WHEN clauses")
    // one evaluation of the source feeds the cardinality check, the
    // touched-file discovery, the clause cascade and the change rows
    // (an MV refresh's source is a whole change-feed delta aggregate)
    val source = pinned(sourceIn)
    val live = liveFiles(path, v)
    val schemaNow = schemaAt(spark, path, v, live)
    keyCols.foreach(k => require(source.columns.contains(k),
      s"merge: source lacks the key column '$k'"))

    val matchedCs: Seq[MergeWhen] = clauses.filter {
      case _: MatchedUpdate | _: MatchedDelete => true; case _ => false }
    val insertCs: Seq[NotMatchedInsert] =
      clauses.collect { case c: NotMatchedInsert => c }
    val bySourceCs: Seq[MergeWhen] = clauses.filter {
      case _: BySourceUpdate | _: BySourceDelete => true; case _ => false }

    clauses.foreach { c =>
      val as = c match {
        case MatchedUpdate(_, s) => s.map(_._1)
        case NotMatchedInsert(_, vs) => vs.map(_._1)
        case BySourceUpdate(_, s) => s.map(_._1)
        case _ => Seq.empty
      }
      require(as.distinct.size == as.size,
        s"merge: duplicate SET/INSERT column in $as")
      as.foreach(n => require(
        evolveSchema || schemaNow.fieldNames.contains(n),
        s"merge: no column '$n' in ${schemaNow.fieldNames.mkString(", ")} " +
          "(pass evolveSchema=true / MERGE WITH SCHEMA EVOLUTION to add it)"))
    }
    // A54: columns the clauses introduce, in first-assignment order
    val newCols: Seq[String] =
      if (!evolveSchema) Seq.empty
      else clauses.flatMap {
        case MatchedUpdate(_, s) => s.map(_._1)
        case NotMatchedInsert(_, vs) => vs.map(_._1)
        case BySourceUpdate(_, s) => s.map(_._1)
        case _ => Seq.empty
      }.distinct.filterNot(schemaNow.fieldNames.contains)
    clauses.foreach {
      case MatchedUpdate(_, s) =>
        s.map(_._1).find(keyCols.contains).foreach(k => require(false,
          s"merge: SET of the merge key '$k' refuses (row identity)"))
      case BySourceUpdate(_, s) =>
        s.map(_._1).find(keyCols.contains).foreach(k => require(false,
          s"merge: SET of the merge key '$k' refuses (row identity)"))
      case NotMatchedInsert(_, vs) =>
        keyCols.foreach(k => require(vs.exists(_._1 == k),
          s"merge: INSERT must provide the key column '$k'"))
      case _ =>
    }
    // one action answers the cardinality refusal, and candidate-file
    // discovery runs driver-side from the collected lead keys
    val summary = mergeKeys(source, keyCols, schemaNow, None, "merge",
      keyBudget(spark, live))
    val touched: Seq[String] =
      if (bySourceCs.nonEmpty) live.map(canonical)
      else filesByKey(spark, path, v, live, keyCols.head,
        schemaNow(keyCols.head).dataType, source, summary)
    if (touched.isEmpty && insertCs.isEmpty) // nothing can fire
      return commitDml(path, v)(marks = marks)

    val oldTouched =
      if (touched.isEmpty) emptyFrame(spark, schemaNow)
      else readLive(spark, path, v, touched.toIndexedSeq)
    val srcP = source.select(source.columns.toIndexedSeq.map(c =>
      col(s"`$c`").as(srcName(c))) :+ lit(true).as("__src_present"): _*)
    val j = oldTouched.withColumn("__t_present", lit(true))
      .join(srcP, keyCols.map(k =>
        col(s"`$k`") === col(srcName(k))).reduce(_ && _), "full_outer")
    val tPres = coalesce(col("__t_present"), lit(false))
    val sPres = coalesce(col("__src_present"), lit(false))
    def guard(c: Option[org.apache.spark.sql.Column]) = c.getOrElse(lit(true))

    // branch ids: matched clause i → i, insert i → 100+i, by-source
    // i → 200+i, keep → −1, un-inserted source row → −2; the cascade
    // encodes first-match-wins in ONE expression
    val cases: Seq[(org.apache.spark.sql.Column, Int)] =
      matchedCs.zipWithIndex.map { case (c, i) =>
        val g = c match {
          case MatchedUpdate(cd, _) => guard(cd)
          case MatchedDelete(cd) => guard(cd)
          case _ => lit(false)
        }
        (tPres && sPres && g, i)
      } ++ insertCs.zipWithIndex.map { case (c, i) =>
        (sPres && !tPres && guard(c.cond), 100 + i)
      } ++ bySourceCs.zipWithIndex.map { case (c, i) =>
        val g = c match {
          case BySourceUpdate(cd, _) => guard(cd)
          case BySourceDelete(cd) => guard(cd)
          case _ => lit(false)
        }
        (tPres && !sPres && g, 200 + i)
      }
    val fallback = when(sPres && !tPres, lit(-2)).otherwise(lit(-1))
    val branch = cases match {
      case Seq() => fallback
      case (c0, b0) +: rest =>
        rest.foldLeft(when(c0, lit(b0))) { case (acc, (c, b)) =>
          acc.when(c, lit(b))
        }.otherwise(fallback)
    }
    val jb = j.withColumn("__branch", branch)

    val deleteBranches: Seq[Int] =
      matchedCs.zipWithIndex.collect { case (MatchedDelete(_), i) => i } ++
        bySourceCs.zipWithIndex.collect {
          case (BySourceDelete(_), i) => 200 + i }
    def inBranches(bs: Seq[Int]): org.apache.spark.sql.Column =
      if (bs.isEmpty) lit(false)
      else col("__branch").isin(bs.map(Integer.valueOf): _*)

    def assignedVals(n: String): Seq[(Int, org.apache.spark.sql.Column)] =
      matchedCs.zipWithIndex.collect {
        case (MatchedUpdate(_, set), i) if set.exists(_._1 == n) =>
          (i, set.find(_._1 == n).get._2)
      } ++ bySourceCs.zipWithIndex.collect {
        case (BySourceUpdate(_, set), i) if set.exists(_._1 == n) =>
          (200 + i, set.find(_._1 == n).get._2)
      }
    // A54: infer a column's assigned type from its assignments' own
    // when-cascade over the joined frame — plan-only (no job); mixed
    // branch types go through Spark's coercion and refuse loudly if
    // incompatible.
    def inferredType(n: String): Option[org.apache.spark.sql.types.DataType] = {
      val vals = assignedVals(n) ++ insertCs.zipWithIndex.collect {
        case (c, i) if c.values.exists(_._1 == n) =>
          (100 + i, c.values.find(_._1 == n).get._2)
      }
      if (vals.isEmpty) None
      else {
        val cascade = vals.tail.foldLeft(
          when(col("__branch") === vals.head._1, vals.head._2)) {
          case (acc, (b, e)) => acc.when(col("__branch") === b, e)
        }
        Some(jb.select(cascade.as(n)).schema.head.dataType)
      }
    }
    // A59 under A54: an assignment whose inferred type is STRICTLY
    // wider than the declared type (int→long, float→double) WIDENS the
    // declaration instead of silently casting the value down — a
    // metadata change only; untouched files keep their narrow physical
    // type and read through the wider schema natively. Only with
    // MERGE WITH SCHEMA EVOLUTION (the Delta type-widening contract);
    // without it, SET still casts to the declared type.
    val widenedNow: org.apache.spark.sql.types.StructType =
      if (!evolveSchema) schemaNow
      else org.apache.spark.sql.types.StructType(schemaNow.fields.map { f =>
        inferredType(f.name) match {
          case Some(t) if widensTo(f.dataType, t) => f.copy(dataType = t)
          case _ => f
        }
      })
    // new columns are nullable by construction (unfired rows are NULL)
    val outSchema: org.apache.spark.sql.types.StructType =
      if (newCols.isEmpty) widenedNow
      else org.apache.spark.sql.types.StructType(widenedNow.fields ++
        newCols.map(n => org.apache.spark.sql.types.StructField(n,
          inferredType(n).get, nullable = true)))

    def outCol(f: org.apache.spark.sql.types.StructField): org.apache.spark.sql.Column = {
      val branchVals: Seq[(Int, org.apache.spark.sql.Column)] =
        assignedVals(f.name) ++ insertCs.zipWithIndex.map { case (c, i) =>
          (100 + i, c.values.find(_._1 == f.name).map(_._2)
            .getOrElse(lit(null)))
        }
      // pre-evolution target rows have no such column: NULL base;
      // widened columns lift the kept narrow values to the new type
      val base =
        if (!schemaNow.fieldNames.contains(f.name)) lit(null).cast(f.dataType)
        else if (schemaNow(f.name).dataType == f.dataType) col(s"`${f.name}`")
        else col(s"`${f.name}`").cast(f.dataType)
      branchVals.foldLeft(base) { case (acc, (b, e)) =>
        when(col("__branch") === b, e.cast(f.dataType)).otherwise(acc)
      }.as(f.name)
    }
    val keep = !inBranches(deleteBranches) && col("__branch") =!= -2
    val rewritten = jb.filter(keep)
      .select(outSchema.fields.toIndexedSeq.map(outCol): _*)
    enforceConstraints(path, v, rewritten)

    val cdfRows: Option[DataFrame] =
      if (!cdfEnabled(path, v)) None
      else {
        val allCols = outSchema.fieldNames.toIndexedSeq
        val payload = allCols.filterNot(keyCols.contains)
        val insertB = insertCs.indices.map(100 + _)
        val updateB: Seq[Int] = matchedCs.zipWithIndex.collect {
          case (MatchedUpdate(_, _), i) => i } ++
          bySourceCs.zipWithIndex.collect {
            case (BySourceUpdate(_, _), i) => 200 + i }
        // A54: a pre-evolution row has no new column — NULL pre-image.
        // A59: a WIDENED column's pre-image lifts to the new type, or
        // the __pre/__post structs would disagree on field types (the
        // <=> compare and the union below both need one shape)
        val tagged = jb
          .withColumn("__pre", struct(outSchema.fields.toIndexedSeq.map(f =>
            if (!schemaNow.fieldNames.contains(f.name))
              lit(null).cast(f.dataType).as(f.name)
            else if (schemaNow(f.name).dataType == f.dataType)
              col(s"`${f.name}`")
            else col(s"`${f.name}`").cast(f.dataType).as(f.name)): _*))
          .withColumn("__post",
            struct(outSchema.fields.toIndexedSeq.map(outCol): _*))
          .withColumn("__ct",
            when(inBranches(insertB), "insert")
              .when(inBranches(deleteBranches), "delete")
              .when(inBranches(updateB) &&
                !(col("__pre") <=> col("__post")), "update"))
          .filter(col("__ct").isNotNull)
        // insert/update rows carry the POST image; deletes the PRE
        // image; updates also emit an 'update_preimage' companion —
        // the same stored-CDF contract as the plain merge path
        def img(df: DataFrame, side: String,
            ct: org.apache.spark.sql.Column) =
          df.select(keyCols.map(k => col(s"$side.`$k`").as(k)) ++
            (ct.as("change_type") +:
              payload.map(c => col(s"$side.`$c`").as(c))): _*)
        Some(
          img(tagged.filter(col("__ct") =!= "delete"), "__post",
            col("__ct"))
            .unionByName(img(tagged.filter(col("__ct") === "delete"),
              "__pre", lit("delete")))
            .unionByName(img(tagged.filter(col("__ct") === "update"),
              "__pre", lit("update_preimage"))))
      }

    val (staged, stagedStats, _, cdfStaged) = stageArtifacts(spark, path, v,
      rewritten, Some(outSchema), cdf = cdfRows)
    commitDml(path, v)(touched, staged, stagedStats,
      schema = if (newCols.isEmpty && widenedNow == schemaNow) tableSchema(path, v)
        else Some(outSchema),
      cdf = cdfStaged, bloom = maybeBloom(spark, path, v, staged), marks = marks)
  }

  /** The one keyed-merge body: [[mergeVersioned]]'s copy-on-write
    * commit with the OCC machinery exposed (`maxRetries` bounds the
    * rebase loop, `beforeCommit` is a test seam that runs after staging
    * and before the first commit attempt, where a concurrent winner
    * lands deterministically in the spec), or, with `mor`,
    * [[mergeVersionedDV]]'s merge-on-read commit. `preSummary` is the
    * partition router's key summary for this slice (see
    * [[keySummaries]]): the merge then runs no summary action of its
    * own. */
  private[graft] def mergeVersionedOCC(spark: SparkSession, path: String,
      updatesIn: DataFrame, keyCols: Seq[String], maxRetries: Int,
      beforeCommit: () => Unit,
      txn: Option[(String, Long)] = None,
      preSummary: Option[BatchKeySummary] = None,
      mor: Boolean = false): Int = {
    val marks = txn.toSeq
    val v = headOf(path, marks)
    // A51: a replayed transaction no-ops BEFORE constraints, staging,
    // anything — the whole point is that retries cost nothing
    if (replayed(path, v, marks)) return v
    val updates = pinned(updatesIn)
    // A34: a batch violating a CHECK constraint refuses HERE — before
    // any staging, so a rejected merge leaves zero orphan files
    enforceConstraints(path, v, updates)
    val live = liveFiles(path, v)
    // with a recorded schema and complete A27 manifest stats (the
    // steady state) a merge never lists — let alone scans — untouched
    // files
    val schemaNow = schemaAt(spark, path, v, live)
    // ONE action: the key summary answers the duplicate-key refusal
    // (the CoW union would otherwise land both rows and break the
    // one-live-row-per-key invariant) AND hands the distinct lead keys
    // to driver-side file discovery over the manifest ranges
    val summary = mergeKeys(updates, keyCols, schemaNow, preSummary,
      if (mor) "mergeVersionedDV" else "merge", keyBudget(spark, live))
    val touched = filesByKey(spark, path, v, live, keyCols.head,
      schemaNow(keyCols.head).dataType, updates, summary)
    if (mor) return mergeOnRead(spark, path, v, updates, keyCols, schemaNow,
      summary, touched, marks)
    // readLive, not readUnder: a DV-deleted row in a touched file must
    // not resurrect through the copy-on-write rewrite
    val oldTouched =
      if (touched.isEmpty) emptyFrame(spark, schemaNow)
      else readLive(spark, path, v, touched)
    val kept = oldTouched
      .join(broadcast(updates.select(keyCols.map(c => col(s"`$c`")): _*)),
        keyCols, "left_anti")
    // Schema evolution on write: a batch with NEW columns widens the
    // table — kept rows null-fill the new columns, and the widened
    // schema is recorded in the commit header so untouched old files
    // null-fill on every later read. A batch MISSING table columns
    // upserts whole rows with nulls there (full-row replace
    // semantics, same as the unwidened path).
    val rewritten = kept.unionByName(updates, allowMissingColumns = true)
    // commit schema = the base version's schema (mapping metadata kept)
    // extended by the batch's new columns (physical = logical for new)
    val outSchema = StructType(
      schemaNow.fields ++ rewritten.schema.fields.filterNot(f =>
        schemaNow.fieldNames.contains(f.name)))

    // A31 (when the table property is on): this merge's change rows,
    // from frames already in hand (batch-bounded — post = the batch,
    // pre = the touched files' live rows): new keys are inserts,
    // changed payloads updates, verbatim upserts drop out via the
    // null-safe struct compare. Stored so a single-step feed reads
    // exactly these rows instead of the touched files' full pre+post
    // images.
    val cdfRows: Option[DataFrame] = if (!cdfEnabled(path, v)) None else {
      val cdfPayload =
        outSchema.fieldNames.filterNot(keyCols.contains).toIndexedSeq
      // composite keys ride as ONE struct join key (non-null by the
      // keyed-table contract), then unpack back to columns
      def keyed(df: DataFrame, image: String): DataFrame =
        df.select(filledTo(df, outSchema): _*).select(
          struct(keyCols.map(c => col(s"`$c`")): _*).as("__k"),
          struct(cdfPayload.map(c => col(s"`$c`")): _*).as(image))
      val changed = keyed(updates, "__post")
        .join(keyed(oldTouched, "__pre"), Seq("__k"), "left_outer")
        .withColumn("change_type",
          when(col("__pre").isNull, lit("insert"))
            .when(!(col("__pre") <=> col("__post")), lit("update"))
            .otherwise(lit(null)))
        .filter(col("change_type").isNotNull)
      // update PRE-IMAGES ride along as 'update_preimage' companion
      // rows (the Delta CDF contract needs them, and only THIS point
      // has them in hand — post-commit the pre rows live in retired
      // files a feed would have to re-read). Post-image-only readers
      // filter them out; cost stays ∝ the commit's change set.
      Some(
        changed.select(keyCols.map(c => col(s"__k.`$c`").as(c)) ++
            (col("change_type") +:
              cdfPayload.map(c => col(s"__post.`$c`").as(c))): _*)
          .unionByName(changed.filter(col("change_type") === "update")
            .select(keyCols.map(c => col(s"__k.`$c`").as(c)) ++
              (lit("update_preimage").as("change_type") +:
                cdfPayload.map(c => col(s"__pre.`$c`").as(c))): _*)))
    }

    // data files always land under PHYSICAL names so the live set stays
    // uniform across renames (readUnder aliases back to logical); on a
    // bucketed table (A50) kept ∪ updates re-route through the bucket
    // hash so every staged file stays bucket-tagged
    val (staged, stagedStats, _, cdfStaged) = stageArtifacts(spark, path, v,
      rewritten, Some(outSchema), cdf = cdfRows)
    beforeCommit()
    // A41: index the staged files when the bloom property is on
    val bloomStaged = maybeBloom(spark, path, v, staged)

    // OCC: a lost race rebases onto the new head — sound iff (a) every
    // file we rewrote is STILL live (the winner didn't rewrite it; our
    // kept rows remain valid), and (b) none of our update keys appear
    // in the files the winner added (no write-write key conflict —
    // with (a), any key overlap must surface in the winner's new
    // files, since a winner rewrite of a file covering our keys would
    // have retired a file we touched). Disjoint keys + disjoint files
    // commute, so the result equals either serial order; a genuine
    // conflict throws instead of silently losing the winner's update.
    val touchedSet = touched.toSet
    commitRebasing(path, v, "merge", maxRetries, touchedSet, staged,
        stagedStats, outSchema, cdfStaged, bloomStaged, marks) { (base, w) =>
      val liveW = liveFiles(path, w)
      val liveWSet = liveW.map(canonical).toSet
      if (!touched.forall(liveWSet.contains))
        throw new java.util.ConcurrentModificationException(
          s"merge on $path conflicts with version $w: a concurrent commit " +
            "rewrote files this merge also rewrote")
      val baseSet = liveFiles(path, base).map(canonical).toSet
      val winnerNew = liveW.filterNot(f => baseSet.contains(canonical(f)))
      if (winnerNew.nonEmpty) {
        val clash = !readFilesAs(spark, tableSchema(path, w), winnerNew)
          .select(keyCols.map(c => col(s"`$c`")): _*)
          .join(broadcast(updates.select(keyCols.map(c =>
            col(s"`$c`")): _*)), keyCols, "left_semi")
          .isEmpty
        if (clash)
          throw new java.util.ConcurrentModificationException(
            s"merge on $path conflicts with version $w: a concurrent commit " +
              "wrote keys this merge also writes")
      }
      // a concurrent DV delete changes no live files, so the file check
      // above cannot see it — but if its dead positions fall in a file
      // THIS merge rewrote (from the pre-DV image), rebasing would
      // resurrect the freshly deleted rows. Conflict, not commute.
      val readDvs = dvFiles(path, v).toSet
      val newDvs = dvEntries(path, w).filterNot(e => readDvs.contains(e.sidecar))
      if (dvMarks(spark, newDvs).keys.exists(touchedSet.contains))
        throw new java.util.ConcurrentModificationException(
          s"merge on $path conflicts with version $w: a concurrent DV " +
            "delete marked rows dead in a file this merge rewrote")
    }
  }

  /** Versioned DELETE: rows matching `predicate` are removed from the
    * LIVE set by rewriting only the live files that contain one — the
    * A21 copy-on-write delete through the A18 log, so every prior
    * version stays readable (deleted rows remain time-travelable
    * until `vacuum`) and the delete lands as a new committed version
    * whose [[changesBetween]] feed reports exactly the removed keys.
    * Returns the new version.
    */
  private object PredSplit
      extends org.apache.spark.sql.catalyst.expressions.PredicateHelper {
    def split(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
      splitConjunctivePredicates(e)
  }

  /** r12 — MANIFEST-PRUNED DML CANDIDATES: the live files of `v` that
    * MAY hold a row satisfying `predicate`, judged by the same
    * A27/A42/A66 per-file skipping stack the scan path uses. Before
    * this, every predicate-form DELETE/UPDATE opened ALL live files
    * to discover matches — at 1M files that is a million parquet
    * footers for a one-range touch-up. The predicate resolves against
    * the MANIFEST schema on an empty frame (the table is never
    * listed), optimizes (so literals fold to the comparison shapes
    * `survives` judges), splits into conjuncts with attributes
    * renamed LOGICAL → PHYSICAL (stats outlive renames under physical
    * names), and every live file must survive every conjunct.
    * Conservative by construction: an untranslatable predicate, a
    * missing schema, or an analysis error prunes NOTHING — the
    * fallback is the old full candidate set, never a skipped match.
    */
  private[graft] def candidateFiles(spark: SparkSession, path: String,
      v: Int, predicate: org.apache.spark.sql.Column): Seq[String] = {
    val live = liveFiles(path, v)
    val schema = tableSchema(path, v).getOrElse(return live)
    val conjuncts = try {
      // ANALYZED, not optimized: the optimizer would propagate the
      // empty relation away and take the Filter node with it. Fold
      // the analysis casts on literals down to the bare Literal
      // shapes `survives` judges (a cast AROUND an attribute is not
      // foldable and correctly prunes nothing).
      val analyzed = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
        .filter(predicate).queryExecution.analyzed
      analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          PredSplit.split(f.condition)
      }.getOrElse(Seq.empty).map(_.transformUp {
        case e if e.foldable &&
            !e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal] =>
          org.apache.spark.sql.catalyst.expressions.Literal.create(
            e.eval(null), e.dataType)
      }.transform {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
            if schema.fieldNames.contains(a.name) =>
          a.withName(physicalName(schema(a.name)))
      })
    } catch { case _: Exception => return live }
    if (conjuncts.isEmpty) return live
    val stats = fileStats(path, v)
    val nulls = fileNulls(path, v)
    val rows = fileRows(path, v)
    live.filter { f0 =>
      val f = canonical(f0)
      conjuncts.forall(e => GraftFileIndex.survives(
        stats.getOrElse(f, Map.empty), nulls.getOrElse(f, Map.empty),
        rows.get(f), e))
    }
  }

  def deleteVersioned(spark: SparkSession, path: String,
      predicate: Column): Int = {
    val v = headOf(path)
    // discovery reads only the manifest-pruned candidates — cost
    // tracks the predicate's stats footprint, not table size
    val touched = filesMatching(spark, path, v,
      candidateFiles(spark, path, v, predicate), predicate)
    if (touched.isEmpty) return commitDml(path, v)() // no-op version
    // SQL DELETE null semantics: NULL predicate keeps the row, but a
    // bare filter(!pred) drops it (NOT(null) is null) — coalesce so
    // null-predicate rows survive the copy-on-write rewrite.
    val liveTouched = readLive(spark, path, v, touched.toIndexedSeq)
    // A31 (table property): the deleted pre-images are the change data
    val (staged, stagedStats, _, cdfStaged) = stageArtifacts(spark, path, v,
      liveTouched.filter(!coalesce(predicate, lit(false))),
      Some(schemaAt(spark, path, v, touched)),
      cdf = if (!cdfEnabled(path, v)) None
        else Some(liveTouched.filter(coalesce(predicate, lit(false)))
          .withColumn("change_type", lit("delete"))))
    commitDml(path, v)(touched, staged, stagedStats, cdf = cdfStaged)
  }

  /** Versioned DELETE BY KEY SET: [[deleteVersioned]] where the doomed
    * keys arrive as a DATAFRAME instead of a predicate — the form a
    * change-feed mirror needs. A predicate built from a collected key
    * list (`isin(k1…kN)`) puts one literal per key into the plan: a
    * large delete batch bloats analysis/codegen and caps out entirely
    * well before the batch does. Here the keys are pinned once and
    * summarized in one action, file discovery walks the per-file key
    * ranges on the driver (same pruning as [[mergeVersioned]]), and the
    * rewrite is one anti join. Plan size is O(1) in the key count.
    * Returns the new version.
    */
  def deleteVersionedKeys(spark: SparkSession, path: String,
      keys: DataFrame, keyCol: String): Int =
    deleteVersionedKeys(spark, path, keys, Seq(keyCol))

  /** Composite-key form of [[deleteVersionedKeys]] (r15): the doomed
    * identity is the TUPLE of `keyCols`; file discovery prunes on the
    * leading key column's ranges (see [[mergeVersioned]]). */
  def deleteVersionedKeys(spark: SparkSession, path: String,
      keys: DataFrame, keyCols: Seq[String]): Int = {
    val v = headOf(path)
    val schemaNow = schemaAt(spark, path, v, liveFiles(path, v))
    val (k, touched) = doomedKeys(spark, path, v, schemaNow, keys, keyCols,
      scanLegacy = true)
    if (touched.isEmpty) return commitDml(path, v)() // no-op version
    val liveTouched = readLive(spark, path, v, touched)
    // A31 (table property): the deleted pre-images are the change data
    val (staged, stagedStats, _, cdfStaged) = stageArtifacts(spark, path, v,
      liveTouched.join(k, keyCols, "left_anti"), Some(schemaNow),
      cdf = if (!cdfEnabled(path, v)) None
        else Some(liveTouched.join(k, keyCols, "left_semi")
          .withColumn("change_type", lit("delete"))))
    commitDml(path, v)(touched, staged, stagedStats, cdf = cdfStaged)
  }

  /** The key-delete head: the doomed key tuples pinned once, as the
    * side every later join reads (broadcast while the batch key summary
    * fits its budget), and the live files that may hold one — found
    * from that one-action summary ([[filesByKey]]). Semi and anti joins
    * need no `distinct`. */
  private def doomedKeys(spark: SparkSession, path: String, v: Int,
      schemaNow: StructType, keys: DataFrame, keyCols: Seq[String],
      scanLegacy: Boolean): (DataFrame, IndexedSeq[String]) = {
    require(keyCols.nonEmpty, "delete: empty key column list")
    keyCols.foreach(c => require(schemaNow.fieldNames.contains(c),
      s"delete: no key column '$c' in ${schemaNow.fieldNames.mkString(", ")}"))
    val k = pinned(keys.select(keyCols.map(c => col(s"`$c`")): _*))
    val live = liveFiles(path, v)
    val keyType = schemaNow(keyCols.head).dataType
    val summary = batchKeySummary(k, keyCols, keyType, keyBudget(spark, live))
    (if (summary.overBudget) k else broadcast(k),
      filesByKey(spark, path, v, live, keyCols.head, keyType, k, summary, scanLegacy))
  }

  /** The SET list of an UPDATE as the full new row, computed FROM THE
    * PRE-IMAGE (every SET expression sees the old values); the cast
    * pins each column's recorded type — parquet physical schemas must
    * stay uniform. */
  private def setExprs(verb: String, schemaNow: StructType,
      set: Seq[(String, Column)]): IndexedSeq[Column] = {
    require(set.nonEmpty, s"$verb: empty SET clause")
    require(set.map(_._1).distinct.size == set.size,
      s"$verb: duplicate SET column in ${set.map(_._1)}")
    set.foreach { case (c, _) =>
      require(schemaNow.fieldNames.contains(c),
        s"$verb: no column '$c' in ${schemaNow.fieldNames.mkString(", ")}") }
    val setMap = set.toMap
    schemaNow.fields.toIndexedSeq.map(f => setMap.get(f.name)
      .fold(col(s"`${f.name}`").as(f.name))(_.cast(f.dataType).as(f.name)))
  }

  /** A35 — versioned UPDATE (the missing DML verb between MERGE and
    * DELETE): rows matching `predicate` get each `set` column
    * re-computed (expressions see the PRE-update row, SQL UPDATE
    * semantics — `SET a = b, b = a` swaps), everything else is
    * untouched. Copy-on-write through the log: only files containing a
    * matching row are rewritten (discovery = one predicate scan with
    * parquet pushdown, the [[deleteVersioned]] shape), every prior
    * version stays time-travelable, and the A20 feed across the commit
    * reports exactly the rows whose values actually CHANGED (a SET to
    * the current value is a no-op the manifest diff rightly drops — the
    * stored change data matches it). NULL-predicate rows are not
    * updated (SQL semantics). CHECK constraints are enforced on the
    * POST-update rows before anything is staged. Returns the new
    * version.
    */
  def updateVersioned(spark: SparkSession, path: String,
      predicate: Column, set: Seq[(String, Column)]): Int = {
    val v = headOf(path)
    val schemaNow = schemaAt(spark, path, v, liveFiles(path, v))
    val newExprs = setExprs("updateVersioned", schemaNow, set)
    val hit = coalesce(predicate, lit(false))
    val touched = filesMatching(spark, path, v,
      candidateFiles(spark, path, v, predicate), hit)
    if (touched.isEmpty) return commitDml(path, v)() // no-op version
    // readLive: a DV-dead row in a touched file must neither be updated
    // nor resurrected by the rewrite
    val liveTouched = readLive(spark, path, v, touched.toIndexedSeq)
    // the predicate is evaluated once, on the pre-image, never against
    // updated columns
    val pre = liveTouched.filter(hit)
    val post = pre.select(newExprs: _*)
    // A34: refuse BEFORE staging if an updated row violates a CHECK
    enforceConstraints(path, v, post)
    // A31 (table property): change rows = updated rows whose values
    // actually changed, post-image plus 'update_preimage' companions
    // (the Delta CDF form, as the merge path stores it)
    val cdfRows: Option[DataFrame] =
      if (!cdfEnabled(path, v)) None
      else {
        val allCols = schemaNow.fieldNames.toIndexedSeq
        val pairs = pre.select(
          struct(allCols.map(c => col(s"`$c`")): _*).as("__pre"),
          struct(newExprs: _*).as("__post"))
          .filter(!(col("__pre") <=> col("__post")))
        Some(pairs
          .select(allCols.map(c => col(s"__post.`$c`").as(c)): _*)
          .withColumn("change_type", lit("update"))
          .unionByName(pairs
            .select(allCols.map(c => col(s"__pre.`$c`").as(c)): _*)
            .withColumn("change_type", lit("update_preimage"))))
      }
    val (staged, stagedStats, _, cdfStaged) = stageArtifacts(spark, path, v,
      liveTouched.filter(!hit).unionByName(post), Some(schemaNow), cdf = cdfRows)
    commitDml(path, v)(touched, staged, stagedStats, cdf = cdfStaged,
      bloom = maybeBloom(spark, path, v, staged))
  }

  /** INSERT OVERWRITE as a commit: the new live set is exactly the
    * staged batch — every previous row is retired (still
    * time-travelable until vacuum) and the recorded schema becomes the
    * batch's. On an uninitialized directory this bootstraps the table
    * (write + [[init]]). CHECK constraints carry across and are
    * enforced on the batch; old DV refs are dropped (they can only
    * reference retired files). The feed across the commit is the full
    * delete+insert diff — overwrite is by nature a table-sized change.
    * Returns the new version.
    */
  def overwriteVersioned(spark: SparkSession, path: String, df: DataFrame): Int = {
    val v = currentVersion(path)
    if (v < 0) return bootstrap(spark, path, df, "", Nil)
    enforceConstraints(path, v, df)
    // A50: an overwrite keeps the table's bucket layout — the batch
    // must carry the bucket column (the spec is immutable metadata)
    val bspec = bucketSpecOf(path, v)
    bspec.foreach { case (c, _) => require(df.columns.contains(c),
      s"graft: $path is bucketed by '$c' — an overwrite batch must carry it") }
    val (staged, stats) = stageData(spark, df, None, path, v + 1, bspec)
    commitNext(path, v, staged, Some(df.schema), stats,
      bloomExtra = maybeBloom(spark, path, v, staged))
  }

  /** ANSI `INSERT INTO` as a commit: the staged batch simply JOINS the
    * live set — blind append, no key semantics (the keyed upsert is
    * [[mergeVersioned]]; this is the verb's own contract, same as
    * Delta's INSERT INTO). No existing file is listed, let alone
    * rewritten — commit cost is exactly the batch. CHECK constraints
    * enforce on the batch before staging; a batch with NEW columns
    * widens the recorded schema like a widening merge (missing columns
    * null-fill); A31 stored change data records the batch as inserts;
    * the bloom property indexes the staged files. Bootstraps a fresh
    * directory. A51: under `txn = Some((appId, version))` a replayed
    * mark no-ops, and the mark commits atomically with the batch (one
    * manifest CAS — no sidecar-marker crash window). Returns the new
    * version.
    */
  def appendVersioned(spark: SparkSession, path: String, df: DataFrame,
      txn: Option[(String, Long)] = None): Int = {
    val marks = txn.toSeq
    marks.foreach(m => requireTxnApp(m._1))
    if (currentVersion(path) < 0) {
      Files.createDirectories(Paths.get(path))
      // Bootstrap WITH the mark (init() would commit v0 without it),
      // CRASH-IDEMPOTENTLY: a previous attempt of this exact
      // (appId, version) may have died between its data write and
      // the v0 commit — currentVersion is still <0 then, so no mark
      // check can catch the replay, and blindly re-appending
      // would commit BOTH copies (doubling every row). The staged
      // files carry a deterministic per-mark tag, so a replay deletes
      // only ITS own orphans; untagged pre-existing parquet is user
      // data the bootstrap ADOPTS (init semantics), never deletes.
      val tag = txn.fold("") { case (app, ver) =>
        "txnb" + Integer.toHexString((app + "@" + ver).##) + "_" }
      if (txn.nonEmpty) listDir(Paths.get(path)).filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet") && n.startsWith("v0_" + tag)
      }.foreach(Files.deleteIfExists(_))
      return bootstrap(spark, path, df, tag, marks)
    }
    val v = headOf(path, marks)
    if (replayed(path, v, marks)) return v
    enforceConstraints(path, v, df)
    val schemaNow = schemaAt(spark, path, v, liveFiles(path, v))
    val outSchema = StructType(
      schemaNow.fields ++ df.schema.fields.filterNot(f =>
        schemaNow.fieldNames.contains(f.name)))
    val batch = df.select(filledTo(df, outSchema): _*)
    // the append write and the change-data write overlap (both read
    // the same deterministic batch; an append's change rows ARE the
    // batch)
    val (staged, stagedStats, _, cdfStaged) = stageArtifacts(spark, path, v,
      batch, Some(outSchema),
      cdf = if (!cdfEnabled(path, v)) None
        else {
          val payload = outSchema.fieldNames.toIndexedSeq
          Some(batch.select(
            col(s"`${payload.head}`") +: lit("insert").as("change_type") +:
              payload.tail.map(c => col(s"`$c`")): _*))
        })
    // OCC: a blind append retires no files and constrains no keys, so
    // it commutes with ANY concurrent commit — rebase onto the new
    // head unconditionally (Delta's appends-never-conflict rule),
    // bounded only as a runaway guard. The winner may have ADDED a
    // constraint this batch violates.
    commitRebasing(path, v, "append", 20, Set.empty, staged, stagedStats,
        outSchema, cdfStaged, maybeBloom(spark, path, v, staged), marks) {
      (_, w) => enforceConstraints(path, w, df) }
  }

  /** The FOOTER of a local parquet file — pure driver-side metadata
    * I/O, no Spark job. */
  private def parquetFooter(file: String)
      : org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file),
      new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getFooter finally r.close()
  }

  /** The Spark schema of a parquet file from its footer, resolved
    * exactly as a schema-less `spark.read.parquet` infers it (the
    * writer's stored Spark schema, else the converted parquet schema)
    * but without the Spark job that inference runs. */
  private def footerSchema(file: String,
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata)
      : StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(
        new org.apache.hadoop.fs.Path(file), footer),
      new ParquetToSparkSchemaConverter(
        org.apache.spark.sql.internal.SQLConf.get))
  }

  /** `spark.read.parquet(dir)` for a directory graft itself wrote with
    * Spark (a side artifact, not a versioned table), under the schema of
    * one part file's footer instead of an inference job. */
  private[graft] def readParquetDir(spark: SparkSession, dir: String): DataFrame = {
    val d = Paths.get(dir)
    val part = if (!Files.isDirectory(d)) None
      else listDir(d).map(_.toString).filter(_.endsWith(".parquet")).sorted.headOption
    part.fold(spark.read.parquet(dir))(f =>
      spark.read.schema(footerSchema(f, parquetFooter(f))).parquet(dir))
  }

  /** Stage `rows` as a commit's stored change-data files (A31);
    * returns the refs (empty for an empty change set). */
  private def stageCdf(path: String, v: Int, rows: DataFrame): Seq[String] =
    stageFiles(rows, path, StatSpec.RowsOnly, skipEmpty = true)(
      n => s"v${v + 1}_cdf_$n").map(_._1)

  /** The rows of `files` as live at `v`, with their DV identity
    * (`__file`, `__pos`) kept: existing DVs applied, so an
    * already-dead row is never re-marked and DV files stay disjoint. */
  private def livePositions(spark: SparkSession, path: String, v: Int,
      files: Seq[String]): DataFrame =
    applyDv(spark, readFilesAsWithPos(spark, tableSchema(path, v), files), dvFiles(path, v))

  /** The merge-on-read delete shared by the two DV delete forms: the
    * live rows of `files` that `doomedOf` keeps are staged ONCE (full
    * pre-image + change_type='delete' + __dv_file/__dv_pos) and head+1
    * commits with the same live set. The single staged file serves as
    * BOTH the deletion vector (readers join on the two position
    * columns) and the commit's stored change data (the feed reads the
    * pre-image columns), so a DV delete costs one scan and one write.
    * An empty doomed set commits a no-op version (consistent with the
    * copy-on-write deletes), marked cdf-empty. */
  private def deleteDV(spark: SparkSession, path: String, v: Int,
      files: Seq[String], marks: Seq[(String, Long)])(
      doomedOf: DataFrame => DataFrame): Int = {
    val staged =
      if (files.isEmpty) Seq.empty
      else stageDv(path, v, doomedOf(livePositions(spark, path, v, files))
        .withColumnRenamed("__file", "__dv_file")
        .withColumnRenamed("__pos", "__dv_pos")
        .withColumn("change_type", lit("delete")))
    if (staged.isEmpty) commitDml(path, v)(marks = marks)
    // the combined file always carries the pre-images (free — it IS
    // the deletion vector); advertise it as change data only when the
    // table property is on, like the other writers
    else commitDml(path, v)(dv = dvEntries(path, v) ++ staged,
      cdf = if (cdfEnabled(path, v)) Some(staged.map(_.sidecar)) else None, marks = marks)
  }

  /** A30 — MERGE-ON-READ DELETE: rows matching `predicate` are marked
    * dead in a deletion vector instead of being rewritten out — the
    * commit writes O(deleted rows) positions and ZERO data files, so
    * deleting a sliver of a 100 TB table costs the predicate scan (with
    * pushdown) plus a positions write, never a file rewrite. Reads pay
    * one anti join until [[reconcileDV]] (or OPTIMIZE ZORDER) folds the
    * DVs into rewritten files. Every prior version time-travels exactly
    * as before — a version sees precisely the DV set committed at it.
    * NULL-predicate rows survive (SQL DELETE semantics). Returns the
    * new version.
    */
  def deleteVersionedDV(spark: SparkSession, path: String,
      predicate: Column): Int = {
    val v = headOf(path)
    // position discovery reads only the manifest-pruned candidates
    deleteDV(spark, path, v, candidateFiles(spark, path, v, predicate), Nil)(
      _.filter(coalesce(predicate, lit(false))))
  }

  /** A30 — MERGE-ON-READ DELETE BY KEY SET: the DV analog of
    * [[deleteVersionedKeys]]. File discovery prunes from the A27
    * manifest stats (per-file key range × broadcast keys), so only
    * files that can hold a doomed key are even SCANNED for positions —
    * delete cost tracks the batch's key locality, and the plan holds no
    * per-key literals. `txn` as in [[mergeVersioned]]: a replayed
    * (app, ver ≤ mark) delete no-ops, atomically with the commit that
    * recorded the mark. Returns the new version.
    */
  def deleteVersionedKeysDV(spark: SparkSession, path: String,
      keys: DataFrame, keyCol: String,
      txn: Option[(String, Long)] = None): Int =
    deleteVersionedKeysDV(spark, path, keys, Seq(keyCol), txn)

  /** Composite-key form of [[deleteVersionedKeysDV]] (r15). */
  def deleteVersionedKeysDV(spark: SparkSession, path: String,
      keys: DataFrame, keyCols: Seq[String],
      txn: Option[(String, Long)]): Int = {
    val marks = txn.toSeq
    val v = headOf(path, marks)
    if (replayed(path, v, marks)) return v
    val (k, touched) = doomedKeys(spark, path, v,
      schemaAt(spark, path, v, liveFiles(path, v)), keys, keyCols,
      scanLegacy = false)
    deleteDV(spark, path, v, touched, marks)(_.join(k, keyCols, "left_semi"))
  }

  /** A71 — MERGE-ON-READ UPDATE: the DV twin of [[updateVersioned]].
    * Matched rows whose SET actually changes the image are marked dead
    * in a deletion vector and their post-images appended as NEW files,
    * all in one commit — updating a sliver of a 100 TB table costs the
    * predicate scan (with pushdown) plus O(changed rows) written,
    * never a touched-file rewrite (the copy-on-write form rewrites
    * every file holding a match, however small the match). Rows the
    * SET leaves bit-identical are neither marked nor re-appended, so
    * the live multiset AND the change feed match the CoW result
    * exactly. Reads pay the existing DV anti join until
    * [[reconcileDV]] / OPTIMIZE ZORDER folds; every prior version
    * time-travels unchanged. A31 stored change data (when the table
    * property is on): 'update' post-images + 'update_preimage'
    * companions — the same consumer contract as the CoW update; with
    * the property off, the manifest-diff feed pairs the DV'd pre-image
    * with the appended post-image by key as usual. Every SET
    * expression sees the PRE-image row; NULL-predicate rows don't
    * match (SQL UPDATE semantics). Returns the new version.
    */
  def updateVersionedDV(spark: SparkSession, path: String,
      predicate: Column, set: Seq[(String, Column)]): Int = {
    val v = headOf(path)
    val schemaNow = schemaAt(spark, path, v, liveFiles(path, v))
    val newExprs = setExprs("updateVersionedDV", schemaNow, set)
    val allCols = schemaNow.fieldNames.toIndexedSeq
    // position discovery reads only the manifest-pruned candidates
    val cands = candidateFiles(spark, path, v, predicate)
    if (cands.isEmpty) return commitDml(path, v)() // stats prove no match
    // Materialized ONCE: the emptiness probe, the appended post-image
    // write, the DV write and the CDF staging all read this frame —
    // the candidate-file position scan runs a single time AND one
    // evaluation of a possibly-non-deterministic SET expression feeds
    // every coupled artifact.
    val pairs = livePositions(spark, path, v, cands)
      .filter(coalesce(predicate, lit(false)))
      .select(col("__file"), col("__pos"),
        struct(allCols.map(c => col(s"`$c`")): _*).as("__pre"),
        struct(newExprs: _*).as("__post"))
      .filter(!(col("__pre") <=> col("__post")))
      .localCheckpoint()
    if (pairs.isEmpty) return commitDml(path, v)() // nothing changes
    val post = pairs.select(allCols.map(c => col(s"__post.`$c`").as(c)): _*)
    // A34: refuse BEFORE staging anything if an updated row violates
    enforceConstraints(path, v, post)
    val (staged, stagedStats, dvStaged, cdfStaged) = stageArtifacts(spark,
      path, v, post, Some(schemaNow),
      dv = Some(pairs.select(
        col("__file").as("__dv_file") +: col("__pos").as("__dv_pos") +:
          allCols.map(c => col(s"__pre.`$c`").as(c)): _*)),
      cdf = if (!cdfEnabled(path, v)) None
        else Some(post.withColumn("change_type", lit("update")).unionByName(
          pairs.select(allCols.map(c => col(s"__pre.`$c`").as(c)): _*)
            .withColumn("change_type", lit("update_preimage")))))
    commitDml(path, v)(staged = staged, stagedStats = stagedStats,
      dv = dvEntries(path, v) ++ dvStaged, cdf = cdfStaged,
      bloom = maybeBloom(spark, path, v, staged))
  }

  /** A75 — MERGE-ON-READ UPSERT: the DV twin of [[mergeVersioned]].
    * Matched keys' old rows are marked dead in a deletion vector and
    * the batch lands as APPENDED files, all in one commit — zero file
    * rewrites, so upserting a batch into a 100 TB table costs the
    * candidate-file position scan (A27 manifest-stats-pruned, so it
    * tracks the batch's key locality) plus the batch write. A
    * verbatim re-upsert (post image identical to the live row) marks
    * nothing and appends nothing for that key — live multiset and
    * change feed match the copy-on-write merge exactly. Schema
    * evolution as in the CoW merge: a batch with NEW columns widens
    * the recorded schema (old files and the DV pre-images null-fill);
    * a batch MISSING table columns upserts whole rows with nulls
    * (full-row replace semantics). Stored change data (A31) keeps the
    * insert / update / update_preimage contract. Reads pay the DV
    * anti join until [[reconcileDV]] / OPTIMIZE folds. Assumes the
    * keyed-table invariant every merge maintains (one live row per
    * key); duplicate live rows under one key are all retired when the
    * key's image changes. `txn` as in [[mergeVersioned]] — the
    * exactly-once contract the merge-on-read streaming sink rides.
    * Returns the new version.
    */
  def mergeVersionedDV(spark: SparkSession, path: String,
      updates: DataFrame, keyCol: String,
      txn: Option[(String, Long)] = None): Int =
    mergeVersionedDV(spark, path, updates, Seq(keyCol), txn)

  /** Composite-key form of [[mergeVersionedDV]] (r15): row identity is
    * the TUPLE of `keyCols`; candidate-file discovery prunes on the
    * leading key column's ranges (see [[mergeVersioned]]). */
  def mergeVersionedDV(spark: SparkSession, path: String,
      updates: DataFrame, keyCols: Seq[String],
      txn: Option[(String, Long)]): Int =
    mergeVersionedOCC(spark, path, updates, keyCols, maxRetries = 0,
      beforeCommit = () => (), txn = txn, mor = true)

  /** [[mergeVersionedDV]]'s commit, after [[mergeVersionedOCC]]'s shared
    * head: `ups` is the pinned batch, `touched` the files that may hold
    * one of its keys. */
  private def mergeOnRead(spark: SparkSession, path: String, v: Int,
      ups: DataFrame, keyCols: Seq[String], schemaNow: StructType,
      summary: BatchKeySummary, touched: IndexedSeq[String],
      marks: Seq[(String, Long)]): Int = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    val outSchema = StructType(
      schemaNow.fields ++ ups.schema.fields.filterNot(f =>
        schemaNow.fieldNames.contains(f.name)))
    val payload = outSchema.fieldNames.filterNot(keyCols.contains).toIndexedSeq
    // composite keys ride as ONE "__k" struct (non-null per the keyed
    // contract), keeping the join/probe shape of the single-key path
    def keyStruct = struct(keyCols.map(c => col(s"`$c`")): _*)
    def norm(df: DataFrame): DataFrame = df.select(filledTo(df, outSchema): _*)
    // live pre-image rows + positions of every file that can hold a
    // batch key (DVs applied: a dead row never blocks an insert or
    // re-marks)
    val pre =
      if (touched.isEmpty)
        emptyFrame(spark, StructType(Seq(
          StructField("__k", StructType(keyCols.map(c => outSchema(c)))),
          StructField("__pre", StructType(payload.map(c => outSchema(c)))),
          StructField("__file", StringType), StructField("__pos", LongType))))
      else {
        val withPos = livePositions(spark, path, v, touched)
        withPos.select(filledTo(withPos, outSchema) ++
            Seq(col("__file"), col("__pos")): _*)
          .select(keyStruct.as("__k"),
            struct(payload.map(c => col(s"`$c`")): _*).as("__pre"),
            col("__file"), col("__pos"))
      }
    val post = norm(ups).select(keyStruct.as("__k"),
      struct(payload.map(c => col(s"`$c`")): _*).as("__post"))
    // one evaluation of the batch ⋈ touched-pre join feeds the empty
    // probe, the append write, the DV write, and the CDF rows — the
    // candidate-file position scan runs ONCE, not once per artifact;
    // the emptiness/changed counts RIDE the checkpoint job itself
    // (CollectMetrics accumulators — observe()), not a job of their own
    val changedCond = col("__file").isNotNull && !(col("__pre") <=> col("__post"))
    val obs = Observation()
    val joined = post.join(pre, Seq("__k"), "left_outer")
      .observe(obs,
        count(when(col("__file").isNull, lit(1))).as("__ni"),
        count(when(changedCond, lit(1))).as("__nc"),
        count(lit(1)).as("__nr"))
      .localCheckpoint()
    val counts = observedCounts(obs, Seq("__ni", "__nc", "__nr"),
      () => {
        val r = joined.agg(count(when(col("__file").isNull, lit(1))),
          count(when(changedCond, lit(1))), count(lit(1))).head()
        Seq(r.getLong(0), r.getLong(1), r.getLong(2))
      })
    val (nIns, nChg, nJoined) = (counts(0), counts(1), counts(2))
    // the target side of the cardinality contract: source keys are
    // unique (refused in the head), so extra joined rows can only mean
    // a batch key matched >1 live pre row — the target's
    // one-live-row-per-key invariant was violated upstream (e.g. via
    // appendVersioned on a keyed table)
    require(nJoined == summary.nRows,
      s"merge: target $path holds multiple live rows for a merge key " +
        "(one-live-row-per-key invariant violated; source keys are unique)")
    if (nIns == 0 && nChg == 0) // pure verbatim batch: no-op version
      return commitDml(path, v)(marks = marks)
    val inserts = joined.filter(col("__file").isNull)
    val changed = joined.filter(changedCond)
    def asRows(df: DataFrame, src: String): DataFrame =
      df.select(keyCols.map(c => col(s"__k.`$c`").as(c)) ++
        payload.map(c => col(s"$src.`$c`").as(c)): _*)
    val appended = asRows(inserts, "__post")
      .unionByName(asRows(changed, "__post").distinct())
    // a pure-insert batch marks nothing — staging its EMPTY DV parquet
    // anyway would tag the version as DV-carrying, forcing the
    // row-based compat read path for no reason
    val (staged, stagedStats, dvStaged, cdfStaged) = stageArtifacts(spark,
      path, v, norm(appended), Some(outSchema),
      dv = if (nChg == 0) None
        else Some(changed.select(
          Seq(col("__file").as("__dv_file"), col("__pos").as("__dv_pos")) ++
            keyCols.map(c => col(s"__k.`$c`").as(c)) ++
            payload.map(c => col(s"__pre.`$c`").as(c)): _*)),
      cdf = if (!cdfEnabled(path, v)) None
        else Some(asRows(inserts, "__post").withColumn("change_type", lit("insert"))
          .unionByName(asRows(changed, "__post").distinct()
            .withColumn("change_type", lit("update")))
          .unionByName(asRows(changed, "__pre")
            .withColumn("change_type", lit("update_preimage")))))
    commitDml(path, v)(staged = staged, stagedStats = stagedStats,
      schema = Some(outSchema), dv = dvEntries(path, v) ++ dvStaged,
      cdf = cdfStaged, bloom = maybeBloom(spark, path, v, staged), marks = marks)
  }

  /** A30 — RECONCILE: fold the accumulated deletion vectors back into
    * plain files (the OPTIMIZE step of merge-on-read). Rewrites ONLY
    * the live files that actually carry dead positions — the DV
    * descriptors name them, so finding them runs no job whichever
    * driver wrote the sidecars — drops every DV ref from the manifest
    * (entries for untouched files cannot exist — they were either
    * rewritten here or already inert), and commits.
    * The live row multiset is unchanged, so the A20 feed across this
    * version is empty and reads simply stop paying the anti join.
    * Returns the new version (current if there are no DVs).
    */
  def reconcileDV(spark: SparkSession, path: String): Int = {
    val v = headOf(path)
    val dvs = dvEntries(path, v)
    if (dvs.isEmpty) return v
    val liveSet = liveFiles(path, v).map(canonical).toSet
    // files with live dead-positions, from the DV descriptors
    val touched = dvMarks(spark, dvs).keys.filter(liveSet.contains).toIndexedSeq
    if (touched.isEmpty) // all entries inert: drop the refs, move on
      return commitDml(path, v)(dv = Nil)
    // through the shared bucket-aware staging: a reconcile on a
    // bucketed dir must re-tag the folded files, or the steady-state
    // MoR + auto-reconcile loop on a composed-bucketed root would
    // silently degrade the exchange-free layout it exists to serve
    val (staged, stats) = stageData(spark, readLive(spark, path, v, touched),
      tableSchema(path, v), path, v + 1, bucketSpecOf(path, v), "dvrec_")
    commitDml(path, v)(touched, staged, stats, dv = Nil)
  }

  /** A22 — OPTIMIZE: a rewrite-only commit that bin-packs small live
    * files up to `targetBytes` (the Delta/Iceberg compaction pattern).
    * Streaming upserts (C25) commit a version per micro-batch; after
    * thousands of batches the live set is thousands of tiny files and
    * scan planning degrades. Compaction reads ONLY the live files
    * smaller than the target, coalesces them — no shuffle: coalesce
    * merges input partitions in place, so the job moves exactly the
    * small-file bytes once — into ⌈Σsize/target⌉ packed files, and
    * commits (live − smalls) + packed as a new version. Pure layout
    * change: the live row multiset is untouched, so the A20 change
    * feed across the compaction version is EMPTY, and every prior
    * version stays time-travelable until vacuum.
    * Returns the new version, or the current one if there is nothing
    * worth packing (fewer than `minFiles` sub-target files).
    */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L << 20, minFiles: Int = 2): Int = {
    val v = headOf(path)
    packSmall(spark, path, v, liveFiles(path, v), _ => true,
      targetBytes, minFiles)
  }

  /** The shared bin-pack body of [[compact]] and [[compactWhere]]:
    * sub-target live files passing `inScope` (canonical path) coalesce
    * into ⌈Σsize/target⌉ packed files as a rewrite-only commit; returns
    * the current version untouched when there is nothing worth packing. */
  private def packSmall(spark: SparkSession, path: String, v: Int,
      live: Seq[String], inScope: String => Boolean,
      targetBytes: Long, minFiles: Int): Int = {
    val (small, big) = live.partition(f => inScope(canonical(f)) &&
      Files.size(Paths.get(canonical(f))) < targetBytes)
    val totalSmall = small.map(f => Files.size(Paths.get(canonical(f)))).sum
    val bins = math.max(1L, (totalSmall + targetBytes - 1) / targetBytes).toInt
    // A50: a bucketed table packs into n bucket-tagged files (one
    // shuffle of only the small bytes, routed through the same bucket
    // hash) — so compaction only makes progress past n files
    val bspec = bucketSpecOf(path, v)
    val minProgress = bspec.map(_._2).getOrElse(bins)
    if (small.size < math.max(minFiles, minProgress + 1)) return v // packed
    // read under the recorded schema: after a widening commit the
    // small set has MIXED physical schemas; packing must null-fill,
    // not silently drop the widened column from pre-widening files
    val packed = readLive(spark, path, v, small)
    val (staged, stats) = stageData(spark,
      if (bspec.isEmpty) packed.coalesce(bins) else packed,
      tableSchema(path, v), path, v + 1, bspec, "compact_")
    commitDml(path, v)(small, staged, stats)
  }

  /** A22 — predicate-scoped OPTIMIZE (the Delta `OPTIMIZE … WHERE`
    * shape, generalized from partition predicates to manifest stats):
    * bin-pack ONLY the sub-target live files whose recorded
    * `[min,max]` for `column` intersects `[lo,hi]` — on a 100 TB
    * table you compact the hot ingest range (the tail a streaming
    * upsert fragments) without touching the cold bulk, so the rewrite
    * cost tracks the scoped range, never the table. Files without a
    * recorded stat for the column are conservatively IN scope (they
    * may hold matching rows; compaction must not skip them forever).
    * Same pure-layout contract as [[compact]]: live row multiset
    * untouched, empty change feed, every prior version travelable.
    */
  def compactWhere(spark: SparkSession, path: String, column: String,
      lo: Long, hi: Long, targetBytes: Long = 128L << 20,
      minFiles: Int = 2): Int = {
    val v = headOf(path)
    val live = liveFiles(path, v)
    val inScope: Set[String] = manifestRanges(path, v, live, column) match {
      case Some(rows) => rows.collect { case (f, mn, mx, t)
          // typeTag-aware parse (the readPrunedRange discipline): a
          // double stat can be "NaN"/"Infinity", where a numeric-cast
          // comparison must keep the file, never crash — NaN compares
          // falsy, so the || keeps it conservatively in scope; r12
          // string-tagged stats don't parse as numbers and stay in
          // scope (a Long range can't judge them)
          if numericStatInRange(t, mn, mx, lo, hi) => f
        }.toSet
      case None => live.map(canonical).toSet // no stats: everything in scope
    }
    packSmall(spark, path, v, live, inScope.contains, targetBytes, minFiles)
  }

  /** A22+A14 — OPTIMIZE ZORDER BY on the snapshot log: re-cluster the
    * ENTIRE live set on the Morton code of (c1, c2) as a rewrite-only
    * commit — the Delta `OPTIMIZE … ZORDER BY` shape. The live row
    * multiset is untouched (the A20 feed across this version is empty,
    * spec-pinned), every prior version stays time-travelable (old files
    * are retired from the manifest, not disk), and after the commit the
    * per-file min/max ranges are narrow on BOTH dimensions, so the
    * A15-style pruned read ([[readPrunedRange]]) skips most files for a
    * range predicate on either column.
    *
    * Unlike bin-packing [[compact]] this deliberately rewrites the full
    * live set — re-clustering is a whole-table layout decision. At
    * 100 TB you run it per partition of a partitioned table; the commit
    * protocol is the same either way.
    */
  def compactZOrder(spark: SparkSession, path: String,
      c1: String, c2: String, numFiles: Int): Int =
    compactZOrderCols(spark, path, Seq(c1, c2), numFiles)

  /** N-column form (r8 — the Delta `ZORDER BY (a, b, c…)` shape): the
    * 1024-bucket normalization and bit interleave generalize to any
    * 2..6 columns (10 bits/dim within the 62-bit positive-long
    * budget); N=2 keeps the proven native Morton kernel, N>2 runs the
    * same interleave as codegen'd stock bit arithmetic. */
  def compactZOrderCols(spark: SparkSession, path: String,
      cols: Seq[String], numFiles: Int): Int = {
    val v = headOf(path)
    // A50: Z-order's global Morton sort and the hash-bucket layout are
    // mutually exclusive whole-table layout decisions — silently
    // destroying the bucket property (and with it every exchange-free
    // join downstream) would be far worse than refusing here
    require(bucketSpecOf(path, v).isEmpty,
      s"graft: $path is hash-bucketed — ZORDER would destroy the bucket " +
        "layout; use compact() (bucket-preserving) instead")
    val live = liveFiles(path, v)
    require(live.nonEmpty, s"$path has no live files at v$v")
    // readLive + full rewrite: every DV entry becomes inert here, so
    // the commit drops the DV set entirely — ZORDER doubles as the
    // merge-on-read → pure-files reconciliation point
    val (staged, stats) = stageData(spark, Sources.zClusteredCols(
      readLive(spark, path, v, live), cols, numFiles), tableSchema(path, v),
      path, v + 1, None, "zorder_")
    commitNext(path, v, staged, tableSchema(path, v), stats, cdf = Some(Seq.empty),
      clusterOverride = Some((cols, staged)))
  }

  /** A39 — INCREMENTAL OPTIMIZE ZORDER: re-cluster ONLY the live files
    * not already part of the clustered set the last (full or
    * incremental) ZORDER left behind — the copy-on-write outputs of
    * merges, streaming micro-batch commits, appends. Bytes rewritten
    * track INGEST since the last optimize, never table size; the
    * untouched clustered generations keep their narrow per-file ranges
    * (pruning works per file, so pruning power degrades only with the
    * number of generations, which a periodic full [[compactZOrder]]
    * resets). Clustering columns come from the carried manifest marker
    * — refuses if no full ZORDER ever ran. Rewriting the tail through
    * [[readLive]] also folds any DV positions on tail files. Returns
    * the new version (the current one if the tail is empty).
    */
  def compactZOrderIncremental(spark: SparkSession, path: String,
      targetBytes: Long = 128L << 20): Int = {
    val v = headOf(path)
    val cols = clusterOf(path, v).getOrElse(throw new IllegalArgumentException(
      s"$path has no clustering columns recorded — run compactZOrder once first"))
    val live = liveFiles(path, v)
    val clustered = clusterFilesOf(path, v)
    val tail = live.filterNot(f => clustered.contains(canonical(f)))
    if (tail.isEmpty) return v
    val tailBytes = tail.map(f => Files.size(Paths.get(canonical(f)))).sum
    val bins = math.max(1L, (tailBytes + targetBytes - 1) / targetBytes).toInt
    val (staged, stats) = stageData(spark, Sources.zClusteredCols(
      readLive(spark, path, v, tail), cols, bins), tableSchema(path, v),
      path, v + 1, None, "zinc_")
    val retained = live.filter(f => clustered.contains(canonical(f)))
    commitNext(path, v, retained ++ staged, tableSchema(path, v),
      carriedStats(path, v, retained) ++ stats,
      dvEntries(path, v), cdf = Some(Seq.empty),
      clusterOverride = Some((cols, retained ++ staged)))
  }

  /** A15 over the LIVE set: range read through a per-file min/max index
    * built on the manifest's files only (one scan of the version —
    * at 100 TB the index is maintained incrementally per commit, like
    * Delta's per-file stats in the log). Files whose [min, max] misses
    * [lo, hi] are pruned from the FILE LIST before Spark plans the
    * scan; the row-level predicate re-applies on top. After
    * [[compactZOrder]] on (c1, c2) this prunes on EITHER dimension.
    */
  def readPrunedRange(spark: SparkSession, path: String, column: String,
      lo: Long, hi: Long, version: Int = -1): DataFrame = {
    val v = if (version < 0) currentVersion(path) else version
    require(Files.exists(manifestPath(path, v)), s"no version $v at $path")
    val files = liveFiles(path, v)
    // lazy: under a stats-complete manifest the pruned read never
    // lists the files it skips
    lazy val full = readLive(spark, path, v, files)
    // NO integral cast anywhere: Spark's double→long truncates where
    // other engines round, so the predicate compares in the column's
    // own type (numeric literals promote)
    val pred = col(column) >= lo && col(column) <= hi
    val keep: Seq[String] = manifestRanges(path, v, files, column) match {
      case Some(rows) =>
        // A27: the manifest alone decides the file list — driver-side
        // interval checks, zero jobs before the pruned scan itself
        rows.filter { case (_, mn, mx, t) =>
          numericStatInRange(t, mn, mx, lo, hi) }.map(_._1)
      case None => readUnder(spark, path, v, files) // pre-A27: one stats
        // scan — RAW read, not readLive: input_file_name() is unusable
        // after the DV anti join, and stats over DV-dead rows merely
        // over-approximate the ranges (sound for pruning)
        .withColumn("__file", input_file_name())
        .groupBy("__file")
        .agg(min(col(column)).as("__min"), max(col(column)).as("__max"))
        .filter(!(col("__max") < lo || col("__min") > hi))
        .select("__file").collect().map(r => canonical(r.getString(0))).toSeq
    }
    if (keep.isEmpty) full.filter(pred).limit(0)
    else readLive(spark, path, v, keep.toIndexedSeq).filter(pred)
  }

  /** A20 — change feed between two committed versions (the Delta CDF
    * pattern): per-key inserts, updates, and deletes from `fromV` to
    * `toV`. Reads ONLY the manifest diff — files live in exactly one
    * of the two versions — because data files are immutable: a key in
    * a file both versions share cannot have changed, so the scan cost
    * tracks CHANGED files, not table size (the property that makes a
    * change feed usable on a 100 TB table; a naive two-version diff
    * would be two full scans + a table-wide join). Keys rewritten
    * verbatim during a copy-on-write merge appear on both sides with
    * equal payloads and are dropped by the null-safe compare.
    */
  def changesBetween(spark: SparkSession, path: String, fromV: Int, toV: Int,
      keyCol: String): DataFrame =
    changeFrame(spark, path, fromV, toV, keyCol)
      .select(col("__k").as(keyCol), col("change_type"))

  /** A20 change feed WITH post-image payload: every inserted/updated
    * key carries its new non-key columns (null for deletes) — the form
    * a downstream pipeline can apply as an upsert+delete, which the
    * key-only feed cannot. Same manifest-diff cost as
    * [[changesBetween]].
    */
  def changesWithPayload(spark: SparkSession, path: String, fromV: Int, toV: Int,
      keyCol: String): DataFrame = {
    val cf = changeFrame(spark, path, fromV, toV, keyCol)
    val payload = cf.schema("__post").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toIndexedSeq
    cf.select(col("__k").as(keyCol) +: col("change_type") +:
      payload.map(c => col(s"__post.$c").as(c)): _*)
  }

  /** A20/A23 (r9) — the change feed in Delta CDF row form: one row per
    * change tagged `_change_type` ∈ insert / update_preimage /
    * update_postimage / delete. Deletes and update pre-images carry
    * the OLD payload; inserts and update post-images the new — the
    * shape a downstream CDC consumer (audit log, slowly-changing
    * mirror) applies directly. Single-step windows serve from A31
    * stored change rows when the commit recorded update pre-images
    * (r9+ writers); legacy commits and multi-version windows fall back
    * to the manifest diff, whose full-outer compare has both images by
    * construction. Cost keeps the changed-data-only bound of
    * [[changesBetween]] either way.
    */
  def changesCdf(spark: SparkSession, path: String, fromV: Int, toV: Int,
      keyCol: String): DataFrame = {
    val cf = changeFrame(spark, path, fromV, toV, keyCol, needUpdatePre = true)
    val payload = cf.schema("__post").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toIndexedSeq
    def img(src: String, tag: String,
        pred: org.apache.spark.sql.Column): DataFrame =
      cf.filter(pred).select(col("__k").as(keyCol) +:
        lit(tag).as("_change_type") +:
        payload.map(c => col(s"$src.`$c`").as(c)): _*)
    img("__post", "insert", col("change_type") === "insert")
      .unionByName(img("__pre", "delete", col("change_type") === "delete"))
      .unionByName(
        img("__pre", "update_preimage", col("change_type") === "update"))
      .unionByName(
        img("__post", "update_postimage", col("change_type") === "update"))
  }

  /** Rows of the SHARED files whose positions appear in `diffDvs` (the
    * DV entries one feed endpoint has and the other doesn't): the
    * merge-on-read rows that changed liveness without any file
    * changing. Reads ONLY the shared files the diff entries hit, which
    * their descriptors name — cost tracks the DV delta, preserving the
    * feed's changed-data-only property. */
  private def dvDiffRows(spark: SparkSession,
      hint: Option[org.apache.spark.sql.types.StructType],
      shared: Set[String], diffDvs: Seq[DvEntry]): Option[DataFrame] = {
    if (diffDvs.isEmpty || shared.isEmpty) return None
    val hit = dvMarks(spark, diffDvs).keys.filter(shared.contains).toIndexedSeq
    if (hit.isEmpty) return None
    val dv = readDv(spark, diffDvs.map(_.sidecar))
    val rows = readFilesAsWithPos(spark, hint, hit)
    Some(rows.join(dv,
        rows("__file") === dv("__dv_file") && rows("__pos") === dv("__dv_pos"),
        "left_semi")
      .drop("__file", "__pos"))
  }

  /** A31 fast path: serve a SINGLE-STEP feed window from the commit's
    * stored change data — cost ∝ changed rows, not changed files.
    * Returns None (fall back to the manifest diff) when the commit
    * didn't record change data, the recorded schema is absent, or the
    * stored files don't carry the expected columns.
    */
  private def cdfFrame(spark: SparkSession, path: String, v: Int,
      keyCol: String, needUpdatePre: Boolean = false): Option[DataFrame] = {
    import org.apache.spark.sql.types.{StructType, StructField, StringType}
    val s = tableSchema(path, v).getOrElse(return None)
    if (!s.fieldNames.contains(keyCol)) return None
    val payload = s.fieldNames.filterNot(_ == keyCol).toIndexedSeq
    val payloadType = StructType(payload.map(c => s(c)))
    val fs = cdfFilesOf(path, v)
    if (fs.isEmpty) // recorded as a no-change commit: typed empty
      return Some(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("__k", s(keyCol).dataType),
          StructField("change_type", StringType),
          StructField("__pre", payloadType),
          StructField("__post", payloadType)))))
    // the stored files' OWN columns, from one footer: a file that lacks
    // an expected column must still send the caller to the fallback
    val footers = (if (needUpdatePre) fs else fs.take(1)).map(parquetFooter)
    val fileSchema = footerSchema(fs.head, footers.head)
    if (!fileSchema.fieldNames.contains(keyCol) ||
        !fileSchema.fieldNames.contains("change_type") ||
        !payload.forall(fileSchema.fieldNames.contains)) return None
    val rows = spark.read.schema(fileSchema).parquet(fs: _*)
    if (needUpdatePre) {
      // legacy commits (pre-r9) stored no update pre-images: a CDF-
      // style consumer falls back to the manifest diff for them
      // (when the footers cannot tell, one shuffle-free job collects
      // the update kinds each partition holds)
      val legacy = updatesWithoutPreimages(footers).getOrElse {
        val kinds = rows
          .filter(col("change_type").isin("update", "update_preimage"))
          .select(col("change_type")).as(Encoders.STRING)
          .mapPartitions(_.toSet.iterator)(Encoders.STRING)
          .collect().toSet
        kinds.contains("update") && !kinds.contains("update_preimage")
      }
      if (legacy) return None
    }
    // stored rows: post-image for inserts/updates, pre-image for
    // deletes, plus (r9+) 'update_preimage' companion rows. __pre is
    // the stored payload itself for deletes; for updates it is
    // reconstructed from the companions only when the caller asked for
    // update pre-images (the post-image feeds drop __pre, so they skip
    // the join). The __post contract is unchanged (nulled for deletes).
    val baseRows = rows.filter(col("change_type") =!= "update_preimage")
      .select(col(s"`$keyCol`").as("__k"), col("change_type"),
        when(col("change_type") === "delete",
          struct(payload.map(c => col(s"`$c`")): _*)).cast(payloadType)
          .as("__dpre"),
        when(col("change_type") === "delete", lit(null).cast(payloadType))
          .otherwise(struct(payload.map(c => col(s"`$c`")): _*)).as("__post"))
    if (!needUpdatePre) return Some(baseRows.withColumnRenamed("__dpre", "__pre"))
    val pres = rows.filter(col("change_type") === "update_preimage")
      .select(col(s"`$keyCol`").as("__pk"),
        struct(payload.map(c => col(s"`$c`")): _*).as("__upre"))
    Some(baseRows.join(pres, baseRows("__k") === pres("__pk"), "left_outer")
      .select(col("__k"), col("change_type"),
        coalesce(col("__upre"), col("__dpre")).cast(payloadType).as("__pre"),
        col("__post")))
  }

  /** Whether stored change files hold 'update' rows but no
    * 'update_preimage' companions (a legacy commit), answered from the
    * row groups' max statistic on `change_type`. Exact: 'update_preimage'
    * sorts after every other change type, so a row group holds one iff
    * its max is that value; without any, a row group holds an 'update'
    * iff its max is 'update'. None when a non-empty row group carries no
    * usable statistics. */
  private def updatesWithoutPreimages(
      footers: Seq[org.apache.parquet.hadoop.metadata.ParquetMetadata])
      : Option[Boolean] = {
    val maxes = footers.flatMap(_.getBlocks.asScala).filter(_.getRowCount > 0)
      .map(b => b.getColumns.asScala.find(_.getPath.toDotString == "change_type")
        .map(_.getStatistics).filter(st => st != null && st.hasNonNullValue)
        .map(_.genericGetMax match {
          case bin: org.apache.parquet.io.api.Binary => bin.toStringUsingUTF8
          case other => String.valueOf(other)
        }))
    if (maxes.exists(_.isEmpty)) None
    else {
      val ms = maxes.flatten.toSet
      Some(ms.contains("update") && !ms.contains("update_preimage"))
    }
  }

  private def changeFrame(spark: SparkSession, path: String, fromV: Int, toV: Int,
      keyCol: String, needUpdatePre: Boolean = false): DataFrame = {
    require(fromV <= toV, s"changesBetween: fromV $fromV > toV $toV")
    // single-step window over a change-recording commit: the stored
    // rows ARE the answer (the incremental consumer's every batch)
    if (toV == fromV + 1 && cdfRecorded(path, toV))
      cdfFrame(spark, path, toV, keyCol, needUpdatePre) match {
        case Some(f) => return f
        case None    => () // fall through to the manifest diff
      }
    val a = liveFiles(path, fromV).toSet
    val b = liveFiles(path, toV).toSet
    // compare under toV's recorded schema (fallback: fromV's): across
    // a widening commit the pre side null-fills the new column, so a
    // row whose only change is that column going null→value correctly
    // reads as an update, and the feed's payload stays typed
    val hint = tableSchema(path, toV).orElse(tableSchema(path, fromV))
    // each endpoint's diff-side files read under ITS OWN DV set — a row
    // already dead at an endpoint is not part of that endpoint's state
    def readFiles(fs: Set[String], dvs: Seq[String]): Option[DataFrame] =
      if (fs.isEmpty) None
      else if (dvs.isEmpty) Some(readFilesAs(spark, hint, fs.toSeq))
      else Some(applyDv(spark, readFilesAsWithPos(spark, hint, fs.toSeq), dvs)
        .drop("__file", "__pos"))
    val dvA = dvEntries(path, fromV)
    val dvB = dvEntries(path, toV)
    def minus(x: Seq[DvEntry], y: Seq[DvEntry]): Seq[DvEntry] = {
      val ys = y.map(_.sidecar).toSet
      x.filterNot(e => ys.contains(e.sidecar))
    }
    // merge-on-read changes live in SHARED files the file diff cannot
    // see: DV entries added in the window are deletes (pre-only rows —
    // disjoint from dvA by construction, so they were live at fromV);
    // entries REMOVED (a restore to a pre-DV version) are re-inserts
    val shared = a.intersect(b)
    val preExtra = dvDiffRows(spark, hint, shared, minus(dvB, dvA))
    val postExtra = dvDiffRows(spark, hint, shared, minus(dvA, dvB))
    val preOpt = (readFiles(a -- b, dvA.map(_.sidecar)).toSeq ++ preExtra)
      .reduceOption(_.unionByName(_))
    val postOpt = (readFiles(b -- a, dvB.map(_.sidecar)).toSeq ++ postExtra)
      .reduceOption(_.unionByName(_))
    // schema from the DIFF reads (a full-version read would touch the
    // whole live set and break the changed-files-only cost property);
    // both diffs empty = no changes, where ONE footer suffices to type
    // the empty result — from either endpoint, else from any retained
    // version (two consecutive delete-all commits must still type the
    // key as bigint, not a guessed string, or a caller unioning feed
    // batches hits a type mismatch only on the empty window). An empty
    // toV (a delete-all commit) types from the fromV side.
    val schema = postOpt.orElse(preOpt).map(_.schema)
      .orElse(hint)
      .orElse((b ++ a).headOption.map(f => spark.read.parquet(f).schema))
      .orElse((currentVersion(path) to 0 by -1).view
        .flatMap(v => liveFiles(path, v).headOption).headOption
        .map(f => spark.read.parquet(f).schema))
      .getOrElse(new org.apache.spark.sql.types.StructType()
        .add(keyCol, org.apache.spark.sql.types.StringType))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val pre = preOpt.getOrElse(empty)
    val post = postOpt.getOrElse(empty)
    val cols = schema.fieldNames.filterNot(_ == keyCol)
    val preS = pre.select(col(keyCol).as("__k"),
      struct(cols.toIndexedSeq.map(col): _*).as("__pre"))
    val postS = post.select(col(keyCol).as("__k"),
      struct(cols.toIndexedSeq.map(col): _*).as("__post"))
    preS.join(postS, Seq("__k"), "full_outer")
      .withColumn("change_type",
        when(col("__pre").isNull, lit("insert"))
          .when(col("__post").isNull, lit("delete"))
          .when(!(col("__pre") <=> col("__post")), lit("update"))
          .otherwise(lit(null)))
      .filter(col("change_type").isNotNull)
  }

  /** Reclaim space: delete data files referenced ONLY by versions
    * older than `keepFrom`, and drop those versions' manifests.
    * Returns the number of data files deleted. Time travel to
    * versions < keepFrom is gone after this — the retention trade
    * every table format exposes.
    */
  /** The reclaim plan for `vacuum(path, keepFrom)`:
    * (data files to delete, orphan files to sweep, manifests to drop).
    * Pure computation — [[vacuumDryRun]] surfaces it, [[vacuum]]
    * executes it.
    */
  /** A55/A57 vacuum leases: an "mv."-prefixed tag is a retention
    * FLOOR — the whole window [leaseV, head] must survive (a
    * multi-commit refresh needs every intermediate version's stored
    * change data, and a join MV time-travels to the lease version
    * itself), not just the tagged version like an ordinary A37 tag.
    * The effective keepFrom clamps under the lowest lease. */
  private def vacuumKeep(path: String, keepFrom: Int): Int = {
    val cur = currentVersion(path)
    val floors = Refs.tags(path).collect {
      case (n, v) if n.startsWith("mv.") && v >= 0 && v <= cur => v }
    (floors.toSeq :+ keepFrom).min
  }

  private def vacuumPlan(path: String,
      keepFrom0: Int): (Set[String], Seq[String], Seq[Int]) = {
    val cur = currentVersion(path)
    require(keepFrom0 >= 0 && keepFrom0 <= cur,
      s"keepFrom $keepFrom0 out of range 0..$cur")
    val keepFrom = vacuumKeep(path, keepFrom0)
    // DV files (A30) and stored change data (A31) are references too:
    // a retained version's DVs must survive vacuum or its reads
    // resurrect dead rows, and its change data must survive or a
    // lagging feed consumer loses its next batch
    // an already-vacuumed version contributes nothing (a SECOND vacuum
    // iterates over the same 0..keepFrom range, where earlier sweeps —
    // or tag-released re-sweeps — have left manifest holes; reading a
    // dropped manifest here used to throw)
    def referenced(v: Int): Seq[String] =
      if (!hasVersion(path, v)) Seq.empty
      else liveFiles(path, v) ++ dvFiles(path, v) ++ cdfFilesOf(path, v) ++
        bloomIdxFiles(path, v)
    // A37: TAGGED versions (and branch bases, auto-tagged) are pinned —
    // their manifests and referenced files survive any keepFrom, so a
    // named release or an unpublished branch's borrowed files can never
    // be reclaimed out from under a reader (drop the tag to release)
    val tagged = Refs.tags(path).values.toSet.filter(v => v >= 0 && v <= cur)
    val retained = ((keepFrom to cur) ++ tagged.filter(_ < keepFrom))
      .flatMap(referenced).map(canonical).toSet
    // containment rule (A29): only files UNDER this table's directory
    // are this table's to reclaim — a shallow clone's manifest borrows
    // the source's files by absolute path, and the clone retiring a
    // borrowed file must never delete the SOURCE's data.
    val root = Paths.get(path).toAbsolutePath.normalize.toString +
      java.io.File.separator
    val dropped = ((0 until keepFrom).flatMap(referenced)
      .map(canonical).toSet -- retained).filter(_.startsWith(root))
    // orphan sweep: a crash between staging data files and commit
    // leaves *.parquet no manifest references; they'd otherwise never
    // be reclaimed (and a later init would absorb them). Single-writer
    // assumption: no merge may be in flight during vacuum.
    val orphans = listDir(Paths.get(path))
      .map(_.toString).filter(_.endsWith(".parquet")).map(canonical)
      .filterNot(f => retained.contains(f) || dropped.contains(f))
    (dropped, orphans, (0 until keepFrom).filterNot(tagged.contains))
  }

  /** What `vacuum(path, keepFrom)` WOULD reclaim, without touching
    * anything: the data+orphan files to delete (Delta's `VACUUM … DRY
    * RUN`) — the operator's look-before-you-leap on an irreversible
    * retention cut. */
  def vacuumDryRun(path: String, keepFrom: Int): Seq[String] = {
    val (dropped, orphans, _) = vacuumPlan(path, keepFrom)
    (dropped.toSeq ++ orphans).sorted
  }

  /** Rewrite `v`'s manifest in place as a FULL snapshot (same resolved
    * content, self-contained). Atomic replace; racing readers see one
    * form or the other, which resolve identically as long as the base
    * chain still exists — which vacuum guarantees by materializing
    * BEFORE it drops anything. */
  private def materializeManifest(path: String, v: Int): Unit = {
    val lines = manifestLines(path, v)
    CommitStores.get.replace(manifestPath(path, v),
      lines.mkString("\n").getBytes("UTF-8"))
  }

  /** Force-materialize version `v` (default: head) as a FULL manifest
    * — the operator-facing control over the delta-log read chain: a
    * read of a delta version resolves ≤ CheckpointEvery manifests,
    * and a latency-sensitive serving table can pin that to ONE
    * whenever it likes (content-equivalent, in place, no new
    * version). Returns true if a delta was materialized, false if the
    * manifest was already full. */
  def checkpoint(path: String, v: Int = -1): Boolean = {
    val at = if (v < 0) currentVersion(path) else v
    require(hasVersion(path, at), s"no version $at at $path")
    val wasDelta = isDeltaManifest(path, at)
    if (wasDelta) materializeManifest(path, at)
    wasDelta
  }

  def vacuum(path: String, keepFrom: Int): Int = {
    val (dropped, orphans, manifests) = vacuumPlan(path, keepFrom)
    val kf = vacuumKeep(path, keepFrom) // same lease clamp as the plan
    // delta-log invariant: every RETAINED version must resolve from
    // retained manifests alone. Ascending order makes the induction
    // hold — once v-1 is either full, materialized, or resolvable
    // within the retained set, a retained delta at v only needs
    // materializing when its immediate base is about to be dropped.
    val dropSet = manifests.toSet
    val cur = currentVersion(path)
    val tagged = Refs.tags(path).values.toSet.filter(v => v >= 0 && v <= cur)
    (((kf to cur) ++ tagged.filter(_ < kf)).distinct.sorted)
      .foreach { v =>
        if (isDeltaManifest(path, v) &&
            (dropSet.contains(v - 1) || !hasVersion(path, v - 1)))
          materializeManifest(path, v)
      }
    dropped.foreach(f => Files.deleteIfExists(Paths.get(f)))
    orphans.foreach(f => Files.deleteIfExists(Paths.get(f)))
    // crashed commits/markers leave *.tmp in the log dir that nothing
    // else reclaims (the same crash window the orphan sweep exists for)
    listDir(logDir(path)).filter(_.getFileName.toString.endsWith(".tmp"))
      .foreach(Files.deleteIfExists(_))
    manifests.foreach(v => Files.deleteIfExists(manifestPath(path, v)))
    dropped.size + orphans.size
  }

  /** A38+retention — time-based vacuum (Delta's `VACUUM … RETAIN`):
    * keep every version still readable at `cutoffMillis` — i.e. drop
    * strictly-older history — computed from the recorded commit
    * timestamps. A cutoff before the earliest retained commit is a
    * no-op (keepFrom = earliest). Returns files reclaimed.
    */
  def vacuumBefore(path: String, cutoffMillis: Long): Int = {
    val keepFrom =
      try versionAsOfTime(path, cutoffMillis)
      catch { case _: IllegalArgumentException => earliestVersion(path) }
    vacuum(path, keepFrom)
  }
}
