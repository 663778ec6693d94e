package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.sources.{BucketTransform, DayTransform, HiddenPartitions, HourTransform, ModTransform, MonthTransform, Snapshots, TruncateTransform, YearTransform}

/** Hidden (transform) partitioning: queries filter the RAW column;
  * directories prune through the transform; the layout never appears
  * in the schema.
  */
class HiddenPartitionSpec extends GraftSuite {

  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    val scans = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s }
    assert(scans.nonEmpty, "expected a FileSourceScanExec")
    scans.map(_.metrics("numFiles").value).sum
  }

  test("mod transform: equality on the raw key prunes to one partition") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_hidden_mod").toString + "/t"
    HiddenPartitions.init(spark, root,
      (1L to 1000L).map(k => (k, s"v$k")).toDF("k", "payload"),
      ModTransform("k", 8))
    val df = spark.read.format("graft").load(root)
    // the layout is HIDDEN: schema is exactly the data columns
    assert(df.columns.toSeq == Seq("k", "payload"))
    // full scan sees every partition's file(s)
    val total = scannedFiles(df)
    assert(total >= 8)
    // equality on the raw key: at most one partition's files survive
    // (per-file stats prune further WITHIN the partition)
    val one = df.filter(col("k") === 437L)
    val oneFiles = scannedFiles(one)
    assert(oneFiles <= total / 8 && oneFiles >= 1)
    assert(one.select("payload").head().getString(0) == "v437")
    // IN over two residues: at most two partitions
    val two = df.filter(col("k").isin(437L, 438L))
    val twoFiles = scannedFiles(two)
    assert(twoFiles <= total / 4 && twoFiles >= 1)
    // a non-prunable predicate still answers exactly
    assert(df.filter(col("payload") === "v7").count() == 1)

    // merge routes by the transform; untouched partitions keep their
    // version (maintenance cost tracks the touched residues)
    val before = graft.sources.PartitionedSnapshots.versions(root)
    HiddenPartitions.merge(spark, root,
      Seq((437L, "UPD")).toDF("k", "payload"), "k")
    val after = graft.sources.PartitionedSnapshots.versions(root)
    assert(after("5") == before("5") + 1) // 437 % 8 = 5
    assert(after.filter(_._1 != "5") == before.filter(_._1 != "5"))
    assert(spark.read.format("graft").load(root)
      .filter(col("k") === 437L).select("payload").head().getString(0) == "UPD")
  }

  test("day transform: a time-range filter on the raw timestamp prunes to matching days") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_hidden_day").toString + "/t"
    // three UTC days, 8 events each, with full time-of-day fidelity
    val rows = for (d <- 0 until 3; h <- 0 until 8) yield
      (d * 8 + h.toLong,
        java.sql.Timestamp.from(java.time.Instant.parse(
          f"2024-03-0${d + 5}T$h%02d:30:15Z")))
    // one file per day partition → exact file-count arithmetic below
    HiddenPartitions.init(spark, root, rows.toDF("id", "ts").coalesce(1),
      DayTransform("ts"))
    val df = spark.read.format("graft").load(root)
    assert(df.columns.toSeq == Seq("id", "ts"))
    val total = scannedFiles(df)
    // the raw column keeps its time-of-day (nothing truncated)
    assert(df.filter(col("id") === 1L).select(date_format(col("ts"),
      "HH:mm:ss")).head().getString(0) == "01:30:15")
    // one-day range: only that day's partition scans
    val day2 = df.filter(col("ts") >= lit("2024-03-06 00:00:00").cast("timestamp") &&
      col("ts") < lit("2024-03-07 00:00:00").cast("timestamp"))
    assert(scannedFiles(day2) == total / 3)
    assert(day2.count() == 8)
    // a range spanning two days keeps exactly two partitions
    val span = df.filter(col("ts") >= lit("2024-03-06 04:00:00").cast("timestamp") &&
      col("ts") < lit("2024-03-08 00:00:00").cast("timestamp"))
    assert(scannedFiles(span) == 2 * total / 3)
    assert(span.count() == 4 + 8)
  }

  test("truncate transform: prefix equality and string ranges prune") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_hidden_tr").toString + "/t"
    val rows = for (p <- Seq("aa", "bb", "cc"); i <- 1 to 5) yield
      (s"$p-key-$i", p.head.toLong * 100 + i)
    HiddenPartitions.init(spark, root, rows.toDF("name", "x").coalesce(1),
      TruncateTransform("name", 2))
    val df = spark.read.format("graft").load(root)
    val total = scannedFiles(df)
    // equality prunes to the matching prefix partition
    val eq = df.filter(col("name") === "bb-key-3")
    assert(scannedFiles(eq) == total / 3)
    assert(eq.select("x").head().getLong(0) == 'b'.toLong * 100 + 3)
    // string range: name >= "bb" keeps bb and cc, drops aa
    val ge = df.filter(col("name") >= "bb")
    assert(scannedFiles(ge) == 2 * total / 3)
    assert(ge.count() == 10)
  }

  test("metadata-only aggregates and manifest stats compose with hidden roots") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_hidden_meta").toString + "/t"
    HiddenPartitions.init(spark, root,
      (1L to 600L).map(k => (k, k * 2)).toDF("k", "x"),
      ModTransform("k", 4))
    // needs the extensions (optimizer rule) — sibling session
    val s = graft.plans.GraftSessions.withExtensions(spark)
    val agg = s.read.format("graft").load(root)
      .agg(count(lit(1)).as("n"), min("k").as("min_k"),
        max("x").as("max_x"))
    assert(agg.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }.isEmpty, "expected the hidden-root aggregate to answer from manifests")
    val r = agg.collect()(0)
    assert(r.getLong(0) == 600L && r.getLong(1) == 1L && r.getLong(2) == 1200L)
  }

  test("null transform column refuses; streaming a hidden root refuses") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_hidden_nul").toString + "/t"
    intercept[IllegalArgumentException] {
      HiddenPartitions.init(spark, root,
        Seq((Some(1L), "a"), (None, "b")).map { case (k, v) =>
          (k.map(java.lang.Long.valueOf).orNull, v) }.toDF("k", "payload"),
        ModTransform("k", 4))
    }
    val ok = Files.createTempDirectory("graft_hidden_ok").toString + "/t"
    HiddenPartitions.init(spark, ok,
      (1L to 20L).map(k => (k, s"v$k")).toDF("k", "payload"),
      ModTransform("k", 4))
    // r13: streaming a hidden root WORKS — but the stream schema must
    // not leak the hidden layout (no partition column; the transform's
    // source column streams at full fidelity)
    val streamed = spark.readStream.format("graft")
      .option("keyCol", "k").load(ok)
    assert(streamed.schema.fieldNames.toSet ==
      Set("k", "change_type", "payload", "_commit_version"))
    // version-addressed options are per-dir concepts on a hidden root
    // (the V1 source is created on the stream thread, so the refusal
    // surfaces at termination, not at start)
    val ckptR = Files.createTempDirectory("graft_hidden_refuse").toString
    val q = spark.readStream.format("graft").option("keyCol", "k")
      .option("startingVersion", 0).load(ok)
      .writeStream.format("noop")
      .option("checkpointLocation", ckptR)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(err.getMessage.contains("undefined on a hidden-partitioned root"))
  }

  // ---- A53: partition-spec EVOLUTION ------------------------------

  test("evolve: old epochs keep their layout, keys never duplicate") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_evolve").toString + "/t"
    HiddenPartitions.init(spark, root,
      (1L to 400L).map(k => (k, s"v$k")).toDF("k", "payload"),
      ModTransform("k", 4))
    // evolve: future writes route mod 8; zero rows move
    assert(HiddenPartitions.evolve(root, ModTransform("k", 8)) == 1)
    assert(HiddenPartitions.specsOf(root).size == 2)
    val e0Before = graft.sources.PartitionedSnapshots.versions(root)

    // wave: updates to OLD keys (live in epoch 0) + brand-new keys
    val wave = (1L to 400L by 40).map(k => (k, "UPD"))
      .++((1001L to 1016L).map(k => (k, s"new$k"))).toDF("k", "payload")
    val res = HiddenPartitions.merge(spark, root, wave, "k")
    // old keys updated IN PLACE: labels e0:<residue>, epoch-0 dirs only
    assert(res.keys.exists(_.startsWith("e0:")), res.keys.toSeq.sorted)
    // new keys landed by the CURRENT transform in part.e1= dirs
    val e1Vals = HiddenPartitions.epochValues(root, 1)
    assert(e1Vals.nonEmpty, "new keys must bootstrap epoch-1 partitions")
    // epoch-0 partitions NOT holding updated keys keep their version
    val e0After = graft.sources.PartitionedSnapshots.versions(root)
    assert(e0After.keySet == e0Before.keySet,
      "inserts must never land in old-epoch partitions")

    // the table reads whole, exactly, with no key duplicated
    val df = spark.read.format("graft").load(root)
    assert(df.columns.toSeq == Seq("k", "payload"))
    assert(df.count() == 400 + 16)
    assert(df.select("k").distinct().count() == 416,
      "a key must live in exactly one partition across epochs")
    assert(df.filter(col("k") === 41L).select("payload")
      .head().getString(0) == "UPD")
    assert(df.filter(col("k") === 1001L).select("payload")
      .head().getString(0) == "new1001")
    // library read agrees
    val lib = HiddenPartitions.read(spark, root)
    assert(lib.count() == 416)

    // a SECOND wave updating a post-evolution key updates it in place
    // in epoch 1 (no third copy)
    HiddenPartitions.merge(spark, root,
      Seq((1001L, "UPD2")).toDF("k", "payload"), "k")
    val df2 = spark.read.format("graft").load(root)
    assert(df2.filter(col("k") === 1001L).count() == 1)
    assert(df2.filter(col("k") === 1001L).select("payload")
      .head().getString(0) == "UPD2")
  }

  test("evolve: each epoch prunes through its OWN transform") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_evolve_prune").toString + "/t"
    HiddenPartitions.init(spark, root,
      (1L to 400L).map(k => (k, s"v$k")).toDF("k", "payload"),
      ModTransform("k", 4))
    HiddenPartitions.evolve(root, ModTransform("k", 8))
    HiddenPartitions.merge(spark, root,
      (1001L to 1400L).map(k => (k, s"v$k")).toDF("k", "payload"), "k")
    val df = spark.read.format("graft").load(root)
    val total = scannedFiles(df)
    // equality on the key: ≤ 1 partition per EPOCH survives (k%4 in
    // epoch 0, k%8 in epoch 1) — out of 4 + 8 partitions
    val one = df.filter(col("k") === 437L)
    assert(scannedFiles(one) <= total / 4,
      s"expected ≤ ${total / 4} files for a point probe, " +
        s"got ${scannedFiles(one)} of $total")
    // the row itself is correct (routes to epoch 0, 437 <= 400 is
    // absent; probe an existing old key and a new key)
    assert(df.filter(col("k") === 101L).select("payload")
      .head().getString(0) == "v101")
    assert(df.filter(col("k") === 1101L).select("payload")
      .head().getString(0) == "v1101")
  }

  test("evolve: cross-column evolution and SET refusal for every epoch") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_evolve_col").toString + "/t"
    HiddenPartitions.init(spark, root,
      (1L to 100L).map(k => (k, s"s${k % 3}", s"v$k"))
        .toDF("k", "cat", "payload"),
      ModTransform("k", 4))
    HiddenPartitions.evolve(root, TruncateTransform("cat", 2))
    // new keys route by the string prefix now
    HiddenPartitions.merge(spark, root,
      Seq((500L, "zz9", "new")).toDF("k", "cat", "payload"), "k")
    assert(HiddenPartitions.epochValues(root, 1).contains("zz"))
    val df = spark.read.format("graft").load(root)
    assert(df.count() == 101)
    // old keys still update in place across the column change
    HiddenPartitions.merge(spark, root,
      Seq((7L, "s1", "UPD")).toDF("k", "cat", "payload"), "k")
    assert(spark.read.format("graft").load(root).count() == 101)
  }

  test("evolve refusals: same spec, unknown column, non-hidden root") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_evolve_ref").toString + "/t"
    HiddenPartitions.init(spark, root,
      (1L to 40L).map(k => (k, s"v$k")).toDF("k", "payload"),
      ModTransform("k", 4))
    intercept[IllegalArgumentException] {
      HiddenPartitions.evolve(root, ModTransform("k", 4))
    }
    intercept[IllegalArgumentException] {
      HiddenPartitions.evolve(root, ModTransform("nope", 8))
    }
    intercept[IllegalArgumentException] {
      HiddenPartitions.evolve(
        Files.createTempDirectory("graft_not_hidden").toString,
        ModTransform("k", 8))
    }
  }

  // ── r10: hour/month/year + bucket transforms, and the A50 compose ──

  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.parse(s))

  test("hour transform: a time-range filter prunes to matching hours") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_hidden_hr").toString + "/t"
    val rows = for (h <- 0 until 4; m <- Seq(5, 35)) yield
      (h * 2 + (m / 30).toLong, ts(f"2024-03-05T$h%02d:$m%02d:00Z"))
    HiddenPartitions.init(spark, root, rows.toDF("id", "tt").coalesce(1),
      HourTransform("tt"))
    val df = spark.read.format("graft").load(root)
    val total = scannedFiles(df)
    assert(total >= 4)
    val one = df.filter(
      col("tt") >= lit("2024-03-05 02:00:00").cast("timestamp") &&
      col("tt") < lit("2024-03-05 03:00:00").cast("timestamp"))
    assert(scannedFiles(one) == total / 4)
    assert(one.count() == 2)
  }

  test("month and year transforms: calendar ranges prune; month " +
      "boundaries are exact (Feb/leap handled by the day-count calendar)") {
    import spark.implicits._
    val rootM = Files.createTempDirectory("graft_hidden_mo").toString + "/t"
    val rows = Seq(
      (1L, ts("2024-01-15T10:00:00Z")), (2L, ts("2024-01-31T23:59:59Z")),
      (3L, ts("2024-02-01T00:00:00Z")), (4L, ts("2024-02-29T12:00:00Z")),
      (5L, ts("2024-03-01T00:00:00Z")), (6L, ts("2024-03-20T08:00:00Z")))
    HiddenPartitions.init(spark, rootM, rows.toDF("id", "tt").coalesce(1),
      MonthTransform("tt"))
    val df = spark.read.format("graft").load(rootM)
    val total = scannedFiles(df)
    assert(total >= 3) // three month partitions
    // February only — the leap-day row stays, both neighbors prune
    val feb = df.filter(
      col("tt") >= lit("2024-02-01 00:00:00").cast("timestamp") &&
      col("tt") < lit("2024-03-01 00:00:00").cast("timestamp"))
    assert(scannedFiles(feb) == total / 3)
    assert(feb.count() == 2)
    // year transform over two years
    val rootY = Files.createTempDirectory("graft_hidden_yr").toString + "/t"
    val yRows = Seq((1L, ts("2023-06-01T00:00:00Z")),
      (2L, ts("2023-12-31T23:59:59Z")), (3L, ts("2024-01-01T00:00:00Z")))
    HiddenPartitions.init(spark, rootY, yRows.toDF("id", "tt").coalesce(1),
      YearTransform("tt"))
    val dfy = spark.read.format("graft").load(rootY)
    val ty = scannedFiles(dfy)
    val y23 = dfy.filter(col("tt") < lit("2024-01-01 00:00:00").cast("timestamp"))
    assert(scannedFiles(y23) == ty / 2)
    assert(y23.count() == 2)
  }

  test("bucket transform: equality on the raw key prunes to one hash " +
      "bucket; the hash spreads a skewed key space") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_hidden_bk").toString + "/t"
    // keys all ≡ 0 (mod 8): a mod transform would collapse to ONE
    // partition; the hash bucket must spread them
    HiddenPartitions.init(spark, root,
      (1L to 200L).map(k => (k * 8, s"v${k * 8}")).toDF("k", "payload"),
      BucketTransform("k", 8))
    assert(graft.sources.PartitionedSnapshots.partitions(root).size >= 6,
      "murmur3 bucketing must spread keys that share a modulus")
    val df = spark.read.format("graft").load(root)
    val total = scannedFiles(df)
    val one = df.filter(col("k") === 137L * 8)
    assert(scannedFiles(one) < total)
    assert(one.select("payload").head().getString(0) == s"v${137 * 8}")
    // IN list prunes to at most |list| buckets
    val two = df.filter(col("k").isin(8L, 16L))
    assert(scannedFiles(two) < total)
    assert(two.count() == 2)
    // merge routes through the hash like init did — no duplicates
    HiddenPartitions.merge(spark, root,
      Seq((8L, "UPD"), (99999L, "NEW")).toDF("k", "payload"), "k")
    val after = spark.read.format("graft").load(root)
    assert(after.filter(col("k") === 8L).count() == 1)
    assert(after.filter(col("k") === 8L).select("payload")
      .head().getString(0) == "UPD")
    assert(after.filter(col("k") === 99999L).count() == 1)
  }

  test("bucket-under-partition compose: every day dir is a bucketed " +
      "table (exchange-free joins inside a partition), merges and new " +
      "partitions preserve both layouts") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_hidden_comp").toString + "/t"
    val rows = for (d <- 0 until 2; i <- 1 to 60) yield
      (d * 100 + i.toLong, ts(f"2024-03-0${d + 5}T01:00:00Z"), s"p$d-$i")
    HiddenPartitions.init(spark, root, rows.toDF("k", "tt", "payload"),
      DayTransform("tt"), bucketBy = Some(("k", 4)))
    assert(graft.sources.PartitionedSnapshots.bucketOf(root).contains(("k", 4)))
    // every partition dir carries the bucket spec
    val dirs = graft.sources.PartitionedSnapshots.partitions(root)
      .map(v => graft.sources.PartitionedSnapshots.partitionDir(root, v))
    assert(dirs.size == 2)
    dirs.foreach { d =>
      assert(Snapshots.bucketSpecOf(d, Snapshots.currentVersion(d))
        .contains(("k", 4)), s"$d lost the bucket spec")
    }
    // reads stay exact, day pruning still applies
    val df = spark.read.format("graft").load(root)
    assert(df.count() == 120)
    val total = scannedFiles(df)
    val day1 = df.filter(
      col("tt") >= lit("2024-03-05 00:00:00").cast("timestamp") &&
      col("tt") < lit("2024-03-06 00:00:00").cast("timestamp"))
    assert(scannedFiles(day1) == total / 2)
    // a merge that creates a NEW day partition bootstraps it bucketed
    HiddenPartitions.merge(spark, root,
      Seq((1L, ts("2024-03-05T01:00:00Z"), "UPD"),
        (900L, ts("2024-03-09T01:00:00Z"), "NEWDAY"))
        .toDF("k", "tt", "payload"), "k")
    val dirs2 = graft.sources.PartitionedSnapshots.partitions(root)
      .map(v => graft.sources.PartitionedSnapshots.partitionDir(root, v))
    assert(dirs2.size == 3)
    dirs2.foreach { d =>
      assert(Snapshots.bucketSpecOf(d, Snapshots.currentVersion(d))
        .contains(("k", 4)), s"$d lost the bucket spec after merge")
    }
    val after = spark.read.format("graft").load(root)
    assert(after.count() == 121)
    assert(after.filter(col("k") === 1L).select("payload")
      .head().getString(0) == "UPD")
  }

  test("a merge that CHANGES the transform column MOVES the row: old " +
      "copy deleted, new row re-routed — never duplicated, pruning " +
      "stays sound") {
    import spark.implicits._
    // single-epoch day-partitioned table
    val root = Files.createTempDirectory("graft_hidden_move").toString + "/t"
    val rows = for (d <- 0 until 2; i <- 1 to 10) yield
      (d * 100 + i.toLong, ts(f"2024-03-0${d + 5}T01:00:00Z"), s"p$d-$i")
    HiddenPartitions.init(spark, root, rows.toDF("k", "tt", "payload")
      .coalesce(1), DayTransform("tt"))
    // key 3 moves from day 05 to day 08 (a NEW partition); key 101
    // moves from day 06 to day 05 (an EXISTING partition); key 5 stays
    HiddenPartitions.merge(spark, root, Seq(
      (3L, ts("2024-03-08T09:00:00Z"), "MOVED-NEW"),
      (101L, ts("2024-03-05T23:00:00Z"), "MOVED-EXISTING"),
      (5L, ts("2024-03-05T01:00:00Z"), "STAYED"))
      .toDF("k", "tt", "payload"), "k")
    val df = spark.read.format("graft").load(root)
    // no duplicates, no losses
    assert(df.count() == 20)
    assert(df.groupBy("k").count().filter(col("count") > 1).isEmpty,
      "a transform-moving update must never duplicate its key")
    assert(df.filter(col("k") === 3L).select("payload")
      .head().getString(0) == "MOVED-NEW")
    assert(df.filter(col("k") === 101L).select("payload")
      .head().getString(0) == "MOVED-EXISTING")
    assert(df.filter(col("k") === 5L).select("payload")
      .head().getString(0) == "STAYED")
    // PRUNING SOUNDNESS: the moved rows are found through their NEW
    // day's partition (an in-place update would have stranded k=3's
    // new timestamp inside the day-05 dir, and this filter would
    // silently miss it)
    val day8 = df.filter(
      col("tt") >= lit("2024-03-08 00:00:00").cast("timestamp") &&
      col("tt") < lit("2024-03-09 00:00:00").cast("timestamp"))
    assert(day8.count() == 1 &&
      day8.select("k").head().getLong(0) == 3L)
    val day5 = df.filter(
      col("tt") >= lit("2024-03-05 00:00:00").cast("timestamp") &&
      col("tt") < lit("2024-03-06 00:00:00").cast("timestamp"))
    assert(day5.count() == 10) // 10 - k3 moved out + k101 moved in
    // multi-epoch: the move composes with spec evolution — a key in an
    // OLD epoch's dir whose transform value changes re-routes by the
    // CURRENT transform
    HiddenPartitions.evolve(root, BucketTransform("k", 4))
    HiddenPartitions.merge(spark, root, Seq(
      (7L, ts("2024-03-09T05:00:00Z"), "MOVED-EPOCH"))
      .toDF("k", "tt", "payload"), "k")
    val df2 = spark.read.format("graft").load(root)
    assert(df2.count() == 20)
    assert(df2.filter(col("k") === 7L).count() == 1)
    assert(df2.filter(col("k") === 7L).select("payload")
      .head().getString(0) == "MOVED-EPOCH")
  }

  test("evolve mod → bucket: the old epoch keeps its layout, keys " +
      "never duplicate, each epoch prunes through its own transform") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_hidden_evb").toString + "/t"
    HiddenPartitions.init(spark, root,
      (1L to 400L).map(k => (k, s"v$k")).toDF("k", "payload"),
      ModTransform("k", 4))
    val epoch = HiddenPartitions.evolve(root, BucketTransform("k", 8))
    assert(epoch == 1)
    // update an OLD key (lives in epoch 0) + insert a NEW one (routes
    // by the bucket transform into an epoch-1 dir)
    HiddenPartitions.merge(spark, root,
      Seq((437L, "nope"), (37L, "UPD"), (5000L, "NEW"))
        .toDF("k", "payload").filter(col("k") =!= 437L || lit(false)),
      "k")
    val df = spark.read.format("graft").load(root)
    assert(df.count() == 401)
    assert(df.filter(col("k") === 37L).count() == 1)
    assert(df.filter(col("k") === 37L).select("payload")
      .head().getString(0) == "UPD")
    assert(df.filter(col("k") === 5000L).select("payload")
      .head().getString(0) == "NEW")
    // equality still prunes: the probe key hits at most one dir per epoch
    val total = scannedFiles(df)
    assert(scannedFiles(df.filter(col("k") === 37L)) < total)
  }

  test("r13 MoR merge on a hidden root: zero files retired, DV-aware " +
      "connector read, transform pruning intact, reconcile folds") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_hidden_mor").toString + "/t"
    HiddenPartitions.init(spark, root,
      (1L to 200L).map(k => (k, s"v$k")).toDF("k", "payload")
        .repartition(4), ModTransform("k", 4))
    val dirs0 = HiddenPartitions.epochGroups(root).flatMap(_._3)
    val liveBefore = dirs0.map { case (v, d) =>
      v -> Snapshots.liveFiles(d, Snapshots.currentVersion(d)).toSet }.toMap
    // MoR wave: updates on every residue + brand-new keys
    val res = HiddenPartitions.merge(spark, root,
      ((1L to 20L).map(k => (k, "UPD")) ++
        Seq((501L, "NEW1"), (502L, "NEW2"))).toDF("k", "payload"),
      "k", mor = true)
    assert(res.nonEmpty)
    // ZERO files retired: every pre-merge live file is still live in
    // its dir, and the touched dirs carry DVs
    var dvDirs = 0
    dirs0.foreach { case (v, d) =>
      val cur = Snapshots.currentVersion(d)
      val liveNow = Snapshots.liveFiles(d, cur).toSet
      assert(liveBefore(v).subsetOf(liveNow),
        s"dir $v retired a file under mor=true")
      if (Snapshots.dvFiles(d, cur).nonEmpty) dvDirs += 1
    }
    assert(dvDirs == 4, s"expected DVs in all 4 residues, got $dvDirs")
    // connector read routes through the DV-aware compat scan: dead
    // rows must not resurrect, new keys appear
    val df = spark.read.format("graft").load(root)
    assert(df.count() == 202)
    assert(df.filter(col("k") === 7L).select("payload")
      .head().getString(0) == "UPD")
    assert(df.filter(col("k") === 501L).count() == 1)
    assert(df.groupBy("k").count().filter(col("count") > 1).isEmpty)
    // transform pruning still prunes on the compat path: an equality
    // probe reads only its own residue's rows
    assert(df.filter(col("k") === 37L).count() == 1)
    // reconcile folds every DV-carrying dir and restores the
    // vectorized scan; content identical
    val rec = HiddenPartitions.reconcile(spark, root)
    assert(rec.size == dvDirs)
    HiddenPartitions.epochGroups(root).flatMap(_._3).foreach { case (_, d) =>
      assert(Snapshots.dvFiles(d, Snapshots.currentVersion(d)).isEmpty)
    }
    val after = spark.read.format("graft").load(root)
    assert(after.count() == 202)
    assert(after.filter(col("k") === 7L).select("payload")
      .head().getString(0) == "UPD")
    assert(after.queryExecution.executedPlan.exists(
      _.isInstanceOf[FileSourceScanExec]),
      "reconcile must restore the file-scan fast path")
  }

  test("r13 MoR merge that MOVES a row: keyed DV delete in the old " +
      "dir (zero rewrites), re-route to the new dir, never duplicated") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_hidden_morm").toString + "/t"
    val rows = for (d <- 0 until 2; i <- 1 to 10) yield
      (d * 100 + i.toLong, ts(f"2024-03-0${d + 5}T01:00:00Z"), s"p$d-$i")
    HiddenPartitions.init(spark, root, rows.toDF("k", "tt", "payload")
      .coalesce(1), DayTransform("tt"))
    // DayTransform values are epoch-day numbers, not date strings
    val day5 = java.time.LocalDate.parse("2024-03-05").toEpochDay.toString
    val day5dir = HiddenPartitions.epochGroups(root).flatMap(_._3)
      .find(_._1 == day5).get._2
    val day5LiveBefore =
      Snapshots.liveFiles(day5dir, Snapshots.currentVersion(day5dir)).toSet
    // k=3 moves day 05 → day 08 (new dir); k=5 stays in day 05
    HiddenPartitions.merge(spark, root, Seq(
      (3L, ts("2024-03-08T09:00:00Z"), "MOVED"),
      (5L, ts("2024-03-05T01:00:00Z"), "STAYED"))
      .toDF("k", "tt", "payload"), "k", mor = true)
    // the old dir retired NOTHING: the moving delete and the staying
    // update are both DV commits
    val day5cur = Snapshots.currentVersion(day5dir)
    assert(day5LiveBefore.subsetOf(
      Snapshots.liveFiles(day5dir, day5cur).toSet),
      "the moving delete rewrote a file under mor=true")
    assert(Snapshots.dvFiles(day5dir, day5cur).nonEmpty)
    val df = spark.read.format("graft").load(root)
    assert(df.count() == 20)
    assert(df.groupBy("k").count().filter(col("count") > 1).isEmpty)
    assert(df.filter(col("k") === 3L).select("payload")
      .head().getString(0) == "MOVED")
    // found through its NEW day — pruning soundness on the DV path
    val day8rows = df.filter(
      col("tt") >= lit("2024-03-08 00:00:00").cast("timestamp") &&
      col("tt") < lit("2024-03-09 00:00:00").cast("timestamp"))
    assert(day8rows.count() == 1 &&
      day8rows.select("k").head().getLong(0) == 3L)
  }

  test("r13 streaming a hidden root: snapshot + per-dir tailing, MoR " +
      "commits stream exactly, no layout leak") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_hidden_str").toString + "/t"
    HiddenPartitions.init(spark, root,
      (1L to 40L).map(k => (k, s"v$k")).toDF("k", "payload")
        .coalesce(1), ModTransform("k", 4))
    val ckpt = Files.createTempDirectory("graft_hidden_str_ck").toString
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String)]
    def drain(): Unit = {
      val q = spark.readStream.format("graft").option("keyCol", "k")
        .load(root)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          got.synchronized {
            got ++= b.collect().map(r =>
              (r.getLong(0), r.getString(1), r.getString(2)))
          }; ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "drain did not terminate")
    }
    drain()
    assert(got.size == 40 && got.forall(_._2 == "insert"))
    // a MoR wave while the consumer is stopped; next drain delivers
    // exactly the net changes (updates + the insert), nothing else
    HiddenPartitions.merge(spark, root,
      Seq((1L, "U1"), (2L, "U2"), (777L, "NEW")).toDF("k", "payload"),
      "k", mor = true)
    got.clear()
    drain()
    val byKey = got.map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.size == 3, s"expected 3 net changes, got ${got.size}")
    assert(byKey(1L) == ("update", "U1") && byKey(2L) == ("update", "U2"))
    assert(byKey(777L) == ("insert", "NEW"))
  }

  test("r14: root ZORDER sweep tightens per-file pruning through the " +
      "hidden index; per-dir bloom excludes an absent key's files") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_hidden_maint").toString + "/t"
    // x is scattered across files (multiplicative shuffle), k sparse
    // (no multiples of 10) so an in-range absent key exists
    val df0 = (1L to 1000L).filter(_ % 10 != 0)
      .map(k => (k, (k * 7919) % 1000, s"v$k")).toDF("k", "x", "payload")
    HiddenPartitions.init(spark, root, df0.repartition(8),
      ModTransform("k", 4))
    val read = () => spark.read.format("graft").load(root)
    // before: every file's x range is wide — a point filter on x
    // survives stats pruning almost everywhere
    val before = scannedFiles(read().filter(col("x") === 437L))
    assert(before >= 8, s"expected a scattered layout, scanned $before")
    // root-level ZORDER sweep: every dir re-clusters on (x, k) with
    // its own log state; the point filter now opens ~1 file per dir
    val zed = HiddenPartitions.zorder(spark, root, Seq("x", "k"), 4)
    assert(zed.size == 4)
    val afterZ = scannedFiles(read().filter(col("x") === 437L))
    assert(afterZ < before,
      s"ZORDER must tighten stats pruning ($afterZ vs $before)")
    assert(read().filter(col("x") === 437L).count() ==
      df0.filter(col("x") === 437L).count())
    // per-dir bloom on k: an ABSENT in-range key (k=40: residue-0 dir
    // survives the transform, its k ranges cover 40, only the bloom
    // can prove absence) scans ZERO files
    HiddenPartitions.addBloomIndex(spark, root, "k")
    val miss = read().filter(col("k") === 40L)
    assert(miss.count() == 0)
    assert(scannedFiles(miss) == 0,
      "the bloom must exclude every file for an absent key")
    // multiset intact after both maintenance passes
    assert(read().count() == df0.count())
    // incremental sweep: no unclustered tail anywhere → no dir advances
    assert(HiddenPartitions.zorderIncremental(spark, root).isEmpty)
  }
}
