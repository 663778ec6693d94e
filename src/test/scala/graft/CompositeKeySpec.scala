package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{HiddenPartitions, MergeWhen, ModTransform,
  PartitionedSnapshots, Snapshots}

/** r15 (the r14 verdict's item 3) — COMPOSITE MERGE KEYS: row identity
  * as a TUPLE of columns through every keyed-DML path. The table under
  * test is orders re-keyed on (k1, k2) = (o_orderkey div 100,
  * o_orderkey mod 100): neither column alone is unique, so a
  * single-column shortcut anywhere in the key plumbing produces wrong
  * matches these pins catch. Load-bearing claims: exact tuple matching
  * on merge/delete (CoW and MoR), duplicate-TUPLE refusal (while
  * duplicate leading columns alone are fine), file pruning on the
  * LEADING key's manifest ranges, clause-merge key protection per
  * tuple member, the comma-list streaming sink, composite routing on
  * partitioned/hidden roots, and the stored change feed carrying every
  * key column.
  */
class CompositeKeySpec extends GraftSuite {

  private def tmp(): String =
    Files.createTempDirectory("graft_ckspec").toString

  private val keys = Seq("k1", "k2")

  private def base = Tables.orders(spark, sf).select(
    col("o_orderkey").as("k"),
    expr("o_orderkey div 100").as("k1"),
    (col("o_orderkey") % 100).as("k2"),
    col("o_totalprice").as("price"))

  private def initTable(cdf: Boolean = false): String = {
    val dir = tmp() + "/t"
    base.drop("k").repartitionByRange(4, col("k1"))
      .sortWithinPartitions("k1", "k2")
      .write.parquet(dir)
    Snapshots.init(spark, dir, changeDataFeed = cdf)
    dir
  }

  private def rows(dir: String): Map[(Long, Long), Double] =
    spark.read.format("graft").load(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  test("CoW and MoR composite merges match on the exact tuple; " +
      "composite keyed deletes remove exactly their tuples") {
    val dir = initTable()
    // CoW wave on k%23==3, MoR wave on k%23==5 — disjoint
    Snapshots.mergeVersioned(spark, dir,
      base.filter(col("k") % 23 === 3)
        .withColumn("price", col("price") * 2).drop("k"), keys)
    Snapshots.mergeVersionedDV(spark, dir,
      base.filter(col("k") % 23 === 5)
        .withColumn("price", col("price") + 1000.0).drop("k"), keys, None)
    Snapshots.deleteVersionedKeys(spark, dir,
      base.filter(col("k") % 23 === 1).select("k1", "k2"), keys)
    Snapshots.deleteVersionedKeysDV(spark, dir,
      base.filter(col("k") % 23 === 2).select("k1", "k2"), keys, None)
    val got = rows(dir)
    val want = base.collect().flatMap { r =>
      val (k, k1, k2, p) = (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))
      k % 23 match {
        case 1 | 2 => None
        case 3 => Some((k1, k2) -> p * 2)
        case 5 => Some((k1, k2) -> (p + 1000.0))
        case _ => Some((k1, k2) -> p)
      }
    }.toMap
    assert(got == want)
  }

  test("a duplicate TUPLE in the source refuses; duplicate leading " +
      "columns alone are legal") {
    val dir = initTable()
    import spark.implicits._
    // same k1, different k2 — fine
    Snapshots.mergeVersioned(spark, dir,
      Seq((1L, 990L, 1.0), (1L, 991L, 2.0)).toDF("k1", "k2", "price"), keys)
    // same (k1, k2) twice — MERGE cardinality violation
    val e = intercept[IllegalArgumentException] {
      Snapshots.mergeVersioned(spark, dir,
        Seq((2L, 990L, 1.0), (2L, 990L, 2.0)).toDF("k1", "k2", "price"),
        keys)
    }
    assert(e.getMessage.contains("duplicate"))
    val eDv = intercept[IllegalArgumentException] {
      Snapshots.mergeVersionedDV(spark, dir,
        Seq((3L, 990L, 1.0), (3L, 990L, 2.0)).toDF("k1", "k2", "price"),
        keys, None)
    }
    assert(eDv.getMessage.contains("duplicate"))
  }

  test("file discovery prunes on the LEADING key column's manifest " +
      "ranges: a narrow-k1 wave retains every other range's file") {
    val dir = initTable()
    val before = Snapshots.liveFiles(dir, Snapshots.currentVersion(dir))
      .map(Snapshots.canonical).toSet
    assert(before.size >= 4, s"want >=4 clustered files, got ${before.size}")
    // the wave touches ONE k1 value — at most one range file holds it
    val k1Hit = base.select("k1").head().getLong(0)
    Snapshots.mergeVersioned(spark, dir,
      base.filter(col("k1") === k1Hit).limit(5)
        .withColumn("price", lit(9.99)).drop("k"), keys)
    val after = Snapshots.liveFiles(dir, Snapshots.currentVersion(dir))
      .map(Snapshots.canonical).toSet
    val survivors = before.intersect(after)
    assert(survivors.size >= before.size - 1,
      s"a one-k1-range wave must rewrite at most 1 of ${before.size} " +
        s"files; only ${survivors.size} survived")
  }

  test("clause merge: SET of ANY tuple member refuses; INSERT must " +
      "provide EVERY tuple member; composite ANSI shape routes") {
    val dir = initTable()
    import spark.implicits._
    val src = Seq((1L, 1L, 5.0)).toDF("k1", "k2", "price")
    val eSet = intercept[IllegalArgumentException] {
      Snapshots.mergeVersionedClauses(spark, dir, src, keys,
        Seq(MergeWhen.MatchedUpdate(None, Seq("k2" -> lit(0L)))),
        evolveSchema = false, txn = None, txnMulti = Seq.empty)
    }
    assert(eSet.getMessage.contains("row identity"))
    val eIns = intercept[IllegalArgumentException] {
      Snapshots.mergeVersionedClauses(spark, dir, src, keys,
        Seq(MergeWhen.NotMatchedInsert(None,
          Seq("k1" -> col(MergeWhen.srcName("k1")),
            "price" -> lit(1.0)))),
        evolveSchema = false, txn = None, txnMulti = Seq.empty)
    }
    assert(eIns.getMessage.contains("INSERT must provide"))
  }

  test("idempotent composite merge: exact replay no-ops (no version, " +
      "no content drift)") {
    val dir = initTable()
    val wave = base.filter(col("k") % 23 === 6)
      .withColumn("price", col("price") + 7.0).drop("k")
    val v1 = Snapshots.mergeVersioned(spark, dir, wave, keys,
      Some(("ckA", 1L)))
    val sumBefore = spark.read.format("graft").load(dir)
      .agg(sum(col("price").cast("decimal(20,2)"))).head().getDecimal(0)
    assert(Snapshots.mergeVersioned(spark, dir, wave, keys,
      Some(("ckA", 1L))) == v1)
    assert(Snapshots.currentVersion(dir) == v1)
    assert(spark.read.format("graft").load(dir)
      .agg(sum(col("price").cast("decimal(20,2)"))).head()
      .getDecimal(0) == sumBefore)
  }

  test("the stored change feed of a composite merge carries every key " +
      "column, insert/update/preimage exact") {
    val dir = initTable(cdf = true)
    import spark.implicits._
    val k1Hit = base.select("k1", "k2", "price").head()
    val wave = Seq(
      (k1Hit.getLong(0), k1Hit.getLong(1), 42.0), // update
      (777777L, 3L, 1.5)) // insert (new tuple)
      .toDF("k1", "k2", "price")
    val v1 = Snapshots.mergeVersioned(spark, dir, wave, keys)
    // the feed reader's keyCol arg shapes presentation only — the
    // STORED change rows carry every key column of the composite merge
    val feed = Snapshots.changesCdf(spark, dir, v1 - 1, v1, "k1").collect()
    val byType = feed.groupBy(_.getAs[String]("_change_type"))
      .view.mapValues(_.toSeq).toMap
    assert(byType("insert").map(r =>
      (r.getAs[Long]("k1"), r.getAs[Long]("k2"), r.getAs[Double]("price")))
      == Seq((777777L, 3L, 1.5)))
    assert(byType("update_postimage").map(r =>
      (r.getAs[Long]("k1"), r.getAs[Long]("k2"), r.getAs[Double]("price")))
      == Seq((k1Hit.getLong(0), k1Hit.getLong(1), 42.0)))
    assert(byType("update_preimage").map(r =>
      (r.getAs[Long]("k1"), r.getAs[Long]("k2"), r.getAs[Double]("price")))
      == Seq((k1Hit.getLong(0), k1Hit.getLong(1), k1Hit.getDouble(2))))
  }

  test("partitioned and hidden roots route composite merges per dir; " +
      "the streaming sink takes a comma keyCol list") {
    import spark.implicits._
    // partitioned root keyed on (k1, k2), partitioned by p
    val po = tmp() + "/t"
    val pdf = (1L to 200L).map(k => (k / 10, k % 10, s"p${k % 2}", k * 1.0))
      .toDF("k1", "k2", "part", "x")
    PartitionedSnapshots.init(spark, po, pdf, "part")
    PartitionedSnapshots.mergePartitioned(spark, po,
      Seq((1L, 1L, "p1", 99.0)).toDF("k1", "k2", "part", "x"),
      keys, "part")
    val got = spark.read.format("graft")
      .option("partitionCol", "part").load(po)
      .filter(col("k1") === 1L && col("k2") === 1L)
      .select("x").collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(99.0)) // (1,3) etc. untouched; exactly one row hit
    // hidden root: transform on k1 (a tuple member → key-pure route)
    val ph = tmp() + "/t"
    HiddenPartitions.init(spark, ph,
      pdf.drop("part"), ModTransform("k1", 4))
    HiddenPartitions.merge(spark, ph,
      Seq((2L, 2L, 77.0)).toDF("k1", "k2", "x"), keys)
    val hGot = spark.read.format("graft").load(ph)
      .filter(col("k1") === 2L && col("k2") === 2L)
      .select("x").collect().map(_.getDouble(0)).toSeq
    assert(hGot == Seq(77.0))
    assert(spark.read.format("graft").load(ph).count() == pdf.count())
    // streaming sink with keyCol = "k1,k2"
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val so = tmp() + "/t"
    val mem = MemoryStream[(Long, Long, Double)]
    val ckpt = Files.createTempDirectory("graft_ck_ckpt").toString
    val q = mem.toDF().toDF("k1", "k2", "x")
      .writeStream.format("graft")
      .option("keyCol", "k1,k2")
      .option("checkpointLocation", ckpt)
      .start(so)
    try {
      mem.addData((1L, 1L, 1.0), (1L, 2L, 2.0))
      q.processAllAvailable()
      mem.addData((1L, 1L, 10.0), (2L, 1L, 3.0)) // update + insert
      q.processAllAvailable()
    } finally q.stop()
    val sGot = spark.read.format("graft").load(so)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(sGot == Map((1L, 1L) -> 10.0, (1L, 2L) -> 2.0, (2L, 1L) -> 3.0))
  }
}
