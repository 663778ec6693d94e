package graft

import org.apache.spark.sql.functions._

import graft.sources.Snapshots

/** r16 — focused pins for the per-commit action trims: the batch key
  * summary's refusal split (source duplicates vs a violated TARGET
  * invariant), the conditional source pin (a stable-snapshot source
  * merges correctly without a checkpoint), driver-side candidate-file
  * discovery (results identical to the semi-join it replaced), and the
  * DV-mark memo feeding reconcile.
  */
class MergeActionTrimSpec extends GraftSuite {
  import spark.implicits._

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString + "/t"

  test("duplicate-keyed SOURCE still refuses with the pinned message " +
      "(summary-fused probe), CoW and MoR") {
    val dir = tmp("r16_dupsrc")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(dir)
    Snapshots.init(spark, dir)
    val dup = Seq((1L, "x"), (1L, "y")).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      Snapshots.mergeVersioned(spark, dir, dup, "k")
    }
    assert(e.getMessage.contains("duplicate 'k' keys"))
    val eDv = intercept[IllegalArgumentException] {
      Snapshots.mergeVersionedDV(spark, dir, dup, "k")
    }
    assert(eDv.getMessage.contains("duplicate 'k' keys"))
  }

  test("a TARGET holding two live rows for a merge key refuses the MoR " +
      "merge with the invariant message, not a source-blaming one") {
    val dir = tmp("r16_fanout")
    Seq((1L, "a")).toDF("k", "v").write.parquet(dir)
    Snapshots.init(spark, dir)
    // appendVersioned on a keyed table can violate one-live-row-per-key
    Snapshots.appendVersioned(spark, dir, Seq((1L, "a2")).toDF("k", "v"))
    val e = intercept[IllegalArgumentException] {
      Snapshots.mergeVersionedDV(spark, dir,
        Seq((1L, "z")).toDF("k", "v"), "k")
    }
    assert(e.getMessage.contains("multiple live rows"),
      s"expected the target-invariant refusal, got: ${e.getMessage}")
    assert(!e.getMessage.contains("in the source"))
  }

  test("a stable-snapshot source (filter+project over parquet) merges " +
      "without a pin and lands the same rows as a pinned one") {
    val base = tmp("r16_stable_base")
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0))
      .toDF("k", "x").write.parquet(base)
    val src = spark.read.parquet(base)
      .filter(col("k") % 2 === 0)
      .withColumn("x", col("x") + 1000.0) // stable: project/filter only
    val dirA = tmp("r16_stableA")
    val dirB = tmp("r16_stableB")
    Seq((2L, 2.0), (3L, 3.0)).toDF("k", "x").write.parquet(dirA)
    Seq((2L, 2.0), (3L, 3.0)).toDF("k", "x").write.parquet(dirB)
    Snapshots.init(spark, dirA)
    Snapshots.init(spark, dirB)
    Snapshots.mergeVersioned(spark, dirA, src, "k") // skips the pin
    Snapshots.mergeVersioned(spark, dirB, src.localCheckpoint(), "k") // pinned
    val a = Snapshots.read(spark, dirA).orderBy("k").collect().toSeq
    val b = Snapshots.read(spark, dirB).orderBy("k").collect().toSeq
    assert(a == b)
    assert(a.map(r => (r.getLong(0), r.getDouble(1))) ==
      Seq((2L, 1020.0), (3L, 3.0), (4L, 1040.0)))
  }

  test("driver-side candidate discovery touches the same rows the " +
      "semi-join did: keys outside every file range leave files alone") {
    val dir = tmp("r16_prune")
    // two key-disjoint files via range repartition
    Seq.tabulate(100)(i => (i.toLong, i * 1.0)).toDF("k", "x")
      .repartitionByRange(2, col("k"))
      .write.parquet(dir)
    Snapshots.init(spark, dir)
    val v0Files = Snapshots.liveFiles(dir, Snapshots.currentVersion(dir)).toSet
    // batch touching only the high range
    Snapshots.mergeVersioned(spark, dir,
      Seq((99L, -1.0)).toDF("k", "x"), "k")
    val v1 = Snapshots.currentVersion(dir)
    val v1Files = Snapshots.liveFiles(dir, v1).toSet
    // exactly one original file retired (the one whose range held 99)
    assert((v0Files -- v1Files).size == 1)
    assert((v0Files intersect v1Files).size == 1)
    val rows = Snapshots.read(spark, dir)
      .orderBy("k").collect()
    assert(rows.length == 100 && rows(99).getDouble(1) == -1.0)
  }

  test("reconcileDV folds exactly the files a MoR merge's DV " +
      "descriptors name") {
    val dir = tmp("r16_rec")
    Seq.tabulate(50)(i => (i.toLong, i * 1.0)).toDF("k", "x")
      .repartitionByRange(2, col("k"))
      .write.parquet(dir)
    Snapshots.init(spark, dir)
    Snapshots.mergeVersionedDV(spark, dir,
      Seq((5L, -5.0)).toDF("k", "x"), "k")
    val vDv = Snapshots.currentVersion(dir)
    assert(Snapshots.dvFiles(dir, vDv).nonEmpty)
    val vRec = Snapshots.reconcileDV(spark, dir)
    assert(Snapshots.dvFiles(dir, vRec).isEmpty)
    val rows = Snapshots.read(spark, dir).orderBy("k").collect()
    assert(rows.length == 50 && rows(5).getDouble(1) == -5.0 &&
      rows(6).getDouble(1) == 6.0)
  }
}
