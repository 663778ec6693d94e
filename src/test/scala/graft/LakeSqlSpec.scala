package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.{PartitionedSnapshots, Snapshots}

/** The injected-parser SQL surface (plans/LakeParser.scala): `GRAFT …`
  * maintenance statements plan as runnable commands; everything else
  * must reach Spark's own parser untouched.
  */
class LakeSqlSpec extends GraftSuite {

  /** A session built WITH the extensions (the production wiring —
    * `spark.sql.extensions=graft.plans.GraftExtensions`) over the
    * shared test SparkContext. The shared session is restored after,
    * and the context is never stopped.
    */
  private def withExtSession[A](body: SparkSession => A): A = {
    val base = spark // force the shared session (and context) to exist
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // withExtensions, not spark.sql.extensions: the conf form is a
    // STATIC conf, silently ignored when the builder reuses an
    // existing SparkContext (exactly this shared-test-JVM case)
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.plans.GraftExtensions()(_))
      .getOrCreate()
    try body(s)
    finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  test("GRAFT statements: restore/optimize/vacuum/clone/cdf/history end to end") {
    withExtSession { s =>
      import s.implicits._
      val dir = Files.createTempDirectory("graft_sql_lake").toString + "/t"
      (1L to 100L).map(k => (k, s"v$k", 0L)).toDF("k", "payload", "gen")
        .repartitionByRange(4, col("k")).write.parquet(dir)
      Snapshots.init(s, dir) // v0
      Snapshots.mergeVersioned(s, dir,
        Seq((5L, "UP5", 1L)).toDF("k", "payload", "gen"), "k") // v1

      // RESTORE via SQL: returns the new version, content rolls back
      val restored = s.sql(s"GRAFT RESTORE '$dir' TO VERSION 0").collect()
      assert(restored.map(_.getLong(0)).toSeq == Seq(2L))
      assert(Snapshots.read(s, dir).filter(col("k") === 5L)
        .select("payload").head().getString(0) == "v5")

      // OPTIMIZE ZORDER via SQL: a layout commit
      val z = s.sql(s"GRAFT OPTIMIZE '$dir' ZORDER BY (k, gen) INTO 4 FILES")
        .collect()
      assert(z.map(_.getLong(0)).toSeq == Seq(3L))
      assert(Snapshots.read(s, dir).count() == 100)

      // ENABLE CHANGE DATA FEED via SQL, then a merge records change data
      assert(s.sql(s"GRAFT ENABLE CHANGE DATA FEED '$dir'")
        .head().getLong(0) == 4L)
      Snapshots.mergeVersioned(s, dir,
        Seq((7L, "UP7", 2L)).toDF("k", "payload", "gen"), "k") // v5
      assert(Snapshots.cdfRecorded(dir, 5))

      // DESCRIBE HISTORY: one row per retained version, manifest-only
      val hist = s.sql(s"GRAFT DESCRIBE HISTORY '$dir'").collect()
      assert(hist.map(_.getLong(0)).toSeq == (0L to 5L))
      assert(hist.last.getString(3) == "recorded")

      // CLONE via SQL: zero-copy, independent
      val dst = Files.createTempDirectory("graft_sql_clone").toString + "/t"
      assert(s.sql(s"GRAFT CLONE '$dir' TO '$dst'").head().getLong(0) == 0L)
      assert(Snapshots.read(s, dst).count() == 100)
      // DEEP CLONE via SQL (r11): share-nothing — the clone's dir
      // holds its own data files
      val ddst = Files.createTempDirectory("graft_sql_dclone").toString + "/t"
      assert(s.sql(s"GRAFT DEEP CLONE '$dir' TO '$ddst'")
        .head().getLong(0) == 0L)
      assert(Snapshots.read(s, ddst).count() == 100)
      import scala.jdk.CollectionConverters._
      assert(Files.list(java.nio.file.Paths.get(ddst)).iterator().asScala
        .exists(_.toString.endsWith(".parquet")))

      // VACUUM via SQL: reclaims, head still reads
      val reclaimed = s.sql(s"GRAFT VACUUM '$dir' KEEP 5").head().getLong(0)
      assert(reclaimed >= 1L)
      assert(Snapshots.read(s, dir).count() == 100)
      assert(s.sql(s"GRAFT DESCRIBE HISTORY '$dir'").collect()
        .map(_.getLong(0)).toSeq == Seq(5L))

      // ADD/DROP CONSTRAINT via SQL: enforcement + removal round-trip
      s.sql(s"GRAFT ADD CONSTRAINT k_pos '$dir' CHECK (k > 0)")
      intercept[IllegalArgumentException] {
        Snapshots.mergeVersioned(s, dir,
          Seq((-9L, "BAD", 9L)).toDF("k", "payload", "gen"), "k")
      }
      s.sql(s"GRAFT DROP CONSTRAINT k_pos '$dir'")
      Snapshots.mergeVersioned(s, dir,
        Seq((-9L, "NOWOK", 9L)).toDF("k", "payload", "gen"), "k")

      // plain SQL still parses through the delegate, with the injected
      // native functions also live in the same session
      assert(s.sql("SELECT 1 + 1 AS x").head().getInt(0) == 2)
      assert(s.sql("SELECT djb2('abc') AS h").head().getLong(0) ==
        graft.functions.VecOps.djb2(
          org.apache.spark.unsafe.types.UTF8String.fromString("abc")))

      // a malformed GRAFT statement fails as graft grammar, loudly
      intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
        s.sql(s"GRAFT RESTORE $dir")
      }
    }
  }

  test("SQL reads the table by format-qualified path: FROM graft.`dir`") {
    withExtSession { s =>
      import s.implicits._
      val dir = Files.createTempDirectory("graft_sql_path").toString + "/t"
      (1L to 100L).map(k => (k, s"v$k", 0L)).toDF("k", "payload", "gen")
        .repartitionByRange(4, col("k")).write.parquet(dir)
      Snapshots.init(s, dir)
      Snapshots.mergeVersioned(s, dir,
        Seq((5L, "UP5", 1L)).toDF("k", "payload", "gen"), "k")
      // the injected resolution rule (Spark's ResolveSQLOnFile admits
      // only file formats): head version, stats pruning and all,
      // straight from SQL text — the delta.`path` ergonomics
      assert(s.sql(s"SELECT payload FROM graft.`$dir` WHERE k = 5")
        .head().getString(0) == "UP5")
      assert(s.sql(s"SELECT count(*) AS n FROM graft.`$dir`")
        .head().getLong(0) == 100L)
      // a non-table path is untouched by the rule and fails resolution
      intercept[org.apache.spark.sql.AnalysisException] {
        s.sql("SELECT * FROM graft.`/tmp/definitely_not_a_table`").collect()
      }
    }
  }

  test("SQL time travel: VERSION AS OF / TIMESTAMP AS OF by path and by name") {
    withExtSession { s =>
      import s.implicits._
      val dir = Files.createTempDirectory("graft_sql_tt").toString + "/t"
      (1L to 100L).map(k => (k, s"v$k", 0L)).toDF("k", "payload", "gen")
        .repartitionByRange(4, col("k")).write.parquet(dir)
      Snapshots.init(s, dir)                                          // v0
      Snapshots.mergeVersioned(s, dir,
        Seq((5L, "UP5", 1L)).toDF("k", "payload", "gen"), "k")        // v1
      Snapshots.mergeVersioned(s, dir,
        Seq((5L, "UP5b", 2L), (200L, "NEW", 2L))
          .toDF("k", "payload", "gen"), "k")                          // v2

      def payloadAt(sql: String): String = s.sql(sql).head().getString(0)
      // path form, every version
      assert(payloadAt(
        s"SELECT payload FROM graft.`$dir` VERSION AS OF 0 WHERE k = 5") == "v5")
      assert(payloadAt(
        s"SELECT payload FROM graft.`$dir` VERSION AS OF 1 WHERE k = 5") == "UP5")
      assert(payloadAt(
        s"SELECT payload FROM graft.`$dir` VERSION AS OF 2 WHERE k = 5") == "UP5b")
      assert(s.sql(s"SELECT count(*) AS n FROM graft.`$dir` VERSION AS OF 1")
        .head().getLong(0) == 100L)
      // TIMESTAMP AS OF: v1's recorded instant resolves to v1 (epoch
      // millis literal and JDBC string form share the connector parse)
      val t1 = Snapshots.commitTime(dir, 1).get
      assert(payloadAt(
        s"SELECT payload FROM graft.`$dir` TIMESTAMP AS OF $t1 WHERE k = 5") == "UP5")
      val jdbc = new java.sql.Timestamp(t1).toString
      assert(payloadAt(s"SELECT payload FROM graft.`$dir` " +
        s"TIMESTAMP AS OF '$jdbc' WHERE k = 5") == "UP5")
      // catalog-NAME form (A43 + time travel composed)
      s.sql(s"CREATE TABLE tt_name USING graft OPTIONS (path '$dir', keyCol 'k')")
      try {
        assert(payloadAt(
          "SELECT payload FROM tt_name VERSION AS OF 1 WHERE k = 5") == "UP5")
        assert(payloadAt(
          "SELECT payload FROM tt_name VERSION AS OF 2 WHERE k = 5") == "UP5b")
        // an alias above the travel node does not break the rewrite
        assert(s.sql("SELECT t.payload FROM tt_name VERSION AS OF 0 t " +
          "WHERE t.k = 5").head().getString(0) == "v5")
      } finally s.sql("DROP TABLE tt_name")
      // time travel composes as a DML SOURCE: merge v0's row for k=5
      // back into the head — payload reverts to the v0 value
      s.sql(s"""MERGE INTO graft.`$dir` t
               |USING (SELECT k, payload, gen FROM graft.`$dir` VERSION AS OF 0
               |       WHERE k = 5) src
               |ON t.k = src.k
               |WHEN MATCHED THEN UPDATE SET *
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      assert(payloadAt(s"SELECT payload FROM graft.`$dir` WHERE k = 5") == "v5")
      // a non-literal TIMESTAMP AS OF refuses (a snapshot pin cannot
      // vary per row)
      val err = intercept[Exception] {
        s.sql(s"SELECT payload FROM graft.`$dir` TIMESTAMP AS OF now() " +
          "WHERE k = 5").collect()
      }
      assert(err.getMessage.contains("literal") ||
        err.getMessage.toLowerCase.contains("time travel"))
    }
  }

  test("GRAFT OPTIMIZE WHERE: scoped bin-packing leaves out-of-range files in place") {
    withExtSession { s =>
      import s.implicits._
      val dir = Files.createTempDirectory("graft_sql_optw").toString + "/t"
      // 8 range-partitioned files: k ranges ≈ [1..25], [26..50], … —
      // all tiny, so an UNSCOPED compact would pack every one
      (1L to 200L).map(k => (k, s"v$k", 0L)).toDF("k", "payload", "gen")
        .repartitionByRange(8, col("k")).write.parquet(dir)
      Snapshots.init(s, dir)
      val before = Snapshots.liveFiles(dir, 0).map(Snapshots.canonical)
      assert(before.size == 8)
      val expected = Snapshots.read(s, dir).collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq

      s.sql(s"GRAFT OPTIMIZE '$dir' WHERE k BETWEEN 1 AND 60")
      assert(Snapshots.currentVersion(dir) == 1)
      val after = Snapshots.liveFiles(dir, 1).map(Snapshots.canonical)
      // out-of-scope files survive BY PATH (untouched, not rewritten)
      val untouched = before.toSet.intersect(after.toSet)
      assert(untouched.nonEmpty, "files outside the range must stay in place")
      // in-scope smalls packed: fewer live files than before
      assert(after.size < before.size, s"live ${after.size} !< ${before.size}")
      // pure layout: rows bit-exact, change feed across the commit empty
      assert(Snapshots.read(s, dir, 1).collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq == expected)
      assert(Snapshots.changesBetween(s, dir, 0, 1, "k").count() == 0)
      // a range covering nothing packs nothing (same version returned)
      s.sql(s"GRAFT OPTIMIZE '$dir' WHERE k BETWEEN 5000 AND 6000")
      assert(Snapshots.currentVersion(dir) == 1)

      // DESCRIBE DETAIL: one manifest-only row of head-version facts
      s.sql(s"GRAFT ADD BLOOM INDEX k '$dir'")
      s.sql(s"GRAFT ENABLE CHANGE DATA FEED '$dir'")
      val det = s.sql(s"GRAFT DESCRIBE DETAIL '$dir'").head()
      assert(det.getLong(0) == Snapshots.currentVersion(dir)) // version
      assert(det.getLong(1) == after.size)                    // num_files
      assert(det.getLong(2) > 0L)                             // size_bytes
      assert(det.getLong(3) == 200L)                          // num_rows
      assert(det.getString(5) == "k")                         // bloom_cols
      assert(det.getString(7) == "enabled")                   // cdf

      // CHECKPOINT: the head metadata commit is delta-encoded;
      // materialize it via SQL, idempotently
      assert(s.sql(s"GRAFT CHECKPOINT '$dir'").head().getLong(0) == 1L)
      assert(s.sql(s"GRAFT CHECKPOINT '$dir'").head().getLong(0) == 0L)
      assert(Snapshots.rowCount(s, dir).contains(200L))
    }
  }

  test("GRAFT VACUUM DRY RUN and BEFORE: plan-only and time-based retention via SQL") {
    withExtSession { s =>
      import s.implicits._
      val dir = Files.createTempDirectory("graft_sql_vac").toString + "/t"
      (1L to 40L).map(k => (k, s"v$k", 0L)).toDF("k", "payload", "gen")
        .repartitionByRange(2, col("k")).write.parquet(dir)
      Snapshots.init(s, dir) // v0
      Snapshots.deleteVersioned(s, dir, col("k") <= 5L) // v1

      val planned = s.sql(s"GRAFT VACUUM '$dir' KEEP 1 DRY RUN").collect()
        .map(_.getString(0))
      assert(planned.nonEmpty)
      planned.foreach(f => assert(Files.exists(Paths.get(f))))
      assert(Snapshots.read(s, dir, 0).count() == 40) // untouched

      val reclaimed = s.sql(s"GRAFT VACUUM '$dir' KEEP 1").head().getLong(0)
      assert(reclaimed == planned.length.toLong)

      // BEFORE now ⇒ keep only what is current — a no-op here (v1 is
      // the head); the statement parses and runs end to end
      assert(s.sql(
        s"GRAFT VACUUM '$dir' BEFORE ${System.currentTimeMillis()}")
        .head().getLong(0) == 0L)
    }
  }

  test("GRAFT OPTIMIZE ZORDER INCREMENTAL: tail-only re-cluster via SQL") {
    withExtSession { s =>
      import s.implicits._
      val dir = Files.createTempDirectory("graft_sql_zinc").toString + "/t"
      (1L to 1000L).map(k => (k, (k * 7919) % 1000, k % 7)).toDF("k", "x", "p")
        .repartition(4).write.parquet(dir)
      Snapshots.init(s, dir) // v0
      s.sql(s"GRAFT OPTIMIZE '$dir' ZORDER BY (k, x) INTO 4 FILES") // v1
      Snapshots.mergeVersioned(s, dir,
        (1001L to 1100L).map(k => (k, (k * 7919) % 1000, k % 7))
          .toDF("k", "x", "p"), "k") // v2: unclustered tail
      val v = s.sql(s"GRAFT OPTIMIZE '$dir' ZORDER INCREMENTAL")
        .head().getLong(0)
      assert(v == 3L)
      assert(Snapshots.read(s, dir).count() == 1100L)
      assert(Snapshots.changesBetween(s, dir, 2, 3, "k").isEmpty)
    }
  }

  test("r14: NAME-form maintenance verbs resolve through the catalog — " +
      "OPTIMIZE/VACUUM/ANALYZE/RECONCILE/CHECKPOINT by table name") {
    withExtSession { s =>
      import s.implicits._
      val dir = Files.createTempDirectory("graft_sql_name").toString + "/t"
      (1L to 200L).map(k => (k, s"v$k")).toDF("k", "payload")
        .repartition(6).write.parquet(dir)
      Snapshots.init(s, dir) // v0, 6 files
      Snapshots.mergeVersionedDV(s, dir,
        Seq((5L, "U5")).toDF("k", "payload"), "k") // v1, carries a DV
      s.sql("DROP TABLE IF EXISTS nf_t")
      s.sql(s"CREATE TABLE nf_t USING graft OPTIONS (path '$dir', keyCol 'k')")
      // RECONCILE by name folds the DV
      s.sql("GRAFT RECONCILE nf_t").collect()
      assert(Snapshots.dvFiles(dir, Snapshots.currentVersion(dir)).isEmpty)
      // OPTIMIZE by name bin-packs (suffix grammar reaches the name
      // form for free: same regex family after resolution)
      val before = Snapshots.liveFiles(dir,
        Snapshots.currentVersion(dir)).size
      s.sql("GRAFT OPTIMIZE nf_t").collect()
      assert(Snapshots.liveFiles(dir,
        Snapshots.currentVersion(dir)).size < before)
      // ANALYZE / CHECKPOINT / VACUUM (with its KEEP operand) by name
      s.sql("GRAFT ANALYZE nf_t").collect()
      s.sql("GRAFT CHECKPOINT nf_t").collect()
      s.sql(s"GRAFT VACUUM nf_t KEEP ${Snapshots.currentVersion(dir)}")
        .collect()
      // DESCRIBE DETAIL by name too
      val det = s.sql("GRAFT DESCRIBE DETAIL nf_t").collect()
      assert(det.length == 1 && det.head.getLong(3) == 200L)
      // the row multiset survived the whole maintenance pass
      assert(s.table("nf_t").count() == 200L)
      assert(s.table("nf_t").filter(col("k") === 5L)
        .select("payload").head().getString(0) == "U5")

      // partitioned root by name: the r13 root sweep, now name-form
      val root = Files.createTempDirectory("graft_sql_namep").toString + "/t"
      PartitionedSnapshots.init(s,
        root, (1L to 300L).map(k => (k, s"p${k % 3}", k * 1.0))
          .toDF("k", "part", "x").repartition(4), "part")
      s.sql("DROP TABLE IF EXISTS nf_p")
      s.sql(s"CREATE TABLE nf_p USING graft " +
        s"OPTIONS (path '$root', partitionCol 'part', keyCol 'k')")
      s.sql("GRAFT OPTIMIZE nf_p").collect() // sweeps every dir
      assert(s.table("nf_p").count() == 300L)

      // refusals: unknown name; a non-graft provider
      val e1 = intercept[IllegalArgumentException] {
        s.sql("GRAFT OPTIMIZE nf_no_such_table")
      }
      assert(e1.getMessage.contains("no catalog table"))
      s.sql("DROP TABLE IF EXISTS nf_plain")
      s.sql("CREATE TABLE nf_plain (k INT) USING parquet")
      try {
        val e2 = intercept[IllegalArgumentException] {
          s.sql("GRAFT OPTIMIZE nf_plain")
        }
        assert(e2.getMessage.contains("not a graft table"))
      } finally s.sql("DROP TABLE IF EXISTS nf_plain")
    }
  }

  test("r14: GRAFT CREATE/REFRESH/PROBE VECTOR INDEX — the SQL vector " +
      "lifecycle over a versioned corpus, feed-driven refresh included") {
    withExtSession { s =>
      import s.implicits._
      val corpus = Files.createTempDirectory("graft_sql_vec").toString + "/c"
      val index = Files.createTempDirectory("graft_sql_vec").toString + "/i"
      // 64 deterministic 8-dim vectors; vec_id < 16 double as the
      // untrained quantizer picks
      def vec(k: Long): Array[Float] =
        (0 until 8).map(j => math.sin(k * 31 + j * 7).toFloat).toArray
      (0L until 64L).map(k => (k, vec(k))).toDF("vec_id", "embedding")
        .repartition(2).write.parquet(corpus)
      Snapshots.init(s, corpus) // v0
      val v0 = s.sql(s"GRAFT CREATE VECTOR INDEX '$index' ON '$corpus' " +
        "CELLS 16").head().getLong(0)
      assert(v0 == 0L)
      // postings = one row per corpus vector
      assert(Snapshots.read(s, index).count() == 64)
      val probe = s.sql(s"GRAFT PROBE VECTOR INDEX '$index' FOR KEYS " +
        "(1, 2, 3) TOP 4").collect()
      assert(probe.length == 12)
      assert(probe.map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
      assert(probe.forall(r => r.getLong(3) >= 1 && r.getLong(3) <= 4))
      assert(probe.forall(r => r.getLong(0) != r.getLong(1)),
        "a vector must not be its own neighbor")
      // serving agrees with the library path bit-for-bit
      val lib = graft.operators.Similarity.probeVectorIndex(
        s, index, Seq(1L, 2L, 3L), 4).collect()
      assert(probe.map(_.toSeq).toSet == lib.map(_.toSeq).toSet)
      // corpus mutates; REFRESH is change-driven and the probe follows
      Snapshots.mergeVersioned(s, corpus,
        Seq((1L, vec(999L))).toDF("vec_id", "embedding"), "vec_id") // v1
      val v1 = s.sql(s"GRAFT REFRESH VECTOR INDEX '$index'")
        .head().getLong(0)
      assert(v1 == 1L)
      val after = s.sql(s"GRAFT PROBE VECTOR INDEX '$index' FOR KEYS " +
        "(1) TOP 4").collect()
      assert(after.length == 4)
      assert(after.map(_.toSeq).toSet != probe.filter(_.getLong(0) == 1L)
        .map(_.toSeq).toSet,
        "an updated vector's neighborhood must follow the refresh")
      // TRAINED form builds with the Lloyd's codebook; re-CREATE refuses
      val idx2 = Files.createTempDirectory("graft_sql_vec").toString + "/t"
      s.sql(s"GRAFT CREATE VECTOR INDEX '$idx2' ON '$corpus' TRAINED " +
        "CELLS 8")
      assert(Snapshots.read(s, idx2).count() == 64)
      val e = intercept[IllegalArgumentException] {
        s.sql(s"GRAFT CREATE VECTOR INDEX '$index' ON '$corpus'")
      }
      assert(e.getMessage.contains("already holds a vector index"))
    }
  }

  test("r14: VACUUM BEFORE / CHECKPOINT / ANALYZE sweep hidden roots " +
      "(every epoch); VACUUM KEEP refuses on multi-dir roots") {
    withExtSession { s =>
      import s.implicits._
      val root = Files.createTempDirectory("graft_sql_rootmaint")
        .toString + "/t"
      graft.sources.HiddenPartitions.init(s, root,
        (1L to 120L).map(k => (k, k % 4, s"v$k")).toDF("k", "g", "payload"),
        graft.sources.ModTransform("g", 4))
      // evolve to a second epoch and land rows there, so the sweep has
      // dirs a `part=`-only scan would MISS
      graft.sources.HiddenPartitions.evolve(root,
        graft.sources.ModTransform("k", 2))
      graft.sources.HiddenPartitions.merge(s, root,
        (201L to 220L).map(k => (k, k % 4, s"n$k")).toDF("k", "g", "payload"),
        "k")
      val dirs = graft.sources.HiddenPartitions.epochGroups(root)
        .flatMap(_._3).map(_._2)
      assert(dirs.size > 4, "expected epoch-1 dirs beyond the part= four")
      // ANALYZE sweeps EVERY dir (epoch 1 included)
      assert(s.sql(s"GRAFT ANALYZE '$root'").head().getLong(0) ==
        dirs.size.toLong)
      // a wave creates per-dir delta history; the CHECKPOINT sweep
      // materializes exactly the dirs whose heads are deltas
      graft.sources.HiddenPartitions.merge(s, root,
        Seq((1L, 1L, "U1"), (2L, 2L, "U2")).toDF("k", "g", "payload"), "k")
      assert(s.sql(s"GRAFT CHECKPOINT '$root'").head().getLong(0) >= 1L)
      val reclaimed = s.sql(
        s"GRAFT VACUUM '$root' BEFORE ${System.currentTimeMillis()}")
        .head().getLong(0)
      assert(reclaimed >= 0L) // sweep ran across dirs without refusing
      // table intact after the sweep
      assert(graft.sources.HiddenPartitions.read(s, root).count() == 140)
      // KEEP form is ill-posed on a version VECTOR: loud refusal
      val e = intercept[IllegalArgumentException] {
        s.sql(s"GRAFT VACUUM '$root' KEEP 1")
      }
      assert(e.getMessage.contains("BEFORE"))
    }
  }

  test("GRAFT TAG / BRANCH / PUBLISH BRANCH: the WAP cycle via SQL") {
    withExtSession { s =>
      import graft.sources.Refs
      val dir = Files.createTempDirectory("graft_sql_wap").toString + "/t"
      import s.implicits._
      (1L to 20L).map(k => (k, s"v$k", 0L)).toDF("k", "payload", "gen")
        .repartitionByRange(2, col("k")).write.parquet(dir)
      Snapshots.init(s, dir) // v0

      assert(s.sql(s"GRAFT TAG r1 '$dir'").head().getLong(0) == 0L)
      s.sql(s"GRAFT BRANCH fix '$dir'")
      // stage via GRAFT UPDATE against the BRANCH path — the whole SQL
      // surface works on a branch because a branch IS a table
      s.sql(s"GRAFT UPDATE '${Refs.branchPath(dir, "fix")}' " +
        "SET gen = 5 WHERE k <= 2")
      assert(Snapshots.read(s, dir).filter(col("gen") === 5L).isEmpty) // audit gate
      assert(s.sql(s"GRAFT PUBLISH BRANCH fix '$dir'").head().getLong(0) == 1L)
      s.sql(s"GRAFT DROP BRANCH fix '$dir'")
      assert(Snapshots.read(s, dir).filter(col("gen") === 5L).count() == 2)
      assert(Refs.readTag(s, dir, "r1").filter(col("gen") === 5L).isEmpty)
      s.sql(s"GRAFT DROP TAG r1 '$dir'")
      assert(Refs.tags(dir).isEmpty)
    }
  }

  test("GRAFT UPDATE: multi-assignment SET with function commas, predicate scoped") {
    withExtSession { s =>
      import s.implicits._
      val dir = Files.createTempDirectory("graft_sql_upd").toString + "/t"
      (1L to 50L).map(k => (k, s"v$k", 0L)).toDF("k", "payload", "gen")
        .repartitionByRange(4, col("k")).write.parquet(dir)
      Snapshots.init(s, dir) // v0

      // concat(payload, '!') holds a comma INSIDE the assignment — the
      // top-level splitter must not cut there
      val v = s.sql(
        s"GRAFT UPDATE '$dir' SET payload = concat(payload, '!'), gen = gen + 1 WHERE k <= 3")
        .head().getLong(0)
      assert(v == 1L)
      val rows = Snapshots.read(s, dir).filter(col("k") <= 3L)
        .select("k", "payload", "gen").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(rows == Set((1L, "v1!", 1L), (2L, "v2!", 1L), (3L, "v3!", 1L)))
      assert(Snapshots.read(s, dir).filter(col("gen") =!= 0L).count() == 3)

      // malformed SET fails at PARSE time, as graft grammar
      intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
        s.sql(s"GRAFT UPDATE '$dir' SET oops WHERE k = 1")
      }
    }
  }

  test("GRAFT DELETE MOR: positions only through SQL, zero data files written") {
    withExtSession { s =>
      import s.implicits._
      val dir = Files.createTempDirectory("graft_sql_delmor").toString + "/t"
      (1L to 50L).map(k => (k, s"v$k", 0L)).toDF("k", "payload", "gen")
        .repartitionByRange(4, col("k")).write.parquet(dir)
      Snapshots.init(s, dir) // v0
      val before = Snapshots.liveFiles(dir, 0).toSet
      val v = s.sql(s"GRAFT DELETE MOR '$dir' WHERE k % 10 = 0")
        .head().getLong(0)
      assert(v == 1L)
      assert(Snapshots.liveFiles(dir, 1).toSet == before) // zero rewrites
      assert(Snapshots.dvFiles(dir, 1).nonEmpty)
      assert(Snapshots.read(s, dir).count() == 45)
      assert(Snapshots.read(s, dir, 0).count() == 50)
    }
  }

  test("GRAFT UPDATE MOR: DV-mark + append through SQL, zero rewrites") {
    withExtSession { s =>
      import s.implicits._
      val dir = Files.createTempDirectory("graft_sql_updmor").toString + "/t"
      (1L to 50L).map(k => (k, s"v$k", 0L)).toDF("k", "payload", "gen")
        .repartitionByRange(4, col("k")).write.parquet(dir)
      Snapshots.init(s, dir) // v0
      val before = Snapshots.liveFiles(dir, 0).toSet

      val v = s.sql(
        s"GRAFT UPDATE MOR '$dir' SET payload = concat(payload, '*'), gen = gen + 1 WHERE k % 10 = 0")
        .head().getLong(0)
      assert(v == 1L)
      // merge-on-read: every v0 file still live, post-images appended
      val after = Snapshots.liveFiles(dir, 1).toSet
      assert(before.subsetOf(after) && after.size > before.size)
      assert(Snapshots.dvFiles(dir, 1).nonEmpty)
      val rows = Snapshots.read(s, dir)
        .select("k", "payload", "gen").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(rows.length == 50)
      assert(rows.filter(_._3 == 1L).map(_._1).toSet ==
        Set(10L, 20L, 30L, 40L, 50L))
      assert(rows.find(_._1 == 10L).get._2 == "v10*")
      assert(rows.find(_._1 == 7L).get._2 == "v7")
    }
  }

  private def stageDml(s: SparkSession, prefix: String): String = {
    import s.implicits._
    val dir = Files.createTempDirectory(prefix).toString + "/t"
    (1L to 100L).map(k => (k, s"v$k", 0L)).toDF("k", "payload", "gen")
      .repartitionByRange(4, col("k")).write.parquet(dir)
    Snapshots.init(s, dir) // v0
    dir
  }

  test("A44 ANSI DML by path: MERGE / UPDATE / DELETE / INSERT land as commits") {
    withExtSession { s =>
      val dir = stageDml(s, "graft_ansi_dml")

      // MERGE upsert (UPDATE SET * / INSERT *) → keyed merge commit
      s.sql(s"""MERGE INTO graft.`$dir` t
               |USING (SELECT CAST(5 AS BIGINT) AS k, 'UP5' AS payload,
               |              CAST(1 AS BIGINT) AS gen
               |       UNION ALL
               |       SELECT CAST(200 AS BIGINT), 'NEW', CAST(1 AS BIGINT)) src
               |ON t.k = src.k
               |WHEN MATCHED THEN UPDATE SET *
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      assert(Snapshots.currentVersion(dir) == 1)
      val afterMerge = Snapshots.read(s, dir)
      assert(afterMerge.count() == 101)
      assert(afterMerge.filter(col("k") === 5L).head().getString(1) == "UP5")

      // ANSI UPDATE with alias + qualified refs → updateVersioned
      s.sql(s"UPDATE graft.`$dir` t SET t.payload = concat(t.payload, '!') " +
        "WHERE t.k % 50 = 0")
      assert(Snapshots.currentVersion(dir) == 2)
      assert(Snapshots.read(s, dir).filter(col("payload").endsWith("!"))
        .count() == 3) // k = 50, 100, 200

      // ANSI DELETE → deleteVersioned
      s.sql(s"DELETE FROM graft.`$dir` WHERE k > 190")
      assert(Snapshots.currentVersion(dir) == 3)
      assert(Snapshots.read(s, dir).count() == 100)

      // MERGE … WHEN MATCHED THEN DELETE (alone) → keyed delete
      s.sql(s"""MERGE INTO graft.`$dir` t
               |USING (SELECT CAST(7 AS BIGINT) AS k
               |       UNION ALL SELECT CAST(9 AS BIGINT)) src
               |ON t.k = src.k
               |WHEN MATCHED THEN DELETE""".stripMargin)
      assert(Snapshots.read(s, dir).count() == 98)

      // INSERT INTO → blind append commit; INSERT OVERWRITE → overwrite
      s.sql(s"INSERT INTO graft.`$dir` " +
        "SELECT CAST(300 AS BIGINT), 'I300', CAST(2 AS BIGINT)")
      assert(Snapshots.read(s, dir).count() == 99)
      assert(Snapshots.read(s, dir).filter(col("k") === 300L).count() == 1)
      val vBefore = Snapshots.currentVersion(dir)
      s.sql(s"INSERT OVERWRITE graft.`$dir` " +
        "SELECT CAST(1 AS BIGINT), 'only', CAST(0 AS BIGINT)")
      assert(Snapshots.read(s, dir).count() == 1)
      // overwrite is a COMMIT: the pre-overwrite version stays readable
      assert(Snapshots.read(s, dir, vBefore).count() == 99)

      // MERGE … WHEN NOT MATCHED BY SOURCE THEN DELETE (alone): the CDC
      // reconcile — target keys absent from the source are deleted
      s.sql(s"INSERT INTO graft.`$dir` " +
        "SELECT CAST(2 AS BIGINT), 'two', CAST(0 AS BIGINT)")
      assert(Snapshots.read(s, dir).count() == 2) // keys {1, 2}
      s.sql(s"""MERGE INTO graft.`$dir` t
               |USING (SELECT CAST(1 AS BIGINT) AS k) src
               |ON t.k = src.k
               |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
      val reconciled = Snapshots.read(s, dir)
      assert(reconciled.count() == 1 &&
        reconciled.head().getLong(0) == 1L) // key 2 reconciled away

      // r9 (A52): a PARTIAL SET — refused before the general clause
      // merge — now routes through mergeVersionedClauses and commits
      val vNow = Snapshots.currentVersion(dir)
      s.sql(s"""MERGE INTO graft.`$dir` t
               |USING (SELECT CAST(1 AS BIGINT) AS k) src
               |ON t.k = src.k
               |WHEN MATCHED THEN UPDATE SET payload = 'x'""".stripMargin)
        .collect()
      assert(Snapshots.currentVersion(dir) == vNow + 1)
      assert(Snapshots.read(s, dir).filter(col("k") === 1L)
        .select("payload").head().getString(0) == "x")

      // a STILL-unsupported form — SET of the merge key — refuses
      // loudly, committing nothing
      val e = intercept[Exception] {
        s.sql(s"""MERGE INTO graft.`$dir` t
                 |USING (SELECT CAST(1 AS BIGINT) AS k) src
                 |ON t.k = src.k
                 |WHEN MATCHED THEN UPDATE SET k = CAST(99 AS BIGINT)""".stripMargin)
      }
      assert(e.getMessage.contains("merge"), e.getMessage)
      assert(Snapshots.currentVersion(dir) == vNow + 1)
    }
  }

  test("A44 r8: ANSI DML on a PARTITIONED graft table routes per partition") {
    withExtSession { s =>
      import s.implicits._
      val dir = Files.createTempDirectory("graft_ansi_part").toString + "/t"
      graft.sources.PartitionedSnapshots.init(s, dir,
        (1L to 40L).map(k => (k, s"v$k", if (k % 2 == 0) "even" else "odd"))
          .toDF("k", "payload", "part"), "part")
      s.sql("DROP TABLE IF EXISTS dml_part")
      s.sql(s"CREATE TABLE dml_part USING graft OPTIONS (path '$dir', partitionCol 'part')")
      def readAll = {
        s.sql("REFRESH TABLE dml_part")
        s.table("dml_part").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      }
      try {
        val evenDir = graft.sources.PartitionedSnapshots.partitionDir(dir, "even")
        val oddDir = graft.sources.PartitionedSnapshots.partitionDir(dir, "odd")

        // DELETE with a partition conjunct: the pruned partition's log
        // is NOT committed (directory-level pruning), the target
        // partition loses exactly the matching rows
        val vOddBefore = Snapshots.currentVersion(oddDir)
        val n = s.sql("DELETE FROM dml_part WHERE part = 'even' AND k <= 10")
          .head().getLong(0)
        assert(n == 1L, s"one partition should be touched (got $n)")
        assert(Snapshots.currentVersion(oddDir) == vOddBefore,
          "pruned partition must not version-bump")
        val after = readAll
        assert(after.count(_._3 == "even") == 15) // lost k = 2,4,6,8,10
        assert(after.count(_._3 == "odd") == 20)

        // UPDATE across partitions: both logs commit, predicate bound
        // per partition; SET of the partition column refuses
        s.sql("UPDATE dml_part SET payload = concat(payload, '!') WHERE k > 38")
        val upd = readAll.filter(_._1 > 38)
        assert(upd.nonEmpty && upd.forall(_._2.endsWith("!")))
        val e = intercept[Exception] {
          s.sql("UPDATE dml_part SET part = 'x' WHERE k = 1") }
        assert(e.getMessage.contains("partition column"), e.getMessage)

        // MERGE upsert routes by the batch's partition values
        s.sql(s"""MERGE INTO dml_part t
                 |USING (SELECT CAST(1 AS BIGINT) AS k, 'UP1' AS payload, 'odd' AS part
                 |       UNION ALL
                 |       SELECT CAST(100 AS BIGINT), 'NEW', 'even') src
                 |ON t.k = src.k
                 |WHEN MATCHED THEN UPDATE SET *
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        val merged = readAll
        assert(merged.find(_._1 == 1L).get._2 == "UP1")
        assert(merged.find(_._1 == 100L).exists(_._3 == "even"))

        // INSERT still refuses with the route
        val e2 = intercept[Exception] {
          s.sql("INSERT INTO dml_part SELECT CAST(7 AS BIGINT), 'x', 'odd'") }
        assert(e2.getMessage.contains("per-partition"), e2.getMessage)
      } finally s.sql("DROP TABLE IF EXISTS dml_part")
    }
  }

  test("A44: partial SET applies exactly (A52); non-top-level targets refuse") {
    withExtSession { s =>
      val dir = stageDml(s, "graft_ansi_guard")
      // r9 (A52): a PARTIAL same-named assignment list — refused before
      // the general clause merge — now updates EXACTLY the named
      // column, preserving the unmentioned ones (the semantics the old
      // full-row merge could not honor and therefore refused)
      s.sql(s"""MERGE INTO graft.`$dir` t
               |USING (SELECT CAST(5 AS BIGINT) AS k, 'x' AS payload) src
               |ON t.k = src.k
               |WHEN MATCHED THEN UPDATE SET payload = src.payload""".stripMargin)
        .collect()
      assert(Snapshots.currentVersion(dir) == 1)
      val r5 = Snapshots.read(s, dir).filter(col("k") === 5L).head()
      assert(r5.getString(1) == "x" && r5.getLong(2) == 0L,
        "named column updated, unmentioned column preserved")
      assert(Snapshots.read(s, dir).filter(col("k") === 6L)
        .head().getString(1) == "v6", "unmatched rows untouched")
      // INSERT * against a source MISSING target columns still fails
      // (nothing to insert for 'gen'), committing nothing
      val e = intercept[Exception] {
        s.sql(s"""MERGE INTO graft.`$dir` t
                 |USING (SELECT CAST(500 AS BIGINT) AS k, 'x' AS payload) src
                 |ON t.k = src.k
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
      }
      assert(e != null)
      assert(Snapshots.currentVersion(dir) == 1, "refusal must commit nothing")
      // an UPDATE whose assignment target is not a bare top-level
      // column refuses (the old last-part collapse would have silently
      // retargeted a struct path to a like-named column)
      val e2 = intercept[Exception] {
        s.sql(s"UPDATE graft.`$dir` SET meta.payload.x = 'v' WHERE k = 1")
      }
      assert(e2.getMessage.contains("bare"), e2.getMessage)
      // alias-qualified references still work end-to-end
      s.sql(s"UPDATE graft.`$dir` t SET t.gen = t.gen + 1 WHERE t.k = 1")
      assert(Snapshots.read(s, dir).filter(col("k") === 1L)
        .head().getLong(2) == 1L)
    }
  }

  test("r9/r10: manifest stats feed CBO — a selective filter flips the " +
      "join to broadcast by name WITHOUT any ANALYZE (A61 per-file HLL " +
      "NDV), and the sketch follows a delete with no re-analyze") {
    withExtSession { s =>
      import s.implicits._
      val dir = Files.createTempDirectory("graft_cbo").toString + "/t"
      // a table big enough that its RAW bytes exceed the broadcast
      // threshold; only cardinality estimation can shrink it
      (1L to 60000L).map(k => (k, ("p" + k.toString) * 8, k % 97))
        .toDF("k", "payload", "grp")
        .repartitionByRange(4, col("k")).write.parquet(dir)
      Snapshots.init(s, dir)
      s.sql("DROP TABLE IF EXISTS cbo_big")
      s.sql(s"CREATE TABLE cbo_big USING graft OPTIONS (path '$dir', keyCol 'k')")
      val other = Files.createTempDirectory("graft_cbo_oth").toString + "/o"
      (1L to 60000L).map(k => (k, ("q" + k.toString) * 8)).toDF("k", "oth")
        .write.parquet(other)
      try {
        s.conf.set("spark.sql.cbo.enabled", "true")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", (256 * 1024).toString)
        s.conf.set("spark.sql.adaptive.enabled", "false")

        def joinPlan(left: org.apache.spark.sql.DataFrame) = {
          val q = left.filter(col("k") <= 600L)
            .join(s.read.parquet(other), "k")
          q.collect()
          q.queryExecution.executedPlan
        }
        def bhjs(p: org.apache.spark.sql.execution.SparkPlan) = p.collect {
          case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b }
        def smjs(p: org.apache.spark.sql.execution.SparkPlan) = p.collect {
          case m: org.apache.spark.sql.execution.joins.SortMergeJoinExec => m }

        // NO ANALYZE anywhere in this test. rowCount + min/max attach
        // free from the manifest, and the NDV FilterEstimation demands
        // comes from the A61 per-file HLL sketches every commit already
        // recorded — k <= 600 prices at ~1% of 60k rows → broadcast
        val byName = joinPlan(s.table("cbo_big"))
        assert(bhjs(byName).nonEmpty && smjs(byName).isEmpty,
          s"expected broadcast by name WITHOUT analyze, got:\n$byName")

        // estimated cardinality is the manifest+sketch one, not a guess
        val est = s.table("cbo_big").filter(col("k") <= 600L)
          .queryExecution.optimizedPlan.stats
        assert(est.rowCount.exists(rc => rc >= 1 && rc <= 6000),
          s"row estimate off: ${est.rowCount}")

        // by PATH there is no catalog entry to carry stats: the same
        // join stays sort-merge (raw bytes above the threshold) — the
        // control proving the flip is the rule's doing
        val byPath = joinPlan(s.read.format("graft").load(dir))
        assert(smjs(byPath).nonEmpty && bhjs(byPath).isEmpty,
          s"expected SMJ by path, got:\n$byPath")

        // never stale: a delete moves the NDV with the files — the
        // remaining estimate tracks the shrunk table with NO re-analyze
        // (the A46 sidecar would still claim 60k here)
        Snapshots.deleteVersioned(s, dir, col("k") > 6000L)
        s.sql("DROP TABLE IF EXISTS cbo_big2")
        s.sql(s"CREATE TABLE cbo_big2 USING graft OPTIONS (path '$dir', keyCol 'k')")
        val shrunk = s.table("cbo_big2").queryExecution.optimizedPlan.stats
        assert(shrunk.rowCount.contains(BigInt(6000)))
        val ndvNow = shrunk.attributeStats.find(_._1.name == "k")
          .flatMap(_._2.distinctCount)
        assert(ndvNow.exists(n => n >= BigInt(4500) && n <= BigInt(7500)),
          s"merged sketch NDV should track the delete, got $ndvNow")
      } finally {
        s.conf.unset("spark.sql.cbo.enabled")
        s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        s.conf.unset("spark.sql.adaptive.enabled")
        s.sql("DROP TABLE IF EXISTS cbo_big")
        s.sql("DROP TABLE IF EXISTS cbo_big2")
      }
    }
  }

  test("r9: CBO composition — join order follows manifest cardinalities; native ANALYZE TABLE coexists") {
    withExtSession { s =>
      import s.implicits._
      def mkTable(name: String, n: Long, pay: Int): String = {
        val dir = Files.createTempDirectory(s"graft_cboj_$name").toString + "/t"
        (1L to n).map(k => (k, "p" * pay)).toDF("k", s"${name}_pay")
          .repartitionByRange(2, col("k")).write.parquet(dir)
        Snapshots.init(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $name")
        s.sql(s"CREATE TABLE $name USING graft OPTIONS (path '$dir', keyCol 'k')")
        s.sql(s"GRAFT ANALYZE '$dir'")
        dir
      }
      // fact 80k rows; dim_big 40k; dim_small 200 — a join written in
      // the WORST order (fact⋈big first)
      mkTable("cboj_fact", 80000L, 8)
      mkTable("cboj_big", 40000L, 8)
      mkTable("cboj_small", 200L, 8)
      try {
        s.conf.set("spark.sql.cbo.enabled", "true")
        s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val q = s.table("cboj_fact")
          .join(s.table("cboj_big"), "k")
          .join(s.table("cboj_small"), "k")
        // with manifest-fed cardinalities, CBO reorders to join the
        // 200-row dim against the fact FIRST (smallest intermediate)
        val joins = q.queryExecution.optimizedPlan.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
        assert(joins.size == 2)
        val innerTables = joins.last.collectLeaves().flatMap {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.catalogTable.map(_.identifier.table)
          case _ => None
        }
        assert(innerTables.toSet == Set("cboj_fact", "cboj_small"),
          s"expected the selective dim joined first, got $innerTables")
        assert(q.count() == 200)

        // Spark's NATIVE ANALYZE TABLE coexists: once the user stores
        // catalog stats the hard way, the rule defers to them
        s.sql("ANALYZE TABLE cboj_small COMPUTE STATISTICS FOR ALL COLUMNS")
        val cat = s.sessionState.catalog
          .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("cboj_small"))
        assert(cat.stats.exists(_.rowCount.contains(BigInt(200))))
        assert(s.table("cboj_small").queryExecution.optimizedPlan
          .stats.rowCount.contains(BigInt(200)))
      } finally {
        s.conf.unset("spark.sql.cbo.enabled")
        s.conf.unset("spark.sql.cbo.joinReorder.enabled")
        s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        Seq("cboj_fact", "cboj_big", "cboj_small").foreach(t =>
          s.sql(s"DROP TABLE IF EXISTS $t"))
      }
    }
  }

  test("r9: ANALYZE WITH HISTOGRAM — skew-aware estimates prevent a bad broadcast") {
    withExtSession { s =>
      import s.implicits._
      val dir = Files.createTempDirectory("graft_hist").toString + "/t"
      // a HEAVILY skewed column: 95% of the mass in v ∈ [0, 99], a
      // sparse tail up to ~200k. The uniform min/max model prices
      // `v <= 99` at (99-0)/(200000-0) ≈ 0.05% — three orders of
      // magnitude under the true 95%.
      (1L to 100000L).map(k => (k,
          if (k <= 95000L) k % 100 else 100000L + k))
        .toDF("k", "v")
        .repartitionByRange(4, col("k")).write.parquet(dir)
      Snapshots.init(s, dir)
      s.sql("DROP TABLE IF EXISTS hist_t")
      s.sql(s"CREATE TABLE hist_t USING graft OPTIONS (path '$dir', keyCol 'k')")
      val other = Files.createTempDirectory("graft_hist_oth").toString + "/o"
      (1L to 100000L).map(k => (k, ("q" + k.toString) * 6)).toDF("k", "oth")
        .write.parquet(other)
      try {
        s.conf.set("spark.sql.cbo.enabled", "true")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", (512 * 1024).toString)
        s.conf.set("spark.sql.adaptive.enabled", "false")
        def estOf() = s.table("hist_t").filter(col("v") <= 99L)
          .queryExecution.optimizedPlan.stats.rowCount.get
        def planOf() = {
          val q = s.table("hist_t").filter(col("v") <= 99L)
            .join(s.read.parquet(other), "k")
          q.queryExecution.executedPlan
        }
        def bhjs(p: org.apache.spark.sql.execution.SparkPlan) = p.collect {
          case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b }

        // plain ANALYZE (NDV, uniform model): the estimate collapses
        // to ~0.05% and the optimizer *broadcasts 95k rows* — the
        // misplan histograms exist to prevent
        s.sql(s"GRAFT ANALYZE '$dir'")
        assert(estOf() < BigInt(5000), s"uniform estimate: ${estOf()}")
        assert(bhjs(planOf()).nonEmpty, "uniform model should (mis)broadcast")

        // WITH HISTOGRAM: equi-height bins see the mass below 100 —
        // the estimate lands near the true 95k and the broadcast of a
        // 95k-row side is OFF
        s.sql(s"GRAFT ANALYZE '$dir' WITH HISTOGRAM")
        assert(estOf() > BigInt(50000) && estOf() <= BigInt(100000),
          s"histogram estimate off: ${estOf()}")
        assert(bhjs(planOf()).isEmpty,
          s"histogram should prevent the 95k-row broadcast:\n${planOf()}")
        // the data answer is identical either way
        assert(s.table("hist_t").filter(col("v") <= 99L).count() == 95000L)
      } finally {
        s.conf.unset("spark.sql.cbo.enabled")
        s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        s.conf.unset("spark.sql.adaptive.enabled")
        s.sql("DROP TABLE IF EXISTS hist_t")
      }
    }
  }

  test("r9: metadata-only aggregates — count/min/max answer from the manifest, scan-free") {
    withExtSession { s =>
      import s.implicits._
      val dir = Files.createTempDirectory("graft_metaagg").toString + "/t"
      // grp is null for k % 10 == 0 → count(grp) and min/max must
      // respect nulls; one file is made ALL-NULL in grp to pin the
      // all-null-file skip path
      (1L to 1000L).map(k => (k,
          if (k % 10 == 0 || k <= 250) null.asInstanceOf[java.lang.Long]
          else java.lang.Long.valueOf(k % 97 + 1)))
        .toDF("k", "grp")
        .repartitionByRange(4, col("k")).write.parquet(dir)
      Snapshots.init(s, dir) // v0
      Snapshots.deleteVersioned(s, dir, col("k") > 900L) // v1

      // assert on the OPTIMIZED LOGICAL plan (AQE wraps the physical
      // tree, hiding scans from a naive collect): metadata-only =
      // zero relation leaves left
      def scans(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r }

      val agg = s.read.format("graft").load(dir)
        .agg(count(lit(1)).as("n"), count(col("grp")).as("n_grp"),
          min("k").as("min_k"), max("k").as("max_k"),
          min("grp").as("min_g"), max("grp").as("max_g"))
      assert(scans(agg).isEmpty,
        s"expected scan-free plan:\n${agg.queryExecution.optimizedPlan}")
      val r = agg.collect()(0)
      // 900 live rows; grp non-null for k in 251..900 with k%10!=0 → 585
      assert(r.getLong(0) == 900L && r.getLong(1) == 585L)
      assert(r.getLong(2) == 1L && r.getLong(3) == 900L)
      assert(r.getLong(4) == 1L && r.getLong(5) == 97L)

      // version-pinned: time travel answers from THAT version's manifest
      val v0 = s.read.format("graft").option("versionAsOf", 0).load(dir)
        .agg(count(lit(1)).as("n")).collect()(0).getLong(0)
      assert(v0 == 1000L)

      // a FILTER breaks the pattern: the plan scans (and stays exact)
      val filtered = s.read.format("graft").load(dir)
        .filter(col("k") <= 100L).agg(count(lit(1)).as("n"))
      assert(scans(filtered).nonEmpty)
      assert(filtered.collect()(0).getLong(0) == 100L)
      // count(DISTINCT) is not a manifest question: scans
      val dist = s.read.format("graft").load(dir)
        .agg(countDistinct(col("grp")).as("nd"))
      assert(scans(dist).nonEmpty)
      // count(NULL) counts non-null evaluations — zero, not row count
      assert(s.read.format("graft").load(dir)
        .agg(count(lit(null)).as("n")).collect()(0).getLong(0) == 0L)

      // THE pin: delete a live data file from disk — the metadata-only
      // aggregate still answers (a scan would now be impossible)
      val victim = Snapshots.liveFiles(dir, 1).head
      Files.delete(java.nio.file.Paths.get(victim))
      val after = s.read.format("graft").load(dir)
        .agg(count(lit(1)).as("n"), max("k").as("max_k")).collect()(0)
      assert(after.getLong(0) == 900L && after.getLong(1) == 900L)

      // partitioned root: sums across every partition's current version
      val proot = Files.createTempDirectory("graft_metaagg_p").toString + "/t"
      PartitionedSnapshots.init(s, proot,
        (1L to 300L).map(k => (k, s"s${k % 3}")).toDF("k", "part"), "part")
      val pa = s.read.format("graft").load(proot)
        .agg(count(lit(1)).as("n"), min("k").as("min_k"), max("k").as("max_k"))
      assert(scans(pa).isEmpty)
      val pr = pa.collect()(0)
      assert(pr.getLong(0) == 300L && pr.getLong(1) == 1L && pr.getLong(2) == 300L)
    }
  }

  test("r11: FILTERED metadata-only aggregates — stats-decidable " +
      "predicates answer from the manifest; undecidable ones fall back") {
    withExtSession { s =>
      import s.implicits._
      val dir = Files.createTempDirectory("graft_metaf").toString + "/t"
      // range-partitioned files: [1,250] [251,500] [501,750] [751,1000];
      // grp null for k % 10 == 0 and the whole first file
      (1L to 1000L).map(k => (k,
          if (k % 10 == 0 || k <= 250) null.asInstanceOf[java.lang.Long]
          else java.lang.Long.valueOf(k % 97 + 1)))
        .toDF("k", "grp")
        .repartitionByRange(4, col("k")).write.parquet(dir)
      Snapshots.init(s, dir) // v0
      Snapshots.deleteVersioned(s, dir, col("k") > 900L) // v1

      def scans(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r }

      // an ALIGNED cut: every file wholly in or out → metadata-only
      val q = s.read.format("graft").load(dir).filter(col("k") >= 501L)
        .agg(count(lit(1)).as("n"), count(col("grp")).as("n_grp"),
          min("k").as("min_k"), max("k").as("max_k"),
          min("grp").as("min_g"), max("grp").as("max_g"))
      assert(scans(q).isEmpty,
        s"expected scan-free plan:\n${q.queryExecution.optimizedPlan}")
      val r = q.collect()(0)
      assert(r.getLong(0) == 400L && r.getLong(1) == 360L)
      assert(r.getLong(2) == 501L && r.getLong(3) == 900L)
      assert(r.getLong(4) == 1L && r.getLong(5) == 97L)

      // a compound aligned range: [251, 750] picks the middle files
      val q2 = s.read.format("graft").load(dir)
        .filter(col("k") >= 251L && col("k") <= 750L)
        .agg(count(lit(1)).as("n"))
      assert(scans(q2).isEmpty)
      assert(q2.collect()(0).getLong(0) == 500L)

      // IsNotNull on a null-free column is decidable everywhere
      val q3 = s.read.format("graft").load(dir)
        .filter(col("k").isNotNull).agg(count(lit(1)).as("n"))
      assert(scans(q3).isEmpty)
      assert(q3.collect()(0).getLong(0) == 900L)

      // a STRADDLING cut: file [251,500] is neither in nor out → the
      // scan stays (and stays exact)
      val q4 = s.read.format("graft").load(dir).filter(col("k") >= 400L)
        .agg(count(lit(1)).as("n"))
      assert(scans(q4).nonEmpty)
      assert(q4.collect()(0).getLong(0) == 501L)

      // mixed-null files make IsNull undecidable → scan
      val q5 = s.read.format("graft").load(dir).filter(col("grp").isNull)
        .agg(count(lit(1)).as("n"))
      assert(scans(q5).nonEmpty)
      assert(q5.collect()(0).getLong(0) == 315L) // 250 + 65 (k%10, 251..900)

      // THE pin: a live file on the pruned-away side vanishes from
      // disk — the decided query still answers from the manifest
      val vNow = Snapshots.currentVersion(dir)
      val lowFile = Snapshots.liveFiles(dir, vNow)
        .find(f => s.read.parquet(f).agg(max("k"))
          .head().getLong(0) <= 500L).get
      Files.delete(java.nio.file.Paths.get(lowFile))
      val after = s.read.format("graft").load(dir).filter(col("k") >= 501L)
        .agg(count(lit(1)).as("n")).collect()(0)
      assert(after.getLong(0) == 400L)

      // partitioned root: the partition-column predicate prunes whole
      // dirs — a pruned-OUT partition's file can vanish too
      val proot = Files.createTempDirectory("graft_metaf_p").toString + "/t"
      PartitionedSnapshots.init(s, proot,
        (1L to 300L).map(k => (k, s"s${k % 3}")).toDF("k", "part"), "part")
      val s0 = proot + "/part=s0"
      Files.delete(java.nio.file.Paths.get(
        Snapshots.liveFiles(s0, Snapshots.currentVersion(s0)).head))
      val pq = s.read.format("graft").load(proot)
        .filter(col("part") === "s1")
        .agg(count(lit(1)).as("n"), min("k").as("min_k"))
      assert(scans(pq).isEmpty,
        s"expected scan-free plan:\n${pq.queryExecution.optimizedPlan}")
      val prow = pq.collect()(0)
      assert(prow.getLong(0) == 100L && prow.getLong(1) == 1L)

      // HIDDEN month-partitioned root: a month-aligned timestamp range
      // decides whole dirs through the transform's exact micros
      // interval — no file range for a timestamp column needed
      val hroot = Files.createTempDirectory("graft_metaf_h").toString + "/t"
      // k 1..600 → day k ⇒ months 0..~19; month m starts at a known day
      graft.sources.HiddenPartitions.init(s, hroot,
        (1L to 600L).map(k => (k, k * 86400000000L)).toDF("k", "us")
          .withColumn("ts", timestamp_micros(col("us"))).drop("us"),
        graft.sources.MonthTransform("ts"))
      // cut at 1970-07-01: months 0..5 wholly out, 6+ wholly in
      val cut = java.time.LocalDate.of(1970, 7, 1).toEpochDay * 86400000000L
      val hq = s.read.format("graft").load(hroot)
        .filter(col("ts") >= timestamp_micros(lit(cut)))
        .agg(count(lit(1)).as("n"), min("k").as("min_k"),
          max("k").as("max_k"))
      assert(scans(hq).isEmpty,
        s"expected scan-free plan:\n${hq.queryExecution.optimizedPlan}")
      val hrow = hq.collect()(0)
      // days ≥ 1970-07-01 = epoch day 181 → k in 181..600
      assert(hrow.getLong(0) == 420L && hrow.getLong(1) == 181L &&
        hrow.getLong(2) == 600L, hrow.toString)
      // a MID-month cut: the boundary month is undecidable → scan, exact
      val midCut = cut + 10L * 86400000000L
      val hq2 = s.read.format("graft").load(hroot)
        .filter(col("ts") >= timestamp_micros(lit(midCut)))
        .agg(count(lit(1)).as("n"))
      assert(scans(hq2).nonEmpty)
      assert(hq2.collect()(0).getLong(0) == 410L)
    }
  }

  test("r9: ANSI DML on a HIDDEN-partitioned table routes through the transform") {
    withExtSession { s =>
      import s.implicits._
      val root = Files.createTempDirectory("graft_hidden_dml").toString + "/t"
      graft.sources.HiddenPartitions.init(s, root,
        (1L to 400L).map(k => (k, s"v$k")).toDF("k", "payload"),
        graft.sources.ModTransform("k", 4))
      s.sql("DROP TABLE IF EXISTS hp")
      s.sql(s"CREATE TABLE hp USING graft OPTIONS (path '$root')")
      def versions = graft.sources.PartitionedSnapshots.versions(root)

      // DELETE with a prunable equality: ONLY residue 1 commits
      val before = versions
      assert(s.sql("DELETE FROM hp WHERE k = 437").head().getLong(0) == 1L)
      assert(versions("1") == before("1") + 1)
      assert(versions.filter(_._1 != "1") == before.filter(_._1 != "1"))
      // (key 437 doesn't exist — the commit is the pruned attempt)
      // the session catalog caches the resolved relation (old file
      // list) — refresh after every out-of-band commit, like any
      // external-writer flow
      s.catalog.refreshTable("hp")
      assert(s.table("hp").count() == 400)

      // UPDATE with an IN over one residue: one partition commits,
      // rows change exactly
      val b2 = versions
      assert(s.sql("UPDATE hp SET payload = 'X' WHERE k IN (2, 6)")
        .head().getLong(0) == 1L)
      assert(versions("2") == b2("2") + 1)
      s.catalog.refreshTable("hp")
      assert(s.table("hp").filter(col("payload") === "X").count() == 2)

      // SET of the transform source column refuses (row movement)
      val eSet = intercept[Exception] {
        s.sql("UPDATE hp SET k = k + 1 WHERE k = 3")
      }
      assert(eSet.getMessage.contains("transform"), eSet.getMessage)
      // INSERT refuses loudly (no silent raw-root write); rows intact
      intercept[Exception] { s.sql("INSERT INTO hp VALUES (999, 'Z')") }
      s.catalog.refreshTable("hp")
      assert(s.table("hp").count() == 400)
      // MERGE star-upsert routes through HiddenPartitions.merge
      (1L to 3L).map(k => (k * 100 + 1, "M")).toDF("k", "payload")
        .createOrReplaceTempView("hp_src")
      s.sql("""MERGE INTO hp t USING hp_src s ON t.k = s.k
              |WHEN MATCHED THEN UPDATE SET *
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s.catalog.refreshTable("hp")
      assert(s.table("hp").filter(col("payload") === "M").count() == 3)
      assert(s.table("hp").filter(col("k") === 101L)
        .select("payload").head().getString(0) == "M")
      s.sql("DROP TABLE IF EXISTS hp")
    }
  }

  test("r9 (A53): ANSI DML routes across an EVOLVED hidden spec") {
    withExtSession { s =>
      import s.implicits._
      val root = Files.createTempDirectory("graft_hidden_evo_dml").toString + "/t"
      graft.sources.HiddenPartitions.init(s, root,
        (1L to 400L).map(k => (k, s"v$k")).toDF("k", "payload"),
        graft.sources.ModTransform("k", 4))
      graft.sources.HiddenPartitions.evolve(root,
        graft.sources.ModTransform("k", 8))
      graft.sources.HiddenPartitions.merge(s, root,
        (1001L to 1100L).map(k => (k, s"v$k")).toDF("k", "payload"), "k")
      s.sql("DROP TABLE IF EXISTS hpe")
      s.sql(s"CREATE TABLE hpe USING graft OPTIONS (path '$root')")
      assert(s.table("hpe").count() == 500)
      // a point DELETE prunes PER EPOCH: epoch 0 keeps k%4, epoch 1
      // keeps k%8 — exactly two partitions commit
      assert(s.sql("DELETE FROM hpe WHERE k = 1001").head().getLong(0) == 2L)
      s.catalog.refreshTable("hpe")
      assert(s.table("hpe").count() == 499)
      // UPDATE across both epochs' rows lands in both layouts
      s.sql("UPDATE hpe SET payload = 'X' WHERE k IN (2, 1002)")
      s.catalog.refreshTable("hpe")
      assert(s.table("hpe").filter(col("payload") === "X").count() == 2)
      // SET of ANY epoch's transform column refuses — including one
      // added by a later cross-column evolution
      val e1 = intercept[Exception] { s.sql("UPDATE hpe SET k = k + 1") }
      assert(e1.getMessage.contains("transform"), e1.getMessage)
      graft.sources.HiddenPartitions.evolve(root,
        graft.sources.TruncateTransform("payload", 1))
      s.catalog.refreshTable("hpe")
      val e2 = intercept[Exception] {
        s.sql("UPDATE hpe SET payload = 'Y' WHERE k = 3")
      }
      assert(e2.getMessage.contains("transform"), e2.getMessage)
      s.sql("DROP TABLE IF EXISTS hpe")
    }
  }

  test("A44 ANSI DML by catalog NAME: the post-hoc rule routes all four verbs") {
    withExtSession { s =>
      val dir = stageDml(s, "graft_ansi_cat")
      s.sql("DROP TABLE IF EXISTS dml_cat")
      s.sql(s"CREATE TABLE dml_cat USING graft OPTIONS (path '$dir', keyCol 'k')")
      try {
        s.sql("""MERGE INTO dml_cat t
                |USING (SELECT CAST(5 AS BIGINT) AS k, 'UP5' AS payload,
                |              CAST(1 AS BIGINT) AS gen) src
                |ON t.k = src.k
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        assert(Snapshots.read(s, dir).filter(col("k") === 5L)
          .head().getString(1) == "UP5")

        s.sql("UPDATE dml_cat SET gen = gen + 10 WHERE k <= 3")
        assert(Snapshots.read(s, dir).filter(col("gen") >= 10L).count() == 3)

        s.sql("DELETE FROM dml_cat WHERE k = 1")
        assert(Snapshots.read(s, dir).count() == 99)

        // INSERT by name arrives as Spark's own planned file-insert
        // command and is re-routed into an append COMMIT
        s.sql("INSERT INTO dml_cat VALUES (CAST(500 AS BIGINT), 'I', CAST(0 AS BIGINT))")
        assert(Snapshots.read(s, dir).filter(col("k") === 500L).count() == 1)
        assert(Snapshots.currentVersion(dir) == 4)
      } finally s.sql("DROP TABLE IF EXISTS dml_cat")
    }
  }

  test("r9 (A57): GRAFT CREATE MATERIALIZED VIEW ... JOIN end-to-end") {
    import org.apache.spark.sql.functions._
    val l = java.nio.file.Files.createTempDirectory("graft_mvjsql").toString
    val r = java.nio.file.Files.createTempDirectory("graft_mvjsql").toString
    val mv = l + "/mv"
    Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(l)
    Tables.customer(spark, sf)
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      .write.mode("overwrite").parquet(r)
    Snapshots.init(spark, l, changeDataFeed = true)
    Snapshots.init(spark, r, changeDataFeed = true)
    withExtSession { s =>
      s.sql(s"GRAFT CREATE MATERIALIZED VIEW '$mv' ON '$l' KEY o_orderkey " +
        s"JOIN '$r' KEY o_custkey ON o_custkey " +
        "GROUP BY (c_mktsegment) SUM (o_orderkey)")
      s.sql(s"DELETE FROM graft.`$l` WHERE o_orderkey % 4 = 0")
      s.sql(s"DELETE FROM graft.`$r` WHERE o_custkey % 6 = 1")
      s.sql(s"GRAFT REFRESH MATERIALIZED VIEW '$mv'")
    }
    val got = graft.sources.MaterializedView.read(spark, mv)
    val want = Snapshots.read(spark, l)
      .join(Snapshots.read(spark, r), Seq("o_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"),
        sum("o_orderkey").as("sum_o_orderkey"),
        avg("o_orderkey").as("avg_o_orderkey"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("r9 (A55): GRAFT CREATE/REFRESH MATERIALIZED VIEW end-to-end") {
    val base = java.nio.file.Files.createTempDirectory("graft_mvsql").toString
    val mv = base + "/mv"
    Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_orderstatus")
      .write.mode("overwrite").parquet(base)
    Snapshots.init(spark, base, changeDataFeed = true)
    withExtSession { s =>
      s.sql(s"GRAFT CREATE MATERIALIZED VIEW '$mv' ON '$base' " +
        "KEY o_orderkey GROUP BY (o_orderstatus) SUM (o_custkey)")
      s.sql(s"DELETE FROM graft.`$base` WHERE o_orderkey % 3 = 0")
      s.sql(s"GRAFT REFRESH MATERIALIZED VIEW '$mv'")
      val d = s.sql(s"GRAFT DESCRIBE MATERIALIZED VIEW '$mv'").collect()
      assert(d.length == 1 && d.head.getAs[Long]("lag") == 0L)
    }
    val got = graft.sources.MaterializedView.read(spark, mv)
    val want = Snapshots.read(spark, base).groupBy("o_orderstatus")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("cnt"),
        org.apache.spark.sql.functions.sum("o_custkey").as("sum_o_custkey"),
        org.apache.spark.sql.functions.avg("o_custkey").as("avg_o_custkey"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("r11 (A63): GRAFT CREATE MATERIALIZED VIEW ... MINMAX over SQL — " +
      "extremum-killing DML, the refresh stays recompute-exact") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_mvmmsql").toString
    val mv = base + "/mv"
    Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .write.mode("overwrite").parquet(base)
    Snapshots.init(spark, base, changeDataFeed = true)
    withExtSession { s =>
      s.sql(s"GRAFT CREATE MATERIALIZED VIEW '$mv' ON '$base' " +
        "KEY o_orderkey GROUP BY (o_orderstatus) SUM (o_custkey) " +
        "MINMAX (o_totalprice)")
      // kill the top of the distribution: stored maxima die → the
      // group-scoped recompute path, all through SQL
      s.sql(s"DELETE FROM graft.`$base` WHERE o_totalprice > 300000.0")
      s.sql(s"GRAFT REFRESH MATERIALIZED VIEW '$mv'")
    }
    val got = graft.sources.MaterializedView.read(spark, mv)
      .select("o_orderstatus", "cnt", "sum_o_custkey",
        "min_o_totalprice", "max_o_totalprice")
    val want = Snapshots.read(spark, base).groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"),
        sum("o_custkey").as("sum_o_custkey"),
        min("o_totalprice").as("min_o_totalprice"),
        max("o_totalprice").as("max_o_totalprice"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("r13 (A82/A43): GRAFT CREATE ... DISTINCT over SQL and " +
      "REGISTER ... ON TABLE — sketch dashboard + by-name rewrite") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_mvdsql").toString
    val mv = base + "/mv"
    Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_orderstatus")
      .withColumn("o_bucket", col("o_custkey") % 20)
      .write.mode("overwrite").parquet(base)
    Snapshots.init(spark, base, changeDataFeed = true)
    withExtSession { s =>
      s.sql(s"GRAFT CREATE MATERIALIZED VIEW '$mv' ON '$base' " +
        "KEY o_orderkey GROUP BY (o_orderstatus) SUM (o_custkey) " +
        "DISTINCT (o_bucket)")
      s.sql(s"DELETE FROM graft.`$base` WHERE o_orderkey % 9 = 2")
      s.sql(s"GRAFT REFRESH MATERIALIZED VIEW '$mv'")
      s.sql("DROP TABLE IF EXISTS mvd_byname")
      s.sql(s"CREATE TABLE mvd_byname USING graft " +
        s"OPTIONS (path '$base', keyCol 'o_orderkey')")
      try {
        s.sql(s"GRAFT REGISTER MATERIALIZED VIEW '$mv' ON TABLE mvd_byname")
        val q = s.sql("SELECT o_orderstatus, count(*) AS cnt, " +
          "hll_sketch_estimate(hll_sketch_agg(o_bucket)) AS nd " +
          "FROM mvd_byname GROUP BY o_orderstatus")
        // scan-free through the NAME: no graft base relation remains
        val scansBase = q.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location match {
                  case g: graft.sources.GraftFileIndex => Seq(g.tablePath)
                  case _ => Seq.empty[String]
                }
              case _ => Seq.empty[String]
            }
        }.flatten.map(pp => java.nio.file.Paths.get(pp)
          .toAbsolutePath.normalize.toString)
        assert(!scansBase.contains(java.nio.file.Paths.get(base)
          .toAbsolutePath.normalize.toString),
          "the by-name sketch dashboard must rewrite to the MV")
        val want = Snapshots.read(s, base).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("cnt"),
            expr("hll_sketch_estimate(hll_sketch_agg(o_bucket))").as("nd"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        assert(q.collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2))).toSet == want)
        // the ON TABLE form validates the path: a foreign table refuses
        val other = java.nio.file.Files.createTempDirectory("graft_mvdsql_o").toString
        Tables.orders(s, sf).select("o_orderkey", "o_custkey").limit(3)
          .write.mode("overwrite").parquet(other)
        Snapshots.init(s, other)
        s.sql("DROP TABLE IF EXISTS mvd_other")
        s.sql(s"CREATE TABLE mvd_other USING graft " +
          s"OPTIONS (path '$other', keyCol 'o_orderkey')")
        try intercept[IllegalArgumentException] {
          s.sql(s"GRAFT REGISTER MATERIALIZED VIEW '$mv' ON TABLE mvd_other")
        } finally s.sql("DROP TABLE IF EXISTS mvd_other")
      } finally {
        graft.sources.MvRegistry.unregister(mv)
        s.sql("DROP TABLE IF EXISTS mvd_byname")
      }
    }
  }

  test("r13 (A77): GRAFT RECONCILE on a hidden root folds every " +
      "DV-carrying directory in one sweep") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_recroot")
      .toString + "/t"
    graft.sources.HiddenPartitions.init(spark, root,
      (1L to 80L).map(k => (k, s"v$k")).toDF("k", "payload"),
      graft.sources.ModTransform("k", 4))
    graft.sources.HiddenPartitions.merge(spark, root,
      (1L to 12L).map(k => (k, "U")).toDF("k", "payload"), "k", mor = true)
    val dirs = graft.sources.HiddenPartitions.epochGroups(root)
      .flatMap(_._3).map(_._2)
    assert(dirs.count(d => Snapshots.dvFiles(d,
      Snapshots.currentVersion(d)).nonEmpty) == 4)
    withExtSession { s =>
      val n = s.sql(s"GRAFT RECONCILE '$root'").collect().head.getLong(0)
      assert(n == 4L, s"expected 4 reconciled dirs, got $n")
    }
    dirs.foreach(d => assert(Snapshots.dvFiles(d,
      Snapshots.currentVersion(d)).isEmpty))
    assert(spark.read.format("graft").load(root).count() == 80)
    assert(spark.read.format("graft").load(root)
      .filter(col("k") === 5L).head().getString(1) == "U")
  }

  test("r13: CREATE MATERIALIZED VIEW ... WHERE over SQL stores the " +
      "filtered predicate; OPTIMIZE on a hidden root sweeps every dir") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // filtered MV over SQL: predicate stored, refresh filtered-exact
    val base = java.nio.file.Files.createTempDirectory("graft_mvwsql").toString
    val mv = base + "/mv"
    Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_orderstatus")
      .write.mode("overwrite").parquet(base)
    Snapshots.init(spark, base, changeDataFeed = true)
    withExtSession { s =>
      s.sql(s"GRAFT CREATE MATERIALIZED VIEW '$mv' ON '$base' " +
        "KEY o_orderkey GROUP BY (o_orderstatus) SUM (o_custkey) " +
        "WHERE o_orderkey % 2 = 0")
      assert(graft.sources.MaterializedView.spec(mv).filter
        .contains("o_orderkey % 2 = 0"))
      s.sql(s"DELETE FROM graft.`$base` WHERE o_orderkey % 7 = 3")
      s.sql(s"GRAFT REFRESH MATERIALIZED VIEW '$mv'")
    }
    val got = graft.sources.MaterializedView.read(spark, mv)
      .select("o_orderstatus", "cnt", "sum_o_custkey")
    val want = Snapshots.read(spark, base)
      .filter(col("o_orderkey") % 2 === 0)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"), sum("o_custkey").as("sum_o_custkey"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // root OPTIMIZE: a fragmented hidden table packs per dir
    val root = java.nio.file.Files.createTempDirectory("graft_optroot")
      .toString + "/t"
    graft.sources.HiddenPartitions.init(spark, root,
      (1L to 80L).map(k => (k, s"v$k")).toDF("k", "payload")
        .repartition(6), graft.sources.ModTransform("k", 4))
    val dirs = graft.sources.HiddenPartitions.epochGroups(root)
      .flatMap(_._3).map(_._2)
    val before = dirs.map(d =>
      Snapshots.liveFiles(d, Snapshots.currentVersion(d)).size).sum
    withExtSession { s =>
      val n = s.sql(s"GRAFT OPTIMIZE '$root'").collect().head.getLong(0)
      assert(n == 4L, s"expected all 4 dirs compacted, got $n")
    }
    val after = dirs.map(d =>
      Snapshots.liveFiles(d, Snapshots.currentVersion(d)).size).sum
    assert(after < before, s"expected fewer files: $before -> $after")
    assert(spark.read.format("graft").load(root).count() == 80)
  }

  test("r10 (A56): GRAFT BEGIN/COMMIT TRANSACTION, ABORT, RECOVER and " +
      "PIN CONSISTENT — the multi-table protocol end-to-end over SQL") {
    withExtSession { s =>
      import s.implicits._
      val root = Files.createTempDirectory("graft_txnsql").toString
      val (t1, t2) = (root + "/t1", root + "/t2")
      val coord = root + "/coord"
      (1L to 40L).map(k => (k, s"v$k")).toDF("k", "payload")
        .write.parquet(t1)
      (1L to 40L).map(k => (k, k * 10)).toDF("k", "amt")
        .write.parquet(t2)
      Snapshots.init(s, t1); Snapshots.init(s, t2)
      // BEGIN returns the per-table staging branches
      val rows = s.sql(
        s"GRAFT BEGIN TRANSACTION 'sqltx1' AT '$coord' ON ('$t1', '$t2')")
        .collect()
      assert(rows.length == 2)
      val branches = rows.map(r => r.getString(0) -> r.getString(1)).toMap
      // stage with ORDINARY DML on the branch paths
      s.sql(s"DELETE FROM graft.`${branches(t1)}` WHERE k <= 5")
      Snapshots.appendVersioned(s, branches(t2),
        Seq((100L, 1000L)).toDF("k", "amt"))
      // undecided: neither main moved
      assert(Snapshots.read(s, t1).count() == 40)
      assert(Snapshots.read(s, t2).count() == 40)
      s.sql("GRAFT COMMIT TRANSACTION 'sqltx1'")
      assert(Snapshots.read(s, t1).count() == 35)
      assert(Snapshots.read(s, t2).count() == 41)
      // a second COMMIT of the same id refuses (the handle is spent)
      intercept[Exception] { s.sql("GRAFT COMMIT TRANSACTION 'sqltx1'") }
      // PIN CONSISTENT: one (table, version) row per table
      val pins = s.sql(
        s"GRAFT PIN CONSISTENT AT '$coord' ON ('$t1', '$t2')").collect()
      assert(pins.length == 2 && pins.forall(_.getLong(1) >= 1L))
      // crash window: commit dies between the two publishes; RECOVER
      // over SQL completes the decided transaction
      val h = graft.sources.GraftTxn.begin(s, coord, Seq(t1, t2), "sqltx2")
      Snapshots.deleteVersioned(s, h.branchOf(t1), col("k") > 30)
      intercept[RuntimeException] {
        graft.sources.GraftTxn.commit(s, h, beforePublish = i =>
          if (i == 1) throw new RuntimeException("crash before publish 2"))
      }
      assert(s.sql(s"GRAFT RECOVER '$coord'")
        .collect().head.getLong(0) == 1L)
      assert(Snapshots.read(s, t1).count() == 25)
      // ABORT: branches dropped, handle spent, mains untouched
      s.sql(s"GRAFT BEGIN TRANSACTION 'sqltx3' AT '$coord' ON ('$t1')")
      s.sql("GRAFT ABORT TRANSACTION 'sqltx3'")
      intercept[Exception] { s.sql("GRAFT COMMIT TRANSACTION 'sqltx3'") }
      assert(Snapshots.read(s, t1).count() == 25)
    }
  }

  test("r10 (A58): GRAFT REGISTER MATERIALIZED VIEW enables the MV " +
      "rewrite for SQL aggregates over the base") {
    withExtSession { s =>
      val root = Files.createTempDirectory("graft_mvregsql").toString
      val base = root + "/base"; val mv = root + "/mv"
      Tables.orders(s, sf)
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .write.parquet(base)
      Snapshots.init(s, base, changeDataFeed = true)
      s.sql(s"GRAFT CREATE MATERIALIZED VIEW '$mv' ON '$base' " +
        "KEY o_orderkey GROUP BY (o_orderstatus) SUM (o_custkey)")
      s.sql(s"GRAFT REGISTER MATERIALIZED VIEW '$mv'")
      try {
        s.sql(s"DELETE FROM graft.`$base` WHERE o_orderkey % 3 = 0")
        s.sql(s"GRAFT REFRESH MATERIALIZED VIEW '$mv'")
        val q = s.sql("SELECT o_orderstatus, count(*) AS cnt, " +
          s"sum(o_custkey) AS sc FROM graft.`$base` GROUP BY 1")
        val scansBase = q.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location match {
                  case g: graft.sources.GraftFileIndex => Seq(g.tablePath)
                  case _ => Seq.empty[String]
                }
              case _ => Seq.empty[String]
            }
        }.flatten.map(p => Paths.get(p).toAbsolutePath.normalize.toString)
        assert(!scansBase.contains(
          Paths.get(base).toAbsolutePath.normalize.toString),
          "the SQL aggregate must answer from the registered MV")
        val want = Snapshots.read(s, base).groupBy("o_orderstatus")
          .agg(org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("cnt"),
            org.apache.spark.sql.functions.sum("o_custkey").as("sc"))
        assert(q.exceptAll(want).isEmpty && want.exceptAll(q).isEmpty)
      } finally s.sql(s"GRAFT UNREGISTER MATERIALIZED VIEW '$mv'")
    }
  }

  // ── r15 (the r14 verdict's item 4): SQL DDL FOR LAYOUTS ──────────

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("CREATE TABLE … PARTITIONED BY (mod(4, k), bucket(4, c)) lays " +
      "down the hidden + composed bucket layout; merges and reads by " +
      "name route through it") {
    withExtSession { s =>
      import s.implicits._
      val dir = Files.createTempDirectory("graft_ddl_hidden").toString + "/t"
      s.sql(s"""CREATE TABLE ck_hidden (k BIGINT, c BIGINT, x DOUBLE)
               |USING graft
               |PARTITIONED BY (mod(4, k), bucket(4, c))
               |LOCATION '$dir'""".stripMargin)
      try {
        import graft.sources.{HiddenPartitions, ModTransform}
        assert(HiddenPartitions.specOf(dir).contains(ModTransform("k", 4)))
        assert(PartitionedSnapshots.bucketOf(dir).contains(("c", 4)))
        // first contact bootstraps the dirs — bucketed
        val data = (1L to 200L).map(k => (k, k % 7, k * 1.0))
          .toDF("k", "c", "x")
        HiddenPartitions.merge(s, dir, data, "k")
        // co-bucketed dim, exchange-free join through the BY-NAME read
        val dimDir = Files.createTempDirectory("graft_ddl_dim").toString
        Snapshots.writeBucketedVersioned(s, dimDir,
          (0L to 6L).map(c => (c, s"g$c")).toDF("c", "label"), "c", 4)
        val j = s.table("ck_hidden")
          .join(s.read.format("graft").load(dimDir).hint("merge"), Seq("c"))
        assert(!plan(j).contains("Exchange"), plan(j).take(1200))
        assert(j.count() == 200)
        // transform pruning on the by-name read: the k predicate
        // arrives at the hidden index and opens fewer files
        def scanned(df: org.apache.spark.sql.DataFrame): Long = {
          df.collect()
          df.queryExecution.executedPlan.collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec => f
          }.map(_.metrics("numFiles").value).sum
        }
        val all = scanned(s.table("ck_hidden"))
        val one = scanned(s.table("ck_hidden").filter(col("k") === 8L))
        assert(one < all, s"transform pruning through the DDL'd " +
          s"layout ($one/$all)")
        // ANSI MERGE by NAME routes through the hidden merge
        val w = Files.createTempDirectory("graft_ddl_w").toString + "/d"
        (1L to 10L).map(k => (k, k % 7, -1.0)).toDF("k", "c", "x")
          .write.parquet(w)
        s.sql(s"""MERGE INTO ck_hidden t USING parquet.`$w` s
                 |ON t.k = s.k
                 |WHEN MATCHED THEN UPDATE SET *
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        // standard Spark semantics for externally-versioned sources:
        // the session caches the resolved relation per table name, so
        // a post-read DML needs REFRESH TABLE before the next read
        s.catalog.refreshTable("ck_hidden")
        assert(s.table("ck_hidden").filter(col("x") === -1.0).count() == 10)
      } finally s.sql("DROP TABLE IF EXISTS ck_hidden")
    }
  }

  test("CREATE TABLE … PARTITIONED BY (st, bucket(4, c)) records the " +
      "hive partitionCol + composed spec; bootstrapped partitions come " +
      "up bucketed and the by-name read prunes") {
    withExtSession { s =>
      import s.implicits._
      val dir = Files.createTempDirectory("graft_ddl_part").toString + "/t"
      s.sql(s"""CREATE TABLE ck_part (k BIGINT, c BIGINT, st STRING,
               |  x DOUBLE)
               |USING graft
               |PARTITIONED BY (st, bucket(4, c))
               |LOCATION '$dir'""".stripMargin)
      try {
        assert(PartitionedSnapshots.bucketOf(dir).contains(("c", 4)))
        val data = (1L to 200L)
          .map(k => (k, k % 7, s"s${k % 3}", k * 1.0))
          .toDF("k", "c", "st", "x")
        PartitionedSnapshots.mergePartitioned(s, dir, data, "k", "st")
        // every bootstrapped partition carries the composed spec
        PartitionedSnapshots.partitions(dir).foreach { v =>
          val d = PartitionedSnapshots.partitionDir(dir, v)
          assert(Snapshots.bucketSpecOf(d, Snapshots.currentVersion(d))
            .contains(("c", 4)), s"partition $v must bootstrap bucketed")
        }
        // by-name read: the catalog entry carries partitionCol, so the
        // partition filter prunes whole dirs and groupBy(c) runs
        // exchange-free on the composed layout
        val g = s.table("ck_part").groupBy("c").agg(count("*").as("n"))
        assert(!plan(g).contains("Exchange"), plan(g).take(1200))
        val q = s.table("ck_part").filter(col("st") === "s1")
        assert(plan(q).contains("PartitionFilters") &&
          plan(q).contains("st"), plan(q).take(1200))
        assert(q.count() == data.filter(col("st") === "s1").count())
      } finally s.sql("DROP TABLE IF EXISTS ck_part")
    }
  }

  test("CREATE TABLE … PARTITIONED BY (bucket(4, c)) alone bootstraps " +
      "a flat bucketed table at v0; the first merge lands tagged") {
    withExtSession { s =>
      import s.implicits._
      val dir = Files.createTempDirectory("graft_ddl_flat").toString + "/t"
      s.sql(s"""CREATE TABLE ck_flat (c BIGINT, x DOUBLE)
               |USING graft
               |PARTITIONED BY (bucket(4, c))
               |LOCATION '$dir'""".stripMargin)
      try {
        assert(Snapshots.currentVersion(dir) == 0)
        assert(Snapshots.bucketSpecOf(dir, 0).contains(("c", 4)))
        Snapshots.mergeVersioned(s, dir,
          (1L to 100L).map(c => (c, c * 1.0)).toDF("c", "x"), "c")
        val g = s.table("ck_flat").groupBy("c").agg(count("*").as("n"))
        assert(!plan(g).contains("Exchange"),
          "the first merge must land bucket-tagged\n" + plan(g).take(1200))
        assert(g.count() == 100)
      } finally s.sql("DROP TABLE IF EXISTS ck_flat")
    }
  }

  test("layout DDL refusals: composing identity with a transform; an " +
      "unknown transform; a missing LOCATION; IF NOT EXISTS no-ops") {
    withExtSession { s =>
      val dir = Files.createTempDirectory("graft_ddl_refuse").toString
      def fails(sql: String, hint: String): Unit = {
        val e = intercept[Exception](s.sql(sql))
        assert(e.getMessage.contains(hint),
          s"want '$hint' in: ${e.getMessage.take(300)}")
      }
      fails(s"""CREATE TABLE ck_bad1 (k BIGINT, ts TIMESTAMP) USING graft
               |PARTITIONED BY (k, day(ts)) LOCATION '$dir/a'""".stripMargin,
        "cannot compose")
      fails(s"""CREATE TABLE ck_bad2 (k BIGINT) USING graft
               |PARTITIONED BY (weird(3, k)) LOCATION '$dir/b'""".stripMargin,
        "unsupported partition transform")
      fails(s"""CREATE TABLE ck_bad3 (k BIGINT) USING graft
               |PARTITIONED BY (mod(4, k))""".stripMargin,
        "path-addressed")
      fails(s"""CREATE TABLE ck_bad4 (k BIGINT) USING graft
               |PARTITIONED BY (mod(4, nope)) LOCATION '$dir/c'""".stripMargin,
        "not in the table schema")
      // IF NOT EXISTS: second create no-ops instead of throwing
      s.sql(s"""CREATE TABLE ck_ok (k BIGINT) USING graft
               |PARTITIONED BY (mod(4, k)) LOCATION '$dir/d'""".stripMargin)
      try {
        val again = s.sql(
          s"""CREATE TABLE IF NOT EXISTS ck_ok (k BIGINT) USING graft
             |PARTITIONED BY (mod(4, k)) LOCATION '$dir/d'""".stripMargin)
        assert(again.head().getLong(0) == 0L)
      } finally s.sql("DROP TABLE IF EXISTS ck_ok")
    }
  }
}
