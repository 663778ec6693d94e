package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.sources.Snapshots

/** The stat lines a commit takes from its own write (the per-file
  * tracker inside the write tasks) equal, as a set, the lines the
  * `statsLines` aggregate computes by reading the same files back —
  * for every tagged type, struct leaves, arrays and maps, all-null
  * columns, a 0-row file, and with either stats conf off. */
class StatsParitySpec extends GraftSuite {

  private val schema = StructType(Seq(
    StructField("l", LongType), StructField("i", IntegerType),
    StructField("d", DoubleType), StructField("f", FloatType),
    StructField("dec", DecimalType(12, 3)), StructField("s", StringType),
    StructField("ts", TimestampType), StructField("ntz", TimestampNTZType),
    StructField("dt", DateType), StructField("b", BooleanType),
    StructField("nul", StringType),
    StructField("st", StructType(Seq(
      StructField("w", IntegerType), StructField("name", StringType),
      StructField("in", StructType(Seq(StructField("x", DoubleType))))))),
    StructField("arr", ArrayType(LongType)),
    StructField("m", MapType(StringType, IntegerType))))

  private val long = "ü" * 40 + "ÿ￿" // > 64 UTF-8 bytes: truncated

  private def row(n: Int): Row = {
    val f = n % 7 match {
      case 0 => Float.NaN; case 1 => -0.0f; case 2 => 0.0f
      case 3 => 0.7f; case _ => -n.toFloat / 3 }
    Row(
      if (n % 11 == 0) null else n.toLong * 1000003L - 500,
      n % 5 - 2,
      if (n % 13 == 0) Double.NaN else if (n % 2 == 0) -0.0 else n * 1.5,
      f,
      if (n % 9 == 0) null else new java.math.BigDecimal(n * 7 - 300).movePointLeft(3),
      n % 6 match { case 0 => null; case 1 => long + n; case 2 => "żółw" + n
        case 3 => "\t\n" + n; case _ => "k" + n },
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1700000000L + n * 37L, n * 1000L)),
      java.time.LocalDateTime.of(2020, 1 + n % 12, 1 + n % 28, n % 24, 0, 0, n * 1000),
      java.sql.Date.valueOf(java.time.LocalDate.of(1990 + n % 40, 1 + n % 12, 1)),
      n % 3 == 0,
      null,
      if (n % 10 == 0) null
      else Row(if (n % 4 == 0) null else n * 3, s"n${n % 17}",
        if (n % 8 == 0) null else Row(n / 7.0)),
      Seq(n.toLong, -n.toLong),
      Map(s"k$n" -> n))
  }

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  private val statHeaders = Seq("#filestats=", "#filerows=", "#filenulls=", "#filehll=")

  /** A table whose v0 (txn bootstrap) stages `rows` as three files and
    * whose v1 (an append of an empty batch) stages one 0-row file; for
    * both versions, the recorded stat lines of the staged files against
    * `statsLines` over them. */
  private def checkParity(): Unit = {
    val path = Files.createTempDirectory("stats_parity").toString + "/t"
    Snapshots.appendVersioned(spark, path, frame((0 until 300).map(row)).repartition(3),
      Some(("parity", 1L)))
    Snapshots.appendVersioned(spark, path, frame(Nil))
    for (v <- 0 to 1) {
      val staged = (Snapshots.liveFiles(path, v).toSet --
        (if (v == 0) Set.empty[String] else Snapshots.liveFiles(path, v - 1).toSet)).toSeq
      assert(staged.nonEmpty)
      val recorded = Snapshots.manifestLines(path, v)
        .filter(l => statHeaders.exists(l.startsWith))
        .filter(l => staged.map(Snapshots.canonical).exists(f => l.contains(f + "\t")))
      val reference = Snapshots.statsLines(spark, staged,
        Snapshots.tableSchema(path, v).get)
      assert(recorded.toSet == reference.toSet,
        s"v$v\nonly recorded: ${(recorded.toSet -- reference).mkString("\n")}" +
          s"\nonly reference: ${(reference.toSet -- recorded).mkString("\n")}")
      assert(recorded.size == reference.size)
    }
    // the recorded schema is the one a read of the written files infers
    assert(Snapshots.tableSchema(path, 0).get ==
      spark.read.parquet(Snapshots.liveFiles(path, 0): _*).schema)
    // every tagged type ranged, leaves included; the 0-row file has its
    // row count only
    val v0 = Snapshots.manifestLines(path, 0)
    for (c <- Seq("l", "i", "d", "f", "dec", "s", "ts", "ntz", "dt"))
      assert(v0.exists(l => l.startsWith("#filestats=") && l.contains(s"\t$c\t")), c)
    val nested = v0.exists(_.contains("\tst.in.x\t"))
    assert(nested == (spark.conf.get("spark.graft.stats.nestedLeaves.enabled", "true") == "true"))
    assert(!v0.exists(l => l.contains("\tarr\t") || l.contains("\tm\t")))
    val v1 = Snapshots.manifestLines(path, 1).filter(l => statHeaders.exists(l.startsWith))
      .filter(_.contains("v1_"))
    assert(v1.size == 1 && v1.head.startsWith("#filerows=") && v1.head.endsWith("\t0"), v1)
  }

  test("a tracked write records the stat lines statsLines computes") {
    checkParity()
  }

  test("stat lines match with the nested-leaf and NDV-sketch confs off") {
    withConf("spark.graft.stats.nestedLeaves.enabled" -> "false",
        "spark.graft.stats.ndvSketch.enabled" -> "false") {
      checkParity()
    }
  }
}
