package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DeferredFrame

import graft.Tables
import graft.functions.djb2

/** Word-count block (SURVEY.md §2.1) — the reference engine's whole
  * surface, re-expressed as a declarative Spark plan.
  *
  * Reference mapping:
  *  - mmap + delimiter-snapped chunking (omp_count_words.cpp:231-289)
  *    → splittable FileScan: Spark assigns input splits and parquet/text
  *    row-group boundaries itself; nothing to hand-roll.
  *  - whitespace tokenization via `istringstream >> word`
  *    (utils.cpp:6-15) → `split(text, "\\s+")` + drop empties: identical
  *    token stream (runs of whitespace collapse, no empty tokens).
  *  - per-thread local maps + lock-guarded routing by djb2 % R
  *    (omp_count_words.cpp:323-354) → map-side partial aggregation +
  *    HashPartitioning exchange. The lock contention the reference pays
  *    per word becomes a single shuffle; partial agg means the exchange
  *    carries one row per (partition, word), not per occurrence — at
  *    100 TB that is the difference between shuffling ~vocabulary-sized
  *    data and shuffling the corpus.
  *  - per-reducer output files + combined file (omp_count_words.cpp:
  *    133-165) → partitioned text sink / coalesced single-file sink.
  */
object WordCount {

  /** A2: tokenize a text column into one row per word occurrence. */
  def tokenize(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), "\\s+")).as("word"))
      .filter(col("word") =!= "")

  /** word → count over a frame's `text` column. */
  private def countWords(docs: DataFrame): DataFrame =
    tokenize(docs, "text").groupBy("word").agg(count(lit(1)).as("cnt"))

  /** A1/A7: the reference's literal I/O surface — count words across
    * raw text files (its `./omp_count_words files/1.txt files/2.txt …`).
    * `spark.read.text` gives a splittable scan over all files; the
    * reference's mmap+chunk machinery (omp_count_words.cpp:97-123)
    * collapses into input splits the scheduler already handles.
    *
    * Like the reference, which tokenizes once and writes every sink from
    * the same reducer maps (omp_count_words.cpp:133-165, 323-354), the
    * result scans, tokenizes, partially aggregates and shuffles the
    * files once: the files are read when the first action on it (or on
    * a frame derived from it) runs, and later actions reuse that
    * shuffle. This call itself runs no Spark job. A fresh call re-reads
    * the files, so rewritten inputs are seen by the next call.
    */
  def fromTextFiles(spark: SparkSession, paths: Seq[String]): DataFrame =
    DeferredFrame(countWords(spark.read.text(paths: _*).toDF("text")))

  /** A1/A2/A3/A5: word → count over the documents corpus. */
  def wcCount(s: SparkSession, d: String): DataFrame =
    countWords(Tables.documents(s, d))

  val wcCountSql: String =
    """SELECT word, count(*) AS cnt
      |FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents) t
      |WHERE word <> '' GROUP BY word""".stripMargin

  // A6 — top-K words by count.
  def wcTopk(s: SparkSession, d: String): DataFrame =
    wcCount(s, d).orderBy(col("cnt").desc, col("word").asc).limit(100)

  val wcTopkSql: String =
    """SELECT word, count(*) AS cnt
      |FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents) t
      |WHERE word <> '' GROUP BY word ORDER BY cnt DESC, word LIMIT 100""".stripMargin

  // A7 — per-corpus (source) counting: the reference's multi-file surface
  // where each input file contributes to one logical corpus.
  def wcPerSource(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("source")
      .agg(count(lit(1)).as("tokens"), countDistinct(col("word")).as("distinct_words"))

  val wcPerSourceSql: String =
    """SELECT source, count(*) AS tokens, count(DISTINCT word) AS distinct_words
      |FROM (SELECT source, unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents) t
      |WHERE word <> '' GROUP BY source""".stripMargin

  // A4 — deterministic reducer routing: the reference's djb2 % R
  // (omp_count_words.cpp:291-303, 347), R = 16 reducers. The hash
  // folds SIGNED UTF-8 bytes (the reference's `char`); the oracle
  // replays that recurrence with 128-bit arithmetic — each character
  // expands to its UTF-8 bytes, sign-extended, and the fold keeps the
  // non-negative 2^64 residue so `% 16` matches `& 15` on the wrapped
  // 64-bit hash.
  def wcPartitions(s: SparkSession, d: String): DataFrame =
    wcCount(s, d)
      .withColumn("pid", djb2(col("word")).bitwiseAND(lit(15L)))
      .groupBy("pid")
      .agg(countDistinct(col("word")).as("n_words"), sum(col("cnt")).as("n_occurrences"))

  val wcPartitionsSql: String =
    """WITH words AS (
      |  SELECT word, count(*) AS cnt
      |  FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents) t
      |  WHERE word <> '' GROUP BY word),
      |hashed AS (
      |  SELECT word, cnt,
      |    CAST(list_reduce(
      |      list_prepend(CAST(5381 AS HUGEINT),
      |        flatten(list_transform(regexp_split_to_array(word, ''), c ->
      |          CASE
      |            WHEN ord(c) < 128 THEN [CAST(ord(c) AS HUGEINT)]
      |            WHEN ord(c) < 2048 THEN [
      |              CAST(ord(c) // 64 - 64 AS HUGEINT),
      |              CAST(ord(c) % 64 - 128 AS HUGEINT)]
      |            WHEN ord(c) < 65536 THEN [
      |              CAST(ord(c) // 4096 - 32 AS HUGEINT),
      |              CAST((ord(c) // 64) % 64 - 128 AS HUGEINT),
      |              CAST(ord(c) % 64 - 128 AS HUGEINT)]
      |            ELSE [
      |              CAST(ord(c) // 262144 - 16 AS HUGEINT),
      |              CAST((ord(c) // 4096) % 64 - 128 AS HUGEINT),
      |              CAST((ord(c) // 64) % 64 - 128 AS HUGEINT),
      |              CAST(ord(c) % 64 - 128 AS HUGEINT)]
      |          END))),
      |      (h, c) -> ((h * 33 + c) % CAST(18446744073709551616 AS HUGEINT)
      |                 + CAST(18446744073709551616 AS HUGEINT))
      |                % CAST(18446744073709551616 AS HUGEINT)) % 16 AS BIGINT) AS pid
      |  FROM words)
      |SELECT pid, count(*) AS n_words, CAST(sum(cnt) AS BIGINT) AS n_occurrences
      |FROM hashed GROUP BY pid""".stripMargin

  /** The reference's reducer id: UNSIGNED 64-bit djb2 mod R. The
    * signed Spark hash h ≡ unsigned h + 2^64·[h<0] (mod R), so adding
    * (2^64 mod R) when h is negative reproduces the unsigned mod for
    * ANY R (for power-of-two R, e.g. the committed 16, this equals
    * h & (R−1)).
    */
  def djb2Pid(word: org.apache.spark.sql.Column, r: Int): org.apache.spark.sql.Column = {
    val corr = (BigInt(2).pow(64) mod BigInt(r)).toLong
    val h = djb2(word)
    pmod(pmod(h, lit(r.toLong)) + when(h < 0, lit(corr)).otherwise(lit(0L)), lit(r.toLong))
  }

  /** A8: the reference's two sink modes — one `word:count` text file per
    * reducer partition (output_files/output{i}.txt) or a single combined
    * file (combined_omp_wc.txt). `numPartitions = 0` keeps Spark's own
    * partitioning (cluster-scale); `1` coalesces like the combined sink;
    * `> 1` routes each word by the reference's own djb2 % R reducer
    * assignment (omp_count_words.cpp:291-303) into a `pid=N` directory
    * per reducer — the Spark-idiomatic form of the reference's
    * output{i}.txt layout, with IDENTICAL word→reducer routing (parity
    * spec replays the recurrence independently).
    */
  def writeCounts(counts: DataFrame, path: String, numPartitions: Int = 0): Unit = {
    val base = counts.select(col("word"), col("cnt"),
      concat_ws(":", col("word"), col("cnt").cast("string")).as("value"))
    if (numPartitions > 1)
      base
        .withColumn("pid", djb2Pid(col("word"), numPartitions))
        .select("value", "pid")
        .write.mode(SaveMode.Overwrite).partitionBy("pid").text(path)
    else
      (if (numPartitions == 1) base.coalesce(1) else base)
        .select("value").write.mode(SaveMode.Overwrite).text(path)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wc_count" -> wcCount,
    "wc_topk" -> wcTopk,
    "wc_per_source" -> wcPerSource,
    "wc_partitions" -> wcPartitions)

  def oracles: Map[String, String] = Map(
    "wc_count" -> wcCountSql,
    "wc_topk" -> wcTopkSql,
    "wc_per_source" -> wcPerSourceSql,
    "wc_partitions" -> wcPartitionsSql)
}
