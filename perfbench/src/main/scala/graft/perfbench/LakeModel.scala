package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One row image of the lake_cdc table (key `k` held outside). `grp`
  * never changes for a key: it is the twin's partition column. */
final case class Img(grp: String, qty: Int, price: Long, note: String)

/** (rows, Σk, Σmix) of a table state — the same numbers the benchmark
  * computes in Spark with [[LakeModel.FingerprintSql]]'s aggregates. */
final case class Fingerprint(rows: Long, keySum: Long, mixSum: Long)

/** In-memory model of the ops the lake_cdc client applies: the keyed
  * table's live rows, one fingerprint per table version, and the
  * partitioned twin as the stream sink leaves it once drained. A drain's
  * micro-batch carries every commit's change rows since the last drain;
  * the sink applies inserts and updates in commit order and never
  * deletes (its source filters them out), so the twin holds the latest
  * image of every key ever inserted. */
final class LakeModel {
  val live = new java.util.TreeMap[java.lang.Long, Img]()
  val twin = mutable.HashMap.empty[Long, Img]
  private val fps = mutable.ArrayBuffer.empty[Fingerprint]
  var nextKey = 1L

  def version: Int = fps.size - 1
  def fingerprintAt(v: Int): Fingerprint = fps(v)

  /** Version 0 from the generated rows. */
  def init(rows: Seq[(Long, Img)]): Unit = {
    require(fps.isEmpty, "model already initialised")
    rows.foreach { case (k, r) => live.put(k, r); twin(k) = r }
    nextKey = rows.map(_._1).max + 1
    commit()
  }

  private def commit(): Int = { fps += LakeModel.fingerprint(liveRows); version }

  /** Upsert (both merge flavours): update existing keys, insert new ones. */
  def merge(rows: Seq[(Long, Img)]): Int = {
    rows.foreach { case (k, r) => live.put(k, r); twin(k) = r }
    commit()
  }

  def delete(keys: Seq[Long]): Int = {
    keys.foreach(k => live.remove(k))
    commit()
  }

  def append(rows: Seq[(Long, Img)]): Int = {
    rows.foreach { case (k, r) =>
      require(!live.containsKey(k), s"append of live key $k")
      live.put(k, r)
      twin(k) = r
    }
    commit()
  }

  /** A layout-only commit (compaction): same rows, new version. */
  def rewrite(): Int = commit()

  def liveRows: Seq[(Long, Img)] =
    live.entrySet().asScala.toSeq.map(e => (e.getKey.longValue, e.getValue))

  def snapshot: Map[Long, Img] = liveRows.toMap

  def twinFingerprint: Fingerprint = LakeModel.fingerprint(twin.toSeq)
}

object LakeModel {
  /** Per-row mix: cheap, order-free and exact in Spark's long arithmetic
    * for the value ranges the generator draws. */
  def mix(k: Long, r: Img): Long =
    k * 7 + r.qty.toLong * 1009 + r.price + r.note.charAt(0).toLong * 31

  val FingerprintSql: Seq[String] = Seq("count(1)", "sum(k)",
    "sum(k * 7 + CAST(qty AS BIGINT) * 1009 + price + CAST(ascii(note) AS BIGINT) * 31)")

  def fingerprint(rows: Iterable[(Long, Img)]): Fingerprint = {
    var n = 0L; var ks = 0L; var ms = 0L
    rows.foreach { case (k, r) => n += 1; ks += k; ms += mix(k, r) }
    Fingerprint(n, ks, ms)
  }

  /** Change-feed row counts by `_change_type` between two table states:
    * the net effect of the window (a key inserted and deleted inside it
    * leaves no row; an update emits a pre- and a post-image). */
  def cdfCounts(from: Map[Long, Img], to: Map[Long, Img]): Map[String, Long] = {
    val ins = to.keysIterator.count(k => !from.contains(k)).toLong
    val del = from.keysIterator.count(k => !to.contains(k)).toLong
    val upd = to.iterator.count { case (k, r) => from.get(k).exists(_ != r) }.toLong
    Map("insert" -> ins, "delete" -> del, "update_preimage" -> upd,
      "update_postimage" -> upd).filter(_._2 > 0)
  }
}
