package graft.sources

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A37 — named refs over the snapshot log: TAGS (immutable version
  * pointers, the Iceberg tag pattern) and BRANCHES with
  * WRITE-AUDIT-PUBLISH (the Iceberg/Nessie WAP pattern — stage commits
  * on an isolated branch, audit them with real reads, publish
  * atomically or walk away).
  *
  * A tag is one tiny file in the log dir naming a version. Its power
  * is the VACUUM contract: [[Snapshots.vacuum]] pins tagged versions —
  * manifest and referenced files — whatever `keepFrom` says, so
  * "release-2026-08" stays readable for as long as the tag exists and
  * is reclaimed the moment it is dropped. O(1) to create, no data
  * movement ever.
  *
  * A branch is a shallow clone ([[Snapshots.cloneShallow]] — zero
  * copy, manifest reference) homed UNDER the table at
  * `_graft_branches/<name>`, with its cut-point recorded and the base
  * version auto-tagged (`branch.<name>`) so the source files it
  * borrows cannot be vacuumed away mid-audit. Writes on the branch are
  * ordinary [[Snapshots]] commits against [[path]]'s branch dir — the
  * full DML surface works unchanged. [[publish]] fast-forwards main to
  * the branch head as ONE commit, refusing if main advanced since the
  * cut (the WAP conflict rule — rebase by re-cutting); branch-staged
  * data files are HARD-LINKED into the main directory first, so
  * [[dropBranch]] (which deletes the branch tree) can never corrupt
  * main — published bytes survive under main's own root, unpublished
  * bytes die with the branch. Link + manifest write only: publish cost
  * is O(branch's new files), zero bytes copied.
  *
  * At 100 TB this is the audit gate a training-data pipeline needs:
  * stage a risky backfill on a branch, run the A44-style data-quality
  * suite against the branch READ, publish only when green.
  */
object Refs {

  private def refsDir(path: String) = Paths.get(path, "_graft_log", "refs")
  private def tagFile(path: String, name: String) =
    refsDir(path).resolve(s"tag.$name")

  private def validName(name: String): Unit =
    require(name.nonEmpty && name.matches("[\\w.-]+"),
      s"ref name '$name' must match [\\w.-]+")

  /** Tag `version` (default: head) as `name`. Refuses overwrite —
    * tags are immutable; drop and re-create to move one. Returns the
    * tagged version.
    */
  def tag(path: String, name: String, version: Int = -1): Int = {
    validName(name)
    val v = if (version < 0) Snapshots.currentVersion(path) else version
    require(Snapshots.hasVersion(path, v),
      s"tag: no version $v at $path (vacuumed or never committed)")
    require(!Files.exists(tagFile(path, name)),
      s"tag '$name' already exists (tags are immutable; dropTag first)")
    Files.createDirectories(refsDir(path))
    Files.write(tagFile(path, name), v.toString.getBytes("UTF-8"))
    v
  }

  /** All tags of `path`: name → version. */
  def tags(path: String): Map[String, Int] = {
    val dir = refsDir(path)
    if (!Files.isDirectory(dir)) return Map.empty
    val s = Files.list(dir)
    try s.iterator.asScala
      .map(_.getFileName.toString)
      .collect { case n if n.startsWith("tag.") =>
        n.stripPrefix("tag.") ->
          new String(Files.readAllBytes(dir.resolve(n)), "UTF-8").trim.toInt }
      .toMap
    finally s.close()
  }

  /** Read the table as of tag `name`. */
  def readTag(spark: SparkSession, path: String, name: String): DataFrame = {
    val v = tags(path).getOrElse(name,
      throw new IllegalArgumentException(s"no tag '$name' at $path"))
    Snapshots.read(spark, path, v)
  }

  /** Atomically re-point tag `name` to `version` — the LEASE mover
    * (A55/A57 materialized views pin their consumed base version so
    * vacuum cannot reclaim what a refresh still needs, and advance the
    * pin as they consume). Public tags stay immutable ([[tag]]
    * refuses); a lease is a tag whose owner moves it, and the atomic
    * replace leaves no window in which NOTHING pins a needed version.
    */
  private[sources] def moveTag(path: String, name: String,
      version: Int): Unit = {
    validName(name)
    require(Snapshots.hasVersion(path, version),
      s"moveTag: no version $version at $path")
    Files.createDirectories(refsDir(path))
    val tmp = Files.createTempFile(refsDir(path), name, ".tmp")
    Files.write(tmp, version.toString.getBytes("UTF-8"))
    Files.move(tmp, tagFile(path, name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Drop tag `name`; the version it pinned becomes reclaimable by the
    * next vacuum (if outside the retention window). */
  def dropTag(path: String, name: String): Unit = {
    require(Files.exists(tagFile(path, name)), s"no tag '$name' at $path")
    Files.delete(tagFile(path, name))
  }

  // ---- branches ---------------------------------------------------

  private def branchesRoot(path: String) = Paths.get(path, "_graft_branches")

  /** The branch's own table directory — pass this to any [[Snapshots]]
    * writer to stage commits on the branch. */
  def branchPath(path: String, name: String): String =
    branchesRoot(path).resolve(name).toString

  private def baseFile(bdir: String) =
    Paths.get(bdir, "_graft_log", "branch_base")

  /** The main-table version branch `name` was cut at (recorded by
    * [[createBranch]] — THE authoritative cut point; reading main's
    * head separately races a concurrent commit). */
  def branchBase(path: String, name: String): Int = {
    val f = baseFile(branchPath(path, name))
    require(Files.exists(f), s"no branch '$name' at $path")
    new String(Files.readAllBytes(f), "UTF-8").trim.toInt
  }

  /** Cut branch `name` from main's head: a zero-copy clone under
    * `_graft_branches/<name>` whose base version is recorded for the
    * publish conflict check and auto-tagged (`branch.<name>`) so main's
    * vacuum cannot reclaim the borrowed files mid-audit. Returns the
    * branch's table path.
    */
  def createBranch(spark: SparkSession, path: String, name: String): String = {
    validName(name)
    val v = Snapshots.currentVersion(path)
    require(v >= 0, s"$path not initialized (call init)")
    val bdir = branchPath(path, name)
    require(Snapshots.currentVersion(bdir) < 0, s"branch '$name' already exists")
    tag(path, s"branch.$name", v)
    Snapshots.cloneShallow(path, bdir)
    Files.write(baseFile(bdir), v.toString.getBytes("UTF-8"))
    bdir
  }

  /** Publish branch `name`: fast-forward main to the branch head as
    * one commit. Refuses when main has advanced past the branch's cut
    * point (write-audit-publish conflict — re-cut the branch from the
    * new head and replay) or when the branch head carries deletion
    * vectors (reconcile on the BRANCH first: the DV files' embedded
    * positions reference branch-dir paths that cannot be relinked).
    * Branch-staged files are hard-linked under main's root — zero
    * bytes moved, and the branch tree becomes disposable — with their
    * manifest stats carried under the new paths. The A20 feed across
    * the publish commit reports exactly the branch's net changes (the
    * manifest diff; spec-pinned). Returns main's new version.
    */
  def publish(spark: SparkSession, path: String, name: String,
      txnSet: Option[(String, Long)] = None): Int = {
    val bdir = branchPath(path, name)
    require(Snapshots.currentVersion(bdir) >= 0, s"no branch '$name' at $path")
    val base = new String(Files.readAllBytes(baseFile(bdir)), "UTF-8").trim.toInt
    val headMain = Snapshots.currentVersion(path)
    require(headMain == base,
      s"publish conflict: main advanced $base -> $headMain since branch " +
        s"'$name' was cut; re-create the branch from the new head and replay")
    val bv = Snapshots.currentVersion(bdir)
    require(Snapshots.dvFiles(bdir, bv).isEmpty,
      s"publish: branch '$name' head carries deletion vectors; run " +
        "Snapshots.reconcileDV on the branch first")
    val live = Snapshots.liveFiles(bdir, bv).map(Snapshots.canonical)
    val branchRoot = Paths.get(bdir).toAbsolutePath.normalize.toString +
      java.io.File.separator
    val (inBranch, borrowed) = live.partition(_.startsWith(branchRoot))
    val dst = Paths.get(path)
    val remap: Map[String, String] = inBranch.map { f =>
      val target = dst.resolve(s"v${headMain + 1}_pub_${Paths.get(f).getFileName}")
      // a failed earlier publish attempt may have left the link; the
      // name embeds the uncommitted target version, so replacing is safe
      Files.deleteIfExists(target)
      Files.createLink(target, Paths.get(f))
      f -> target.toString
    }.toMap
    val newLive = borrowed ++ inBranch.map(remap)
    val newLiveSet = newLive.map(Snapshots.canonical).toSet
    // r8: skipping state survives the publish — the branch's cluster
    // markers remap to the hard-linked names (incremental ZORDER on
    // main keeps seeing the branch's clustered files as clustered),
    // and branch-homed bloom sidecars are rewritten under main (the
    // sidecar rows embed file paths, so a relink alone would leave
    // them inert; the rewrite is sidecar-sized). Main's own sidecars
    // carry forward via the commit's accumulation as before.
    val clusterOverride = Snapshots.clusterStateOf(bdir, bv).map {
      case (cols, fs) =>
        (cols, fs.map(f => remap.getOrElse(f, f)).filter(newLiveSet.contains))
    }
    val mainRefs = Snapshots.bloomIdxFiles(path, headMain)
      .map(Snapshots.canonical).toSet
    val branchOnlyRefs = Snapshots.bloomIdxFiles(bdir, bv)
      .filterNot(r => mainRefs.contains(Snapshots.canonical(r)))
    val bloomExtra = Snapshots.remappedBloomSidecar(spark, path, headMain + 1,
      branchOnlyRefs, remap, borrowed.map(Snapshots.canonical).toSet)
    Snapshots.commitNext(path, headMain,
      newLive,
      Snapshots.tableSchema(bdir, bv),
      Snapshots.remappedStats(bdir, bv, live, f => remap.getOrElse(f, f)),
      clusterOverride = clusterOverride,
      bloomColsOverride = Some {
        // adopt the branch's property (a fast-forward); a branch cut
        // before the property carry existed falls back to main's
        val b = Snapshots.bloomColsOf(bdir, bv)
        if (b.nonEmpty) b else Snapshots.bloomColsOf(path, headMain)
      },
      bloomExtra = bloomExtra,
      txn = txnSet.toSeq)
  }

  /** Delete branch `name`'s whole tree and release its base tag.
    * Safe after [[publish]] — published bytes live on as hard links
    * under main's root; unpublished staged bytes are discarded (the
    * point of walking away from a failed audit).
    */
  def dropBranch(path: String, name: String): Unit = {
    val bdir = branchPath(path, name)
    require(Files.isDirectory(Paths.get(bdir)), s"no branch '$name' at $path")
    val walk = Files.walk(Paths.get(bdir))
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
    finally walk.close()
    if (Files.exists(tagFile(path, s"branch.$name")))
      dropTag(path, s"branch.$name")
  }
}
