package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}

/** Versioned, crash-atomic manifest directory layout shared by the
  * engine's durable index artifacts
  * ([[VectorSearch.IvfIndex.saveManifest]]/`load` since r9, and
  * [[Dedup.NearDupIndex.save]]/`load` since r12): every checkpoint
  * writes a FRESH `v########` directory and makes it visible with a
  * `_graft_commit` marker written LAST — never an in-place overwrite.
  * A crash mid-write leaves an uncommitted dir readers ignore (the
  * previous committed version keeps serving), and a concurrent reader
  * can never observe a half-replaced artifact. The two newest committed
  * versions are kept as a grace window for in-flight readers; older
  * versions and sub-floor crashed dirs are vacuumed on the next commit.
  * Single writer per artifact root, by contract.
  */
private[graft] object ManifestLayout {
  private val VersionRe = "^v(\\d{8})$".r
  val CommitMarker = "_graft_commit"

  /** Marks a version as a DELTA checkpoint: its frame dirs hold only the
    * rows appended since the previous committed version, and readers must
    * union the chain back to the nearest FULL version (r13 — the
    * NearDupIndex incremental-checkpoint layout; IVF manifests never
    * write deltas). Written before the commit marker, so a committed
    * delta can never be misread as a full version.
    */
  val DeltaMarker = "_graft_delta"

  def isDelta(fs: FileSystem, root: String, v: Long): Boolean =
    fs.exists(new Path(versionDir(root, v), DeltaMarker))

  /** Version dirs of the newest committed checkpoint's CHAIN, base-first:
    * the newest committed FULL version and every committed delta above
    * it. Single writer + the save-side "delta only on top of the newest
    * committed version" guard make the chain linear by construction.
    * Empty when nothing is committed (or — corrupt state — no full
    * version survives under the newest committed delta).
    */
  def committedChain(fs: FileSystem, root: String): Seq[String] =
    chainOf(fs, root,
      versions(fs, new Path(root)).filter(_._2).map(_._1).sorted)
      .map(versionDir(root, _))

  /** [[committedChain]] over an already-listed committed version set
    * (ascending) — callers that hold a `versions()` result resolve the
    * chain without a second directory listing (one listing per
    * checkpoint matters on object-store-backed roots).
    */
  def chainOf(fs: FileSystem, root: String,
      committed: Seq[Long]): Seq[Long] =
    committed.reverse.find(v => !isDelta(fs, root, v)) match {
      case None => Seq.empty
      case Some(base) => committed.filter(_ >= base)
    }

  /** (version, committed) for every `v########` directory under `root` —
    * committed = its commit marker exists. Empty when the root is absent
    * or holds no versioned dirs.
    */
  def versions(fs: FileSystem, root: Path): Seq[(Long, Boolean)] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.flatMap { st =>
      st.getPath.getName match {
        case VersionRe(n) if st.isDirectory =>
          Seq(n.toLong -> fs.exists(new Path(st.getPath, CommitMarker)))
        case _ => Seq.empty
      }
    }

  def versionDir(root: String, v: Long): String = f"$root/v$v%08d"

  /** The version number a new checkpoint should write. */
  def nextVersion(versions: Seq[(Long, Boolean)]): Long =
    (versions.map(_._1) :+ 0L).max + 1

  /** Write the commit marker for `next` (making it visible to readers),
    * then vacuum everything older than the two newest committed versions
    * — extended down to their chain base when the grace window lands on
    * deltas, so either grace version stays fully resolvable. Call ONLY
    * after every payload file of `next` is on disk; `nextIsDelta` stamps
    * the delta marker first (a committed delta must never read as full).
    */
  def commitAndVacuum(fs: FileSystem, root: String, next: Long,
      priorVersions: Seq[(Long, Boolean)],
      nextIsDelta: Boolean = false): Unit = {
    if (nextIsDelta)
      fs.create(new Path(versionDir(root, next), DeltaMarker)).close()
    fs.create(new Path(versionDir(root, next), CommitMarker)).close()
    val committed = (priorVersions.filter(_._2).map(_._1) :+ next).sorted
    val graceOldest = committed.takeRight(2).head
    // deltas need their chain base readable: extend the keep window down
    // to the newest FULL version at or below the grace window. A
    // delta-free layout (every IVF manifest) resolves keepFrom to
    // graceOldest itself — the pre-r13 behavior, unchanged.
    val keepFrom = committed.filter(_ <= graceOldest).reverse
      .find(v => !isDelta(fs, root, v)).getOrElse(committed.min)
    priorVersions.foreach { case (v, _) =>
      if (v < keepFrom) { fs.delete(new Path(versionDir(root, v)), true); () }
    }
  }
}
