package graft

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Path + atomicity discipline for every SAVED artifact — 26 stamped
  * families: the ANN indexes (IVF, attributed IVF, IVF-PQ, the NSW /
  * NN-Descent / diversified / hierarchical graphs, k-center sets), the
  * lexical, BM25, eval-gram, phash and MinHash/containment signature
  * indexes, the snapshot tables behind the merge rows, the per-day
  * DDSketch frames, the graph-edge artifacts and the incremental-CC
  * base state. A family shared by several consumers is built by one
  * `ensure<Family>` def next to its queries.
  *
  * Two problems a shared on-disk index must solve:
  *
  *  - '''staleness''': an index built from a fixture that has since
  *    been regenerated must never be served. Paths are therefore
  *    stamped with the source parquet's (mtime, length) — regenerating
  *    the fixture changes the stamp, so the old index is simply never
  *    looked up again ([[stampedPath]]).
  *  - '''concurrency''': two runs (same user, or two processes) must
  *    not interleave a build with a read, and two users on one host
  *    must not collide on a world-shared /tmp directory. The base
  *    directory is scoped per OS user, and [[ensure]] builds into a
  *    process-unique temp sibling then PUBLISHES it with one atomic
  *    rename — a reader either finds no complete index (and builds its
  *    own) or a fully-written one, never a half-written directory.
  *    Same-JVM races serialize on a lock; cross-process races resolve
  *    at the rename (first publisher wins, the loser discards its
  *    build and serves the winner's — both are byte-identical anyway,
  *    every builder being deterministic).
  */
object IndexStore {

  private val jvmLock = new Object

  /** Marker written as the LAST file of a build: its presence at
    * `path` means every parquet under `path` is complete. */
  private val completeMarker = "_GRAFT_INDEX_COMPLETE"

  /** Per-user base directory under java.io.tmpdir. */
  def baseDir: File =
    new File(sys.props("java.io.tmpdir"),
      s"graft_idx_${sys.props("user.name")}")

  /** Index path for `family`, keyed by the fixture dir AND the source
    * parquet's (mtime, length): regenerating the fixture at the same
    * path can never serve a stale index — the stamp changes and a
    * fresh build runs. Superseded stamps of the same (family, dir)
    * are garbage-collected by [[ensure]] after a successful publish.
    *
    * A missing source is an ERROR, not a stamp: File.lastModified and
    * File.length both return 0 for nonexistent paths, which would
    * mint a `_0_0` stamp that never invalidates — the build then
    * fails later (or worse, a previously-published `_0_0` index gets
    * served for a source that has since appeared). DIRECTORY sources
    * (multi-file parquet datasets) are stamped with the max child
    * mtime + summed child length, so rewriting any part file restamps
    * — the directory's own mtime only tracks entry creation/removal,
    * not content. */
  def stampedPath(family: String, dir: String, sourceFile: String): String = {
    val f = new File(dir, sourceFile)
    require(f.exists,
      s"index source $f does not exist — refusing to mint a dead stamp")
    def walk(x: File): Array[File] =
      if (x.isFile) Array(x)
      else Option(x.listFiles()).getOrElse(Array.empty[File]).flatMap(walk)
    val (mtime, length) =
      if (f.isDirectory) {
        val kids = walk(f) // recursive: partitioned layouts nest files
        (kids.map(_.lastModified).foldLeft(f.lastModified)(math.max),
          kids.map(_.length).sum)
      } else (f.lastModified, f.length)
    new File(new File(baseDir, family),
      dir.replaceAll("[^a-zA-Z0-9]", "_") +
        s"_${mtime}_$length").getPath
  }

  /** Drop SUPERSEDED stamps next to a live index: siblings named
    * `<dirPrefix>_<mtime>_<length>` with a DIFFERENT stamp are builds
    * of an older fixture generation — unreachable (lookups go through
    * the current stamp) and pure disk leak. Matching requires the
    * exact `<digits>_<digits>` stamp tail, so a different fixture dir
    * whose sanitized name merely extends this one's prefix is never
    * touched; in-flight `.build-*` temp dirs are left alone (another
    * process may be mid-build — its rename loses the race and cleans
    * itself up). */
  private def pruneSuperseded(livePath: File): Unit = {
    val name = livePath.getName
    val prefixEnd = name.lastIndexOf('_', name.lastIndexOf('_') - 1)
    if (prefixEnd > 0) {
      val stale = ("^" +
        java.util.regex.Pattern.quote(name.substring(0, prefixEnd + 1)) +
        "\\d+_\\d+$").r
      val siblings = livePath.getParentFile.listFiles()
      if (siblings != null) siblings.foreach { s =>
        if (s.getName != name && stale.findFirstIn(s.getName).isDefined)
          deleteRecursively(s)
      }
    }
  }

  /** Whether a COMPLETE index exists at `path` (the marker is written
    * after all data files, so a half-built directory reads false). */
  def isComplete(path: String): Boolean =
    new File(path, completeMarker).exists()

  /** Build-if-absent with atomic publication: when no complete index
    * sits at `path`, run `build` against a process-unique temp sibling
    * and atomically rename it into place. Returns `path`. */
  def ensure(path: String)(build: String => Unit): String =
    jvmLock.synchronized {
      if (!isComplete(path)) {
        val tmp = path +
          s".build-${ProcessHandle.current().pid()}-${System.nanoTime()}"
        build(tmp)
        Files.createFile(Paths.get(tmp, completeMarker))
        val parent = Paths.get(path).getParent
        if (parent != null) Files.createDirectories(parent)
        try
          Files.move(Paths.get(tmp), Paths.get(path),
            StandardCopyOption.ATOMIC_MOVE)
        catch {
          case _: java.nio.file.FileSystemException if isComplete(path) =>
            // lost a cross-process race: another build published
            // first while ours ran. Serve the winner's, discard ours.
            deleteRecursively(new File(tmp))
          case _: java.nio.file.FileSystemException =>
            // something incomplete squats on the target (a crashed
            // run's debris — the atomic publish can never leave a
            // half-written COMPLETE dir). NEVER delete the target in
            // place: a racing reader mid-scan would lose its files,
            // and another publisher may land between our delete and
            // retry. Instead rename the squatter ASIDE (atomic, so a
            // reader holding the old dir keeps every file it opened),
            // retry the publish, and if the retry ALSO loses a race,
            // serve whoever won.
            val stale = Paths.get(path +
              s".stale-${ProcessHandle.current().pid()}-${System.nanoTime()}")
            try Files.move(Paths.get(path), stale,
              StandardCopyOption.ATOMIC_MOVE)
            catch {
              // squatter vanished (its owner resumed or cleaned up) —
              // nothing to move aside; fall through to the retry
              case _: java.nio.file.FileSystemException => ()
            }
            try
              Files.move(Paths.get(tmp), Paths.get(path),
                StandardCopyOption.ATOMIC_MOVE)
            catch {
              case e2: java.nio.file.FileSystemException =>
                // lost a SECOND race: keep the published winner if
                // complete; otherwise give up loudly — but never
                // leave our tmp dir orphaned either way
                deleteRecursively(new File(tmp))
                if (!isComplete(path)) throw e2
            }
            deleteRecursively(stale.toFile)
        }
        pruneSuperseded(new File(path))
      }
      path
    }

  private def deleteRecursively(f: File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete()
  }
}
