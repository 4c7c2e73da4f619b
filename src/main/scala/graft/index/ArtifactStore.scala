package graft.index

/** Thin filesystem seam for the index's driver-side ARTIFACT I/O:
  * sidecar JSON files (meta.json pointer, IVF/PQ models), `_SUCCESS`
  * completeness probes, and vacuum's directory listing/reaping. Table
  * data already flows through Spark's own Hadoop FileSystem stack;
  * these driver-side paths were raw `java.nio` calls, which is fine
  * on POSIX but makes an object-store deployment (S3/GCS) a scattered
  * refactor. With the seam it is ONE class: implement this trait over
  * the store's SDK (or a Hadoop FileSystem bridge) and install it via
  * [[ArtifactStore.current]] before opening or building indexes.
  *
  * Contract notes for implementors:
  *  - [[writeAtomic]] must publish all-or-nothing (the meta.json
  *    pointer swap rides on it); on POSIX that is temp-file + atomic
  *    rename, on object stores a single PUT already is atomic.
  *  - [[list]] returns immediate child NAMES (not paths), empty for a
  *    missing directory — vacuum treats absence as nothing-to-reap.
  *  - [[deleteTree]] must tolerate concurrent disappearance.
  */
trait ArtifactStore extends Serializable {
  def exists(path: String): Boolean
  def isDirectory(path: String): Boolean
  def readBytes(path: String): Array[Byte]
  def writeAtomic(path: String, bytes: Array[Byte]): Unit
  def createDirs(path: String): Unit
  def list(path: String): Seq[String]
  def deleteTree(path: String): Unit

  /** Create `path` with `bytes` ONLY if no object exists there;
    * returns true when this call created it, false when something was
    * already published. This is the cross-JVM claim primitive
    * (first-writer-wins marker publish — the fleet-layout race fix):
    * two processes racing to publish the same artifact must resolve
    * to exactly one winner. POSIX implements it as a no-replace
    * atomic rename; object stores as a conditional PUT
    * (`If-None-Match: *`, which S3/GCS/Azure all expose). The default
    * here is probe-then-put — NOT atomic under a concurrent writer —
    * so implementations backing multi-writer deployments must
    * override it with the store's real conditional primitive. */
  def createExclusive(path: String, bytes: Array[Byte]): Boolean =
    if (exists(path)) false
    else { writeAtomic(path, bytes); true }
}

/** Default POSIX implementation over `java.nio` — exactly the calls
  * the index made inline before the seam existed. */
object PosixStore extends ArtifactStore {
  import java.nio.file.{Files, Path, Paths}

  def exists(path: String): Boolean = Files.exists(Paths.get(path))
  def isDirectory(path: String): Boolean = Files.isDirectory(Paths.get(path))
  def readBytes(path: String): Array[Byte] = Files.readAllBytes(Paths.get(path))

  def writeAtomic(path: String, bytes: Array[Byte]): Unit = {
    val p = Paths.get(path)
    val tmp = p.resolveSibling("." + p.getFileName.toString + ".tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, p,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  def createDirs(path: String): Unit = Files.createDirectories(Paths.get(path))

  /** True atomic create-if-absent: the full content goes to a unique
    * temp sibling, then link(2) publishes it — hard-linking fails with
    * EEXIST atomically when another process won the race (rename(2)
    * would silently REPLACE an existing target, so a move-based
    * publish is NOT a claim). Nothing partial is ever visible at
    * `path`. Filesystems without hard links fall back to the trait's
    * probe-then-put (single-writer only, as the contract documents). */
  override def createExclusive(path: String, bytes: Array[Byte]): Boolean = {
    val p = Paths.get(path)
    if (Files.exists(p)) return false
    val tmp = p.resolveSibling(
      "." + p.getFileName.toString + "." + java.util.UUID.randomUUID() + ".tmp")
    Files.write(tmp, bytes)
    try {
      Files.createLink(p, tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: UnsupportedOperationException =>
        super.createExclusive(path, bytes)
    } finally Files.deleteIfExists(tmp)
  }

  def list(path: String): Seq[String] = {
    val p = Paths.get(path)
    if (!Files.isDirectory(p)) Nil
    else {
      val s = Files.list(p)
      try {
        scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
          .asScala.map(_.getFileName.toString).toList
      } finally s.close()
    }
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.deleteIfExists(x))
  }

  /** A fresh local temp directory that a JVM shutdown hook deletes —
    * for scratch indexes that live as long as the process. */
  def tempDirDeletedOnExit(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toString
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try deleteTree(dir) catch { case scala.util.control.NonFatal(_) => () }))
    dir
  }
}

object ArtifactStore {
  /** Process-wide store for index artifact I/O. Swap for an
    * object-store implementation before opening/building indexes —
    * the only line a non-POSIX deployment changes. */
  @volatile var current: ArtifactStore = PosixStore
}
