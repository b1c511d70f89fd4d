package graft.fm

import java.nio.file.{FileSystems, FileVisitOption, FileVisitResult, Files, NoSuchFileException, Path, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

/** Glob file scan (reference `server.py:32-36`): expand a glob pattern
  * (recursive `**`) under a base directory, keep regular files only.
  *
  * Listing is driver-side like the reference. Results are path-sorted so
  * record order is deterministic.
  */
object FileScan {

  /** Relative paths (unix separators) of regular files under `baseDir`
    * matching `glob`, sorted.
    */
  def collect(baseDir: Path, glob: String): Seq[Path] = list(baseDir, glob).map(_._1)

  /** Relative paths with mtimes (millis), for cache fingerprints. */
  def collectWithMtime(baseDir: Path, glob: String): Seq[(String, Long)] =
    list(baseDir, glob).map { case (rel, m) => (rel.toString, m) }

  private val GlobMeta = "*?[{\\"

  /** Each way of keeping or dropping every whole `**` directory
    * component: Python's recursive `**` component also matches zero
    * directories, wherever it stands; Java's requires one.
    */
  private[fm] def zeroDirVariants(glob: String): Seq[String] = {
    val i = glob.indexOf("**/")
    if (i < 0) Seq(glob)
    else {
      val (head, tail) = (glob.substring(0, i), glob.substring(i + 3))
      val rest = zeroDirVariants(tail)
      val kept = rest.map(head + "**/" + _)
      if (i == 0 || glob.charAt(i - 1) == '/') kept ++ rest.map(head + _) else kept
    }
  }

  /** The walk behind [[collect]]: starts at the glob's literal directory
    * prefix, stops at the glob's depth when it has no `**` or `{`, and
    * reads each entry's attributes once.
    */
  private def list(baseDir: Path, glob: String): Seq[(Path, Long)] = {
    val parts = glob.split("/", -1).toSeq
    // "." and ".." stay in the pattern, so the walk never leaves baseDir
    val literal = parts.dropRight(1).takeWhile(c =>
      c.nonEmpty && c != "." && c != ".." && !c.exists(GlobMeta.contains(_)))
    val root = literal.foldLeft(baseDir)(_.resolve(_))
    if (!Files.isDirectory(root)) return Seq.empty
    val depth =
      if (glob.contains("**") || glob.contains("{")) Int.MaxValue
      else parts.length - literal.length
    val fs = FileSystems.getDefault
    val matchers = zeroDirVariants(glob).distinct.map(g => fs.getPathMatcher(s"glob:$g"))
    val out = Seq.newBuilder[(Path, Long)]
    Files.walkFileTree(root, java.util.Collections.emptySet[FileVisitOption](), depth,
      new SimpleFileVisitor[Path] {
        override def visitFile(p: Path, attrs: BasicFileAttributes): FileVisitResult = {
          // a symlink counts as its target, as Files.isRegularFile reads it
          val a =
            if (attrs.isSymbolicLink)
              try Files.readAttributes(p, classOf[BasicFileAttributes])
              catch { case _: java.io.IOException => attrs }
            else attrs
          if (a.isRegularFile) {
            val rel = baseDir.relativize(p)
            if (matchers.exists(_.matches(rel))) out += ((rel, a.lastModifiedTime.toMillis))
          }
          FileVisitResult.CONTINUE
        }
        // an entry deleted during the walk is simply not listed
        override def visitFileFailed(p: Path, e: java.io.IOException): FileVisitResult =
          e match {
            case _: NoSuchFileException => FileVisitResult.CONTINUE
            case _ => throw e
          }
      })
    out.result().sortBy(_._1.toString)
  }

  /** Path sandbox (reference `_resolve_path`, `server.py:60-84`): resolve
    * `relPath` against `baseDir`, reject escapes, require existence.
    */
  def resolve(baseDir: Path, relPath: String): Path = {
    val abs = resolveForWrite(baseDir, relPath)
    if (!Files.exists(abs))
      throw new java.io.FileNotFoundException(s"File not found: $relPath")
    abs
  }

  /** The containment half of [[resolve]] alone — for targets that need
    * not exist yet (COPY ... TO). ONE implementation of the sandbox
    * check, so a hardening fix lands on every path that writes or reads
    * under the base dir.
    */
  def resolveForWrite(baseDir: Path, relPath: String): Path = {
    val abs = baseDir.resolve(relPath).normalize()
    if (!abs.startsWith(baseDir.normalize()))
      throw new IllegalArgumentException(s"Path must be within base directory: $relPath")
    abs
  }
}
