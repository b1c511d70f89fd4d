package graft.fm

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** Glob listing (reference `server.py:32-36`, Python's recursive glob):
  * `**` components match zero or more directories wherever they stand,
  * the walk starts at the glob's literal directory prefix, and results
  * are path-sorted relative paths.
  */
class FileScanSpec extends AnyFunSuite {

  private def tree(rels: String*): Path = {
    val dir = Files.createTempDirectory("graft_filescan_spec")
    rels.foreach { rel =>
      val p = dir.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, "---\nk: v\n---\n".getBytes("UTF-8"))
    }
    dir
  }

  private def ls(dir: Path, glob: String): Seq[String] =
    FileScan.collect(dir, glob).map(_.toString)

  private val files = Seq("top.md", "d3/x.md", "d3/a/y.md", "d3/a/b/z.md",
    "d3/a/notes.txt", "other/x.md", "other/d3/w.md", "p0/q/r/s.md", "p3/q/r/s.md")

  test("a mid-pattern ** matches zero or more directories") {
    val dir = tree(files: _*)
    assert(ls(dir, "d3/**/*.md") == Seq("d3/a/b/z.md", "d3/a/y.md", "d3/x.md"))
    assert(ls(dir, "d3/**/y.md") == Seq("d3/a/y.md"))
    assert(ls(dir, "**/d3/**/*.md") ==
      Seq("d3/a/b/z.md", "d3/a/y.md", "d3/x.md", "other/d3/w.md"))
  }

  test("a leading ** still matches the top level and every depth") {
    val dir = tree(files: _*)
    assert(ls(dir, "**/*.md") == Seq("d3/a/b/z.md", "d3/a/y.md", "d3/x.md",
      "other/d3/w.md", "other/x.md", "p0/q/r/s.md", "p3/q/r/s.md", "top.md"))
    assert(ls(dir, "**/x.md") == Seq("d3/x.md", "other/x.md"))
  }

  test("non-recursive globs keep their depth; literal prefixes narrow the walk") {
    val dir = tree(files: _*)
    assert(ls(dir, "*.md") == Seq("top.md"))
    assert(ls(dir, "d3/*.md") == Seq("d3/x.md"))
    assert(ls(dir, "p3/*/*/*.md") == Seq("p3/q/r/s.md"))
    assert(ls(dir, "*/q/r/*.md") == Seq("p0/q/r/s.md", "p3/q/r/s.md"))
    assert(ls(dir, "d3/a/y.md") == Seq("d3/a/y.md"))
    assert(ls(dir, "missing/*.md").isEmpty)
  }

  test("listing stays inside the base directory") {
    val outer = tree("inner/a.md", "outside/b.md")
    val base = outer.resolve("inner")
    assert(ls(base, "../outside/*.md").isEmpty)
    assert(ls(base, "./*.md").isEmpty)
    assert(ls(base, "*.md") == Seq("a.md"))
  }

  test("mtimes come with the listing, in the same order") {
    val dir = tree(files: _*)
    val withMtime = FileScan.collectWithMtime(dir, "**/*.md")
    assert(withMtime.map(_._1) == ls(dir, "**/*.md"))
    withMtime.foreach { case (rel, m) =>
      assert(m == Files.getLastModifiedTime(dir.resolve(rel)).toMillis, rel)
    }
  }

  test("zero-directory variants cover every whole ** component") {
    assert(FileScan.zeroDirVariants("a/**/b/**/*.md").toSet ==
      Set("a/**/b/**/*.md", "a/b/**/*.md", "a/**/b/*.md", "a/b/*.md"))
    assert(FileScan.zeroDirVariants("x**/*.md") == Seq("x**/*.md"))
  }
}
