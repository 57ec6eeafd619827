package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Repo hygiene gates that have bitten rounds before.
  *
  * NUL bytes in tracked text files (VERDICT r14 item 6): a literal
  * `\x00` (raw) separator in `operators/JitPartitions.scala` (r13) and in
  * the quoted fix description inside `NOTES_r14.md` (r14 — the note
  * about the fix reintroduced the byte) made git treat those files as
  * BINARY, so diffs, `git log --stat` and greps went blind on them.
  * The fix is to write the escape (`"\\u0000"` in code, `\x00` in
  * prose), never the raw byte; this spec makes the class terminal.
  */
class RepoHygieneSpec extends AnyFunSuite {

  private val textExtensions =
    Set(".md", ".scala", ".java", ".py", ".sh", ".sbt", ".json", ".jsonl", ".txt", ".properties")

  /** The repo's files relative to `root`: git's tracked files in a
    * checkout; in an export without `.git` (`git archive`), every file
    * outside build output (`target/`) and dot-directories.
    */
  private def repoFiles(root: Path): Seq[String] =
    if (Files.exists(root.resolve(".git"))) {
      import scala.sys.process._
      Process(Seq("git", "ls-files"), root.toFile).!!.linesIterator.toSeq
    } else {
      def walk(dir: Path): Seq[Path] = {
        val s = Files.list(dir)
        try s.iterator.asScala.toSeq.flatMap { p =>
          val name = p.getFileName.toString
          if (!Files.isDirectory(p)) Seq(p)
          else if (name == "target" || name.startsWith(".")) Nil
          else walk(p)
        } finally s.close()
      }
      walk(root).map(root.relativize(_).toString)
    }

  test("no tracked text file contains a NUL byte") {
    val root = Paths.get(".").toAbsolutePath.normalize
    val files = repoFiles(root)
    val offenders = files.filter { f =>
      textExtensions.exists(f.endsWith) && {
        val p = root.resolve(f)
        Files.isRegularFile(p) && Files.readAllBytes(p).contains(0.toByte)
      }
    }
    assert(offenders.isEmpty,
      s"tracked text files containing a raw NUL byte (git sees them as binary): $offenders — " +
        "write the escape (\"\\\\u0000\" in code, \\x00 in prose) instead")
  }
}
