package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** The benchmark's lakes, built from the parquet files committed under
  * `lake/`: `sf0.01/` holds all ten tables; `sf0.1/` holds the sf0.1
  * `events` table the dashboard and ingest workloads read.
  */
object Lakes {
  def sf001(lakeRoot: String): String = s"$lakeRoot/sf0.01"

  /** A lake of the sf0.1 events with the other tables of sf0.01,
    * linked. With `copyEvents`, events becomes a directory-backed
    * table holding a copy of the file, so it can take appends.
    */
  def eventsLake(lakeRoot: String, dir: String, copyEvents: Boolean): String = {
    val root = Paths.get(dir).toAbsolutePath
    deleteTree(root)
    Files.createDirectories(root)
    graft.Tables.all.filter(_ != "events").foreach { t =>
      Files.createSymbolicLink(root.resolve(s"$t.parquet"),
        Paths.get(sf001(lakeRoot), s"$t.parquet").toAbsolutePath)
    }
    val events = Paths.get(lakeRoot, "sf0.1", "events.parquet").toAbsolutePath
    if (copyEvents) {
      val d = Files.createDirectories(root.resolve("events.parquet"))
      Files.copy(events, d.resolve("part-00000-base.parquet"), StandardCopyOption.REPLACE_EXISTING)
    } else Files.createSymbolicLink(root.resolve("events.parquet"), events)
    root.toString
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS))
        scala.util.Using.resource(Files.list(p))(_.toList.forEach(c => deleteTree(c)))
      Files.delete(p)
    }

  /** Bytes of the regular files under `p` (parquet data and markers). */
  def bytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else scala.util.Using.resource(Files.walk(root)) { w =>
      w.filter(f => Files.isRegularFile(f, java.nio.file.LinkOption.NOFOLLOW_LINKS))
        .mapToLong(f => Files.size(f)).sum()
    }
  }
}
