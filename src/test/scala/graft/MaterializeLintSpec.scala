package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Materialization lives in one place: outside [[graft.pipeline.Materialize]]
  * no main source caches, checkpoints, unpersists or makes a temp dir by
  * hand. The one exemption is `WarpOps.cacheStep`, whose persisted frame
  * is the user's by design (QBECacheStep). Likewise every data-directory
  * table, named through an interpolated `<dir>/<table>.parquet` or a literal
  * test-data path, opens through [[graft.catalog.Shared.T]], which resolves
  * it once per session. And no main source names a fixed `/tmp` path: a
  * query's files live under its scope's dirs or the session's run root. */
class MaterializeLintSpec extends AnyFunSuite {

  /** `file:line: text` of every line under `root` holding a `banned`
    * needle, unless its (relative file, trimmed line) — or the file with
    * "*" — is `allowed`. */
  private def hits(root: Path, banned: Seq[String],
                   allowed: Set[(String, String)]): Seq[String] =
    matching(root, line => banned.exists(line.contains), allowed)

  private def matching(root: Path, banned: String => Boolean,
                       allowed: Set[(String, String)]): Seq[String] = {
    val walk = Files.walk(root)
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.exists(_.endsWith("graft/catalog/Shared.scala")),
      s"no sources under ${root.toAbsolutePath}")
    for {
      f <- files
      rel = root.relativize(f).toString
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if banned(line) && !allowed(rel -> "*") && !allowed(rel -> line.trim)
    } yield s"$rel:${i + 1}: ${line.trim}"
  }

  test("only the Materialize scope caches, checkpoints or makes temp dirs") {
    val found = hits(Paths.get("src/main/scala"),
      Seq("localCheckpoint(", ".checkpoint(", ".persist(", ".unpersist(", "createTempDirectory"),
      Set("graft/pipeline/Materialize.scala" -> "*",
        "graft/ops/WarpOps.scala" ->
          "df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)"))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("only catalog.Shared.T reads a data-directory table file") {
    // `$dir/` anything, or `<any variable>/<table>.parquet`
    val interpolated = """read\.parquet\(s"\$(dir/|\{?\w+\}?/\w+\.parquet)""".r
    val found = matching(Paths.get("src"),
      line => interpolated.findFirstIn(line).isDefined ||
        Seq("read.parquet(\"/root/testdata", "read.parquet(s\"/root/testdata").exists(line.contains),
      Set("main/scala/graft/catalog/Shared.scala" -> "*"))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("no main source names a fixed /tmp path but the shared Postgres server's") {
    val found = hits(Paths.get("src/main/scala"), Seq("\"/tmp/"),
      Set("graft/sources/PgWire.scala" -> "val data = \"/tmp/graft_pgdata\"",
        "graft/sources/PgWire.scala" -> "val log = \"/tmp/graft_pg.log\""))
    assert(found.isEmpty, found.mkString("\n"))
  }
}
