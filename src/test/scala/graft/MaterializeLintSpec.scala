package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Materialization lives in one place: outside [[graft.pipeline.Materialize]]
  * no main source caches, checkpoints, unpersists or makes a temp dir by
  * hand. The one exemption is `WarpOps.cacheStep`, whose persisted frame
  * is the user's by design (QBECacheStep). */
class MaterializeLintSpec extends AnyFunSuite {
  private val banned =
    Seq("localCheckpoint(", ".checkpoint(", ".persist(", ".unpersist(", "createTempDirectory")
  private val allowed = Set(
    "graft/pipeline/Materialize.scala" -> "*",
    "graft/ops/WarpOps.scala" ->
      "df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)")

  test("only the Materialize scope caches, checkpoints or makes temp dirs") {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.exists(_.endsWith("graft/pipeline/Materialize.scala")),
      s"no sources under ${root.toAbsolutePath}")
    val hits = for {
      f <- files
      rel = root.relativize(f).toString
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if banned.exists(line.contains) && !allowed(rel -> "*") && !allowed(rel -> line.trim)
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
