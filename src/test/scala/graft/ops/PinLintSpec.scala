package graft.ops

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every cached or cut intermediate in `src/main` goes through [[Pin]],
  * so no other file materialises or releases one on its own.
  */
class PinLintSpec extends AnyFunSuite {

  private val calls = Seq(".persist(", ".cache()", "localCheckpoint(",
    ".unpersist(")

  /** Files (relative to src/main/scala) that may name a call: Pin
    * itself, and each exception with its reason.
    */
  private val allowed = Map(
    "graft/ops/Pin.scala" -> "the one place pins are made and released",
    "graft/ops/ShardedBroadcast.scala" ->
      "unpersists broadcast variables, which are not pins")

  test("src/main persists, caches, cuts and unpersists only in ops/Pin.scala") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 100, s"scanned only ${files.size} files under $root")
    val hits = for {
      f: Path <- files
      rel = root.relativize(f).toString.replace('\\', '/')
      if !allowed.contains(rel)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if calls.exists(line.contains)
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
