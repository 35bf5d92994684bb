package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Operators own their checkpoints through [[Caches.holding]] only: a
  * hand-paired register/release call in operator code is the pattern the
  * shared block replaced, and the one that leaked when a pairing was
  * forgotten.
  */
class CheckpointOwnershipSpec extends AnyFunSuite {

  private val operatorDirs = Seq("operators", "similarity", "streaming")
    .map(d => Paths.get("src/main/scala/graft", d))

  private def scalaFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("no operator registers or releases a checkpoint by hand") {
    operatorDirs.foreach(d => assert(Files.isDirectory(d), s"$d not found"))
    val offenders = for {
      dir <- operatorDirs
      file <- scalaFiles(dir)
      (line, n) <- Files.readAllLines(file).asScala.zipWithIndex
      if line.contains("registerCheckpoint(") || line.contains("releaseCheckpoint(")
    } yield s"$file:${n + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "take checkpoints with Caches.holding's held(...) instead:\n" +
        offenders.mkString("\n"))
  }
}
