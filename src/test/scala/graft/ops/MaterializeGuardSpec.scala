package graft.ops

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** [[Materialize]] stays the only lineage cut in the product: no
  * `src/main` code calls `localCheckpoint`, whose blocks cannot be
  * recomputed once lost and which `unpersist` does not free. Comments may
  * name it. */
class MaterializeGuardSpec extends AnyFunSuite {

  /** `src` without its comments: block comments first, then line ones. */
  private def code(src: String): String =
    src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  test("no src/main code calls localCheckpoint") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.nonEmpty)
    val offenders = files.filter((p: Path) =>
      code(new String(Files.readAllBytes(p), "UTF-8"))
        .contains("localCheckpoint("))
    assert(offenders.isEmpty,
      s"use graft.ops.Materialize instead: ${offenders.mkString(", ")}")
  }
}
