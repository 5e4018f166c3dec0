package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[Scratch]] is the one owner of temp dirs, tree deletes and exit
  * hooks in `src/main`: everything else asks it, so each scratch dir has
  * one place that knows how it is made and released.
  */
class ScratchOwnershipSpec extends AnyFunSuite {

  /** Calls that make a temp dir, register exit work, or walk a file tree
    * (the hand-written recursive delete idiom), and library substitutes
    * for them.
    */
  private val owned = Seq(
    "addShutdownHook", "ShutdownHookManager", "createTempDirectory", "createTempDir",
    "listFiles", "walkFileTree", "Files.walk", "deleteRecursively", "deleteDirectory")

  test("only Scratch makes temp dirs, registers exit hooks or deletes file trees") {
    val root = Paths.get("src/main/scala")
    val helper = root.resolve("graft/Scratch.scala")
    val hits = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != helper)
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i)
              if !Seq("//", "*", "/*").exists(line.trim.startsWith) &&
                owned.exists(line.contains) =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toSeq
    assert(Files.isRegularFile(helper))
    assert(hits.isEmpty, s"use graft.Scratch instead:\n${hits.mkString("\n")}")
  }
}
