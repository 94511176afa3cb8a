package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps hidden switches out of the engine: every decision has one code
  * path, so no main source may name a `spark.graft.*` session conf key, a
  * `SPARK_GRAFT_PROBE_*` environment toggle or the free-form
  * `SPARK_GRAFT_CONF` session-conf injection (not even in a comment, where
  * it would document a switch that does not exist).
  */
class NoKnobsSpec extends AnyFunSuite {

  private val forbidden = Seq("spark.graft.", "SPARK_GRAFT_PROBE_", "SPARK_GRAFT_CONF")

  test("main sources read no spark.graft.* conf key and no SPARK_GRAFT_PROBE_* variable") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: no $root")
    val files = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq
    assert(files.nonEmpty)
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      key <- forbidden if line.contains(key)
    } yield s"${root.relativize(f)}:${i + 1}: $key"
    assert(hits.isEmpty, hits.mkString("knob references found:\n", "\n", ""))
  }
}
