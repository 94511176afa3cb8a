package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps hidden switches out of the engine and its harness: every decision
  * has one code path and Bench has one setting per measurement, so no main
  * source may name a `spark.graft.*` session conf key, a
  * `SPARK_GRAFT_PROBE_*` environment toggle, the free-form
  * `SPARK_GRAFT_CONF` session-conf injection or one of Bench's deleted
  * single-value knobs (not even in a comment, where it would document a
  * switch that does not exist). The scripts under `tools/` and the verify
  * skill may not set or advertise them either. The environment Bench still
  * reads is `SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS` and `SPARK_GRAFT_ONLY`.
  */
class NoKnobsSpec extends AnyFunSuite {

  private val forbidden = Seq("spark.graft.", "SPARK_GRAFT_PROBE_", "SPARK_GRAFT_CONF",
    "SPARK_GRAFT_RUNS", "SPARK_GRAFT_STREAMS", "SPARK_GRAFT_SHUFFLE",
    "SPARK_GRAFT_WALL_RUNS", "SPARK_GRAFT_CANARY_BAR", "SPARK_GRAFT_BENCH_ATTEMPTS",
    "SPARK_GRAFT_WALL_DISP_BAR", "SPARK_GRAFT_SEQ_RECORD_FACTOR", "SPARK_GRAFT_RECORD")

  /** `file:line: key` for every forbidden key in the text files under `root`. */
  private def knobHits(root: Path, exts: Seq[String]): Seq[String] = {
    assert(Files.isDirectory(root), s"run from the project root: no $root")
    val files = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && exts.exists(p.toString.endsWith))
      .toSeq
    assert(files.nonEmpty, s"no ${exts.mkString("/")} files under $root")
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      key <- forbidden if line.contains(key)
    } yield s"$f:${i + 1}: $key"
  }

  test("main sources read no spark.graft.* conf key and no SPARK_GRAFT_PROBE_* variable") {
    val hits = knobHits(Paths.get("src/main/scala"), Seq(".scala"))
    assert(hits.isEmpty, hits.mkString("knob references found:\n", "\n", ""))
  }

  test("tools and the verify skill neither set nor advertise a deleted knob") {
    val hits = Seq("tools", ".claude/skills").flatMap(d =>
      knobHits(Paths.get(d), Seq(".sh", ".py", ".md")))
    assert(hits.isEmpty, hits.mkString("knob references found:\n", "\n", ""))
  }
}
