package graft.streaming

import java.io.{IOException, OutputStream}
import java.net.URI
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.operators.{Dedup, Similarity}
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

/** The local file system under the `crashfs` scheme, failing the first
  * file create under each armed path: the crash injector of
  * [[GateCrashSpec]], registered there through `fs.crashfs.impl`.
  */
class CrashFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("crashfs:///")
  override def getScheme: String = "crashfs"
  // every create of RawLocalFileSystem opens its stream here
  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
      permission: FsPermission): OutputStream = {
    CrashFs.trip(f.toUri.getPath)
    super.createOutputStreamWithMode(f, append, permission)
  }
}

object CrashFs {
  private val armed = ConcurrentHashMap.newKeySet[String]()
  private val hit = ConcurrentHashMap.newKeySet[String]()

  /** Fail the next create under each of `dirs` (local paths); disarm the rest. */
  def arm(dirs: String*): Unit = { armed.clear(); hit.clear(); dirs.foreach(armed.add) }

  /** The armed paths whose create has failed since the last [[arm]]. */
  def tripped: Set[String] = hit.asScala.toSet

  private def trip(path: String): Unit =
    armed.asScala.find(a => path == a || path.startsWith(a + "/")).foreach { a =>
      if (armed.remove(a)) {
        hit.add(a)
        throw new IOException(s"injected crash: first create under $a ($path)")
      }
    }
}

/** Crash windows of the three self-maintaining gates against the
  * idempotent-sink exactly-once model: a trigger fails at a chosen write,
  * the query restarts from its checkpoint, and the sink and the state
  * must equal an uninterrupted run's, as sorted multisets. Batch 1 is the
  * one that fails; batch 0 is state before it, batch 2 gates against the
  * recovered state.
  */
class GateCrashSpec extends SparkSpec {
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration.set("fs.crashfs.impl", classOf[CrashFs].getName)

  private val sink = "out/batch=1"
  private val marker = "out/batch=1/_SUCCESS"
  private val commit = "ckpt/commits"

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Writes the gate's base state under `root` (`crashfs://<dir>`) with
    * `setup`, then streams three batches through the gate `start` opens
    * there, failing batch 1 at the first create under each of `armed`
    * (paths relative to the root) and restarting from the checkpoint.
    * Returns the sink's rows and the state's, sorted.
    */
  private def run[T: Encoder](cols: Seq[String], batches: Seq[Seq[T]],
                              armed: Seq[String])(setup: String => Unit)(
      start: (DataFrame, String) => StreamingQuery)(
      state: String => DataFrame): (Seq[String], Seq[String]) = {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-crash").toString
    val root = s"crashfs://$dir"
    setup(root)
    val in = MemoryStream[T]
    def open() = start(in.toDF().toDF(cols: _*), root)
    var q = open()
    try {
      in.addData(batches(0): _*)
      q.processAllAvailable()
      CrashFs.arm(armed.map(a => s"$dir/$a"): _*)
      in.addData(batches(1): _*)
      if (armed.nonEmpty) {
        intercept[StreamingQueryException](q.processAllAvailable())
        assert(CrashFs.tripped == armed.map(a => s"$dir/$a").toSet,
          s"armed $armed, tripped ${CrashFs.tripped}")
        q.stop()
        q = open() // batch 1 replays from the checkpoint
      }
      q.processAllAvailable()
      in.addData(batches(2): _*)
      q.processAllAvailable()
    } finally { q.stop(); CrashFs.arm() }
    (sorted(spark.read.parquet(s"$root/out")), sorted(state(root)))
  }

  /** Every crash window of one gate equals the uninterrupted run. */
  private def windowsReplayExactly(windows: Seq[(String, Seq[String])])(
      go: Seq[String] => (Seq[String], Seq[String])): Seq[String] = {
    val (clean, cleanState) = go(Nil)
    windows.foreach { case (window, armed) =>
      val (out, st) = go(armed)
      assert(out == clean, s"$window: sink $out != uninterrupted $clean")
      assert(st == cleanState, s"$window: state differs from the uninterrupted run")
    }
    clean
  }

  private var tables = 0
  private def freshTable(): String = { tables += 1; s"gate_crash_$tables" }

  test("near-dup gate: every crash window replays to the uninterrupted sink and band table") {
    val fox = "the quick brown fox jumps over the lazy dog near the river bank today"
    val cave = "a planted novel document describing underwater cave systems and " +
      "the slow formation of limestone structures over geological time"
    val birds = "an entirely separate report on migratory bird routes across the " +
      "northern hemisphere during the autumn season each year"
    val ice = "an id-less document about alpine glaciers and their retreat"
    val water = "quarterly notes on municipal water treatment plants and the " +
      "chemistry of chlorine dosing schedules"
    val corpus = Seq((10L, fox)).toDF("doc_id", "text")
    val batches = Seq(
      Seq((Some(100L), fox + " extra"), (Some(200L), cave), (None, ice)),
      Seq((Some(201L), cave + " appended tail"), (Some(300L), birds),
        (None, ice + " once more")),
      Seq((Some(301L), birds + " with a tail"), (Some(400L), water)))
    val state = "bands"
    val used = Seq.newBuilder[String]
    try {
      val clean = windowsReplayExactly(Seq(
        "before either write commits" -> Seq(sink, state),
        "after the sink commit, before the append" -> Seq(state),
        "after the append, before the sink commit" -> Seq(sink),
        "after the append and the sink's files, before its _SUCCESS" -> Seq(marker),
        "after both writes" -> Seq(commit))) { armed =>
        val table = freshTable()
        used += table
        run(Seq("doc_id", "text"), batches, armed) { root =>
          Dedup.writeBandTable(corpus, "doc_id", "text", table, buckets = 4,
            bands = 16, rowsPerBand = 2, path = Some(s"$root/$state"))
        } { (docs, root) =>
          DocStream.selfMaintainingNearDedupedIngest(docs, corpus, table,
            "doc_id", "text", s"$root/out", s"$root/ckpt", threshold = 0.5,
            bands = 16, rowsPerBand = 2)
        }(_ => spark.table(table))
      }
      assert(clean.map(_.split(",")(0)) ==
        Seq("[200", "[300", "[400", "[null", "[null"), s"uninterrupted sink: $clean")
    } finally used.result().foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("exact gate: every crash window of its sink-first order replays to the uninterrupted run") {
    val corpus = Seq((10L, "historical text alpha")).toDF("doc_id", "text")
    val batches = Seq(
      Seq((Some(100L), "historical text alpha"), (Some(200L), "novel text beta"),
        (None, "lonely id-less text")),
      Seq((Some(201L), "novel text beta"), (Some(203L), "novel text delta"),
        (None, "lonely id-less text"), (None, "second id-less text")),
      Seq((Some(303L), "novel text delta"), (Some(400L), "novel text epsilon")))
    val state = "fps"
    val used = Seq.newBuilder[String]
    try {
      val clean = windowsReplayExactly(Seq(
        "before the sink commit" -> Seq(sink),
        "after the sink's files, before its _SUCCESS" -> Seq(marker),
        "after the sink commit, before the append" -> Seq(state),
        "after the append" -> Seq(commit))) { armed =>
        val table = freshTable()
        used += table
        run(Seq("doc_id", "text"), batches, armed) { root =>
          Dedup.writeFingerprintTable(corpus, "text", table, buckets = 4,
            path = Some(s"$root/$state"))
        } { (docs, root) =>
          DocStream.selfMaintainingDedupedIngest(docs, table, "doc_id", "text",
            s"$root/out", s"$root/ckpt")
        }(_ => spark.table(table))
      }
      assert(clean.map(_.split(",")(0)) ==
        Seq("[200", "[203", "[400", "[null", "[null"), s"uninterrupted sink: $clean")
    } finally used.result().foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("semantic gate: every crash window replays to the uninterrupted sink and cell table") {
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val corpus = Seq((10L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val batches = Seq(
      Seq((Some(100L), Seq(0.8f, 0.6f)), (Some(200L), Seq(0.0f, 1.0f)),
        (None, Seq(0.6f, 0.8f))),
      Seq((Some(201L), Seq(0.0f, 1.0f)), (Some(300L), Seq(-1.0f, 0.0f))),
      Seq((Some(301L), Seq(-1.0f, 0.1f)), (Some(400L), Seq(0.0f, -1.0f))))
    val state = "cells/seg=b1"
    val clean = windowsReplayExactly(Seq(
      "before either write commits" -> Seq(sink, state),
      "after the sink commit, before the append" -> Seq(state),
      "after the append, before the sink commit" -> Seq(sink),
      "after the append and the sink's files, before its _SUCCESS" -> Seq(marker),
      "after both writes" -> Seq(commit))) { armed =>
      run(Seq("vec_id", "embedding"), batches, armed) { root =>
        Similarity.writeSemCellSegment(corpus, "vec_id", cents, s"$root/cells",
          "corpus")
      } { (docs, root) =>
        DocStream.selfMaintainingSemGatedIngest(docs, s"$root/cells", "vec_id",
          cents, threshold = 0.7, s"$root/out", s"$root/ckpt")
      }(root => spark.read.parquet(s"$root/cells"))
    }
    assert(clean.map(_.split(",")(0)) == Seq("[200", "[300", "[400", "[null"),
      s"uninterrupted sink: $clean")
  }
}
