package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract plumbing: the bench's baseline parser and the shared
  * JSON emission both sit between the engine and the driver's json.load —
  * a silent failure here zeroes a round artifact, so they get unit pins.
  */
class BenchSpec extends AnyFunSuite {

  test("parseFlatJson handles plain, negative, and scientific-notation values") {
    val parsed = Bench.parseFlatJson(
      """{"q1": 0.25, "q2": -1.0, "q3": 1.2e-05, "q4": 3E+2, "q5": 7}""")
    assert(parsed == Map(
      "q1" -> 0.25, "q2" -> -1.0, "q3" -> 1.2e-5, "q4" -> 300.0, "q5" -> 7.0))
  }

  test("parseFlatJson of an error blob yields an empty map, not garbage") {
    assert(Bench.parseFlatJson("Traceback (most recent call last): ...").isEmpty)
  }

  test("emitLine stays bounded; realistic per-query values may exceed the tail window") {
    // Historical pin, kept honest (r18): at 159 queries with REALISTIC
    // sub-second values ("0.84" = 4 chars beats this test's old
    // "worst-case" 63.12 → "63" = 2 chars) the full line is ~2.1 KB and
    // its FRONT falls off the driver's tail window — which is exactly why
    // emitCompactLine now brackets it. This test bounds the full line's
    // growth; the compact line's own test pins the always-fits contract.
    val results = SparkEntry.queries.keys.map(_ -> 0.84).toMap
    val duckdb = SparkEntry.oracleSql.keys.map(_ -> 0.0123456789).toMap +
      ("_wall_concurrent" -> 12.345678, "_concurrency" -> 8.0)
    val line = Bench.emitLine(results, 45.6789, duckdb, 8, "/root/testdata/sf0.1")
    assert(line.length < 2600, s"line is ${line.length} chars — runaway growth")
    assert(line.startsWith("{\"metric\":\"total\""))
    assert(!line.contains("\n"))
  }

  test("shortened bench keys stay unique across the whole query suite") {
    val short = SparkEntry.queries.keys.toSeq.map(_.takeWhile(_ != '_'))
    val dupes = short.groupBy(identity).filter(_._2.size > 1).keys
    assert(dupes.isEmpty, s"colliding short keys: ${dupes.mkString(",")}")
  }

  test("emitLine values are locale-stable numbers parseFlatJson accepts") {
    // totals carry 3 decimals; per-query values 2 (the line must fit the
    // driver's tail window at 115+ queries — full precision is in
    // BENCH_DETAIL.json)
    val line = Bench.emitLine(Map("q01_x" -> 1.23456, "q02_y" -> 0.0004),
      7.891011, Map("q01_x" -> -1.0), 8, "/sf")
    val parsed = Bench.parseFlatJson(line)
    assert(parsed("q01") == 1.23 && parsed("q02") == 0.0)
    // value = the BEST suite mode: here the sequential sum (1.235) beats
    // the concurrent wall (7.891)
    assert(parsed("value") == 1.235)
    // the one failed oracle is excluded from both duckdb totals (and with
    // no _wall_concurrent key the wall falls back to the sequential sum)
    assert(parsed("duckdb_total") == 0.0 && parsed("duckdb_seq") == 0.0)
    assert(parsed("duckdb_failed") == 1.0 && parsed("spark_seq") == 1.235)
  }

  test("emitLine throughput pair: duckdb wall comes from the reserved key") {
    val line = Bench.emitLine(Map("q01_x" -> 6.0), 5.0,
      Map("q01_x" -> 2.0, "_wall_concurrent" -> 1.5, "_concurrency" -> 8.0),
      8, "/sf")
    val parsed = Bench.parseFlatJson(line)
    // both engines take their best mode: spark wall 5.0 < seq 6.0,
    // duckdb reserved wall 1.5 < seq 2.0
    assert(parsed("value") == 5.0 && parsed("duckdb_total") == 1.5)
    assert(parsed("duckdb_seq") == 2.0 && parsed("streams") == 8.0)
  }

  test("emitLine marks a skipped baseline instead of printing 0-second totals") {
    // SPARK_GRAFT_ONLY experiment runs skip DuckDB: the line must not look
    // like a measured 0.000s baseline
    val line = Bench.emitLine(Map("q01_x" -> 1.0), 0.8, Map.empty, 8, "/sf")
    assert(line.contains("\"duckdb_skipped\":true"), line)
    assert(Bench.parseFlatJson(line)("duckdb_total") == -1.0)
  }

  test("emitLine carries the WORSE of the before/after host-noise canaries") {
    val line = Bench.emitLine(Map("q01_x" -> 1.0), 0.8,
      Map("q01_x" -> 0.5, "_wall_concurrent" -> 0.4,
        "_canary" -> 0.021, "_canary_end" -> 0.234), 8, "/sf")
    val parsed = Bench.parseFlatJson(line)
    assert(parsed("canary") == 0.234, line)
    // canary keys are reserved: excluded from the duckdb totals
    assert(parsed("duckdb_seq") == 0.5 && parsed("duckdb_total") == 0.4)
  }

  test("emitLine carries the wall-dispersion certificate (self-defense v2)") {
    val line = Bench.emitLine(Map("q01_x" -> 1.0), 0.8, Map("q01_x" -> 0.5),
      8, "/sf", Map("wall_disp" -> 1.042))
    assert(Bench.parseFlatJson(line)("wall_disp") == 1.042, line)
    // absent phases → explicit -1, never a fake 1.0 certificate
    val bare = Bench.emitLine(Map("q01_x" -> 1.0), 0.8, Map("q01_x" -> 0.5),
      8, "/sf")
    assert(Bench.parseFlatJson(bare)("wall_disp") == -1.0, bare)
  }

  test("emitCompactLine always fits whole in the tail window (<400 chars)") {
    // the compact record is the line the driver's tail parser relies on
    // once the 159-entry full line outgrows the ~2000-char window — it
    // must stay far under the window for ANY suite size, so its length
    // must not depend on the query count at all
    val results = SparkEntry.queries.keys.map(_ -> 0.84).toMap
    val duckdb = SparkEntry.oracleSql.keys.map(_ -> 0.16).toMap +
      ("_wall_concurrent" -> 12.345678, "_canary" -> 0.024,
        "_canary_end" -> 0.031)
    val phases = Map("canary_pre_wall" -> 0.03, "canary_post_wall" -> 0.029,
      "wall_disp" -> 1.067)
    val line = Bench.emitCompactLine(results, 13.091, duckdb, 28,
      "/root/testdata/sf0.1", phases)
    assert(line.length < 400, s"compact line is ${line.length} chars")
    assert(line.startsWith("{\"metric\":\"total\",\"value\":"))
    assert(line.endsWith("}") && !line.contains("\n"))
    Seq("spark_total", "spark_seq", "duckdb_total", "duckdb_seq", "canary",
      "canary_spark", "wall_disp", "n_queries", "streams", "sf", "compact")
      .foreach(k => assert(line.contains("\"" + k + "\":"), s"missing $k"))
  }

  test("compact and full lines agree on every shared total") {
    // both lines are built from Bench.totals — this pins that the
    // refactor stays shared (a drift here ships two disagreeing headline
    // records in one artifact)
    val results = Map("q01_x" -> 1.2, "q02_y" -> 0.4)
    val duckdb = Map("q01_x" -> 0.3, "q02_y" -> 0.2,
      "_wall_concurrent" -> 0.45, "_canary" -> 0.02, "_canary_end" -> 0.05)
    val phases = Map("canary_pre_wall" -> 0.03, "canary_post_wall" -> 0.01,
      "wall_disp" -> 1.1)
    val full = Bench.parseFlatJson(
      Bench.emitLine(results, 1.0, duckdb, 8, "/sf", phases))
    val comp = Bench.parseFlatJson(
      Bench.emitCompactLine(results, 1.0, duckdb, 8, "/sf", phases))
    Seq("value", "spark_seq", "duckdb_total", "duckdb_seq", "duckdb_failed",
      "canary", "canary_spark", "wall_disp", "streams")
      .foreach(k => assert(comp(k) == full(k), s"$k: ${comp(k)} vs ${full(k)}"))
    assert(comp("n_queries") == 2.0 && comp("spark_total") == comp("value"))
  }

  test("emitCompactLine marks a skipped baseline like the full line") {
    val line = Bench.emitCompactLine(Map("q01_x" -> 1.0), 0.8, Map.empty,
      8, "/sf")
    assert(line.contains("\"duckdb_skipped\":true"), line)
    assert(Bench.parseFlatJson(line)("duckdb_total") == -1.0)
  }

  test("recordedSeq reads the committed detail's spark map, sf-gated") {
    val detail = """{"spark":{"q01_x":1.25,"q02_y":0.5},""" +
      """"spark_wall_concurrent":3.0,"streams":28,""" +
      """"duckdb":{"q01_x":0.9},"duckdb_wall_concurrent":1.0,""" +
      """"phases":{"wall1_a1":3.0},"sf":"/root/testdata/sf0.1"}"""
    assert(Bench.parseRecordSpark(detail) ==
      Map("q01_x" -> 1.25, "q02_y" -> 0.5))
    assert(Bench.parseRecordSf(detail).contains("/root/testdata/sf0.1"))
    val tmp = java.nio.file.Files.createTempFile("graft_rec", ".json")
    java.nio.file.Files.writeString(tmp, detail)
    // matching sf → the record; other sf → empty (a record certifies only
    // its own workload); missing file → empty, never a throw
    assert(Bench.recordedSeq("/root/testdata/sf0.1", tmp.toString).size == 2)
    assert(Bench.recordedSeq("/root/testdata/sf0.01", tmp.toString).isEmpty)
    assert(Bench.recordedSeq("/sf", "/nonexistent/detail.json").isEmpty)
    // a duckdb-only blob must not masquerade as a spark record
    assert(Bench.parseRecordSpark("""{"duckdb":{"q01_x":0.9}}""").isEmpty)
  }

  test("passes: a ScaleData copy runs one attempt, one sequential run and one wall pass") {
    // graft.ScaleData writes each table as a directory of part files; the
    // testdata dirs hold one file per table
    val scaled = java.nio.file.Files.createTempDirectory("graft_scaled")
    java.nio.file.Files.createDirectories(scaled.resolve("lineitem.parquet"))
    val flat = java.nio.file.Files.createTempDirectory("graft_flat")
    java.nio.file.Files.createFile(flat.resolve("lineitem.parquet"))
    assert(Bench.passes(scaled.toString) ==
      Bench.Passes(attempts = 1, runs = 1, wallRuns = 1))
    assert(Bench.passes(flat.toString) ==
      Bench.Passes(attempts = 4, runs = 2, wallRuns = 3))
  }

  test("the shell gate scripts carry Bench's canary and dispersion bars") {
    // tools/canary.sh and tools/bench_quiet.sh gate runs outside the JVM, so
    // they hold their own copies of the two bars; a drifted copy would
    // certify windows Bench itself rejects
    def shellConst(file: String, name: String): Double = {
      val src = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(file)), "UTF-8")
      val m = s"(?m)^$name=([0-9.]+)$$".r.findAllMatchIn(src).toList
      assert(m.size == 1, s"$file: expected one $name= line, found ${m.size}")
      m.head.group(1).toDouble
    }
    assert(shellConst("tools/canary.sh", "CANARY_BAR") == Bench.CanaryBar)
    assert(shellConst("tools/bench_quiet.sh", "DISP_BAR") == Bench.WallDispBar)
  }

  test("codegenJson lists each sequential run's compiles in order") {
    val js = Bench.codegenJson(Map("q02_y" -> Seq((0L, 0.0)),
      "q01_x" -> Seq((12L, 0.25), (0L, 0.0))))
    assert(js == """{"q01_x":{"compiles":[12,0],"compile_s":[0.25,0.0]},""" +
      """"q02_y":{"compiles":[0],"compile_s":[0.0]}}""")
  }

  test("JsonDump.q escapes quotes, backslashes, and ALL control chars") {
    assert(JsonDump.q("""a"b\c""") == "\"a\\\"b\\\\c\"")
    assert(JsonDump.q("l1\nl2\tt\rr") == "\"l1\\nl2\\tt\\rr\"")
    assert(JsonDump.q("x\u0001y") == "\"x\\u0001y\"")
    // round-trip through a real JSON parser shape: no raw control chars
    val dumped = JsonDump.q("a\nb\u0000c")
    assert(!dumped.exists(c => c < ' '), s"raw control char leaked: $dumped")
  }

  test("oracleSqlJson is parseable json-shaped output for every registered oracle") {
    val json = JsonDump.oracleSqlJson
    assert(json.startsWith("{") && json.endsWith("}"))
    assert(!json.exists(c => c < ' '), "raw control characters must be escaped")
    // every oracle key appears quoted exactly once as a key
    SparkEntry.oracleSql.keys.foreach { k =>
      assert(json.contains("\"" + k + "\""), s"missing oracle key $k")
    }
  }

  test("benchAuxJson: valid JSON; overrides cover exactly the cached-fit queries") {
    val aux = JsonDump.benchAuxJson
    // parses as JSON (same shape the python side json.loads)
    assert(aux.startsWith("""{"fixtures": {"""), aux.take(40))
    // the queries sharing a session-cached self-fit (ensureSelfModel /
    // ensureBackoffModel) — and ONLY those — get amortized variants; every
    // override's target must be a registered oracle query, and every
    // fixture a plain SELECT
    assert(SparkEntry.benchOverrides.keySet ==
      Set("q5k_lm_score", "q5o_ppl_gate", "q5q_ppl_buckets",
        "q5t_backoff_lm", "q5u_backoff_gate", "q5v_kn_lm", "q5w_kn3_lm",
        "q6d_stream_ppl_gate"))
    assert(SparkEntry.benchOverrides.keySet.subsetOf(SparkEntry.oracleSql.keySet))
    assert(SparkEntry.benchFixtures.keySet ==
      Set("graft_lm_uni", "graft_lm_bi",
        "graft_bo_uni", "graft_bo_bi", "graft_bo_tri"))
    SparkEntry.benchFixtures.values.foreach(sql =>
      assert(sql.trim.toUpperCase.startsWith("SELECT"), sql))
    // override SQL reads fixture tables, never refits from documents' raw
    // text (a refit there would silently undo the leveling)
    SparkEntry.benchOverrides.values.foreach { sql =>
      assert(SparkEntry.benchFixtures.keySet.count(sql.contains) >= 2, sql)
      assert(!sql.contains("LIMIT"), s"override must not refit (no caps): $sql")
    }
  }
}
