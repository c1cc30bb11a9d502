package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Gate hardening for the round-6 incident class: regenerated testdata
  * changed the `events` ts encoding, the loader threw, and 27 queries
  * silently VANISHED from the driver's correctness ledger (157→130 rows,
  * zero errors recorded). These specs make that failure mode loud and
  * in-session:
  *   - every testdata table must load with its contract schema (the events
  *     loader must normalize ts to µs TimestampType, whatever the physical
  *     encoding of the current generation);
  *   - the query registry and oracle map must stay mutually consistent, so
  *     a registration typo can't produce an orphan oracle row;
  *   - Bench's final short-key JSON line must stay inside the driver's
  *     2000-char tail window as the suite grows (it was 1861 chars at 157
  *     queries — ~170 queries would have pushed its START out and nulled
  *     the round's BENCH parse).
  * Companion runtime guards: Verify writes manifest.json before running and
  * poison rows on failure; tools/check.py iterates the manifest, not the
  * output dirs. Reference anchor for the idea: the reference's own schema
  * drift gate, source_validation.py:1-33. */
class TestdataContractSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  // every SF the driver gates on — a regeneration rewrites all of them,
  // so the contract must hold on each (schema checks are metadata-only;
  // the row-count assertion below stays on the smallest SF)
  private val allDirs = Seq("sf0.001", "sf0.01", "sf0.1").map(s => s"/root/testdata/$s")

  private def haveTestdata = new java.io.File(s"$dir/events.parquet").exists()

  // name → accepted Spark types per column, in order. Timestamp columns
  // accept TZ/NTZ/long-nanos at the RAW layer (physical encoding has varied
  // across driver generations); the loader-normalized contract is asserted
  // separately below.
  private val rawTs: Set[DataType] = Set(TimestampType, TimestampNTZType, LongType)
  private val contract: Map[String, Seq[(String, Set[DataType])]] = Map(
    "region" -> Seq("r_regionkey" -> Set(IntegerType), "r_name" -> Set(StringType)),
    "nation" -> Seq("n_nationkey" -> Set(IntegerType), "n_name" -> Set(StringType),
      "n_regionkey" -> Set(IntegerType)),
    "customer" -> Seq("c_custkey" -> Set(LongType), "c_name" -> Set(StringType),
      "c_nationkey" -> Set(IntegerType), "c_acctbal" -> Set(DoubleType),
      "c_mktsegment" -> Set(StringType)),
    "supplier" -> Seq("s_suppkey" -> Set(LongType), "s_name" -> Set(StringType),
      "s_nationkey" -> Set(IntegerType), "s_acctbal" -> Set(DoubleType)),
    "part" -> Seq("p_partkey" -> Set(LongType), "p_name" -> Set(StringType),
      "p_brand" -> Set(StringType), "p_type" -> Set(StringType),
      "p_size" -> Set(IntegerType), "p_retailprice" -> Set(DoubleType)),
    "orders" -> Seq("o_orderkey" -> Set(LongType), "o_custkey" -> Set(LongType),
      "o_orderstatus" -> Set(StringType), "o_totalprice" -> Set(DoubleType),
      "o_orderdate" -> rawTs, "o_orderpriority" -> Set(StringType)),
    "lineitem" -> Seq("l_orderkey" -> Set(LongType), "l_partkey" -> Set(LongType),
      "l_suppkey" -> Set(LongType), "l_linenumber" -> Set(IntegerType),
      "l_quantity" -> Set(DoubleType), "l_extendedprice" -> Set(DoubleType),
      "l_discount" -> Set(DoubleType), "l_tax" -> Set(DoubleType),
      "l_returnflag" -> Set(StringType), "l_linestatus" -> Set(StringType),
      "l_shipdate" -> rawTs),
    "events" -> Seq("event_id" -> Set(LongType), "ts" -> rawTs,
      "user_id" -> Set(LongType), "event_type" -> Set(StringType),
      "value" -> Set(DoubleType), "props" -> Set(StringType)),
    "documents" -> Seq("doc_id" -> Set(LongType), "text" -> Set(StringType),
      "lang" -> Set(StringType), "source" -> Set(StringType),
      "n_chars" -> Set(LongType)),
    "embeddings" -> Seq("vec_id" -> Set(LongType),
      "embedding" -> Set(ArrayType(FloatType), ArrayType(FloatType, false)),
      "label" -> Set(IntegerType)))

  test("every testdata table loads with its contract schema (all SFs)") {
    assume(haveTestdata, s"$dir absent")
    for (d <- allDirs if new java.io.File(s"$d/events.parquet").exists();
         (tbl, cols) <- contract) {
      val schema = spark.read.parquet(s"$d/$tbl.parquet").schema
      assert(schema.fieldNames.toSeq == cols.map(_._1),
        s"$d/$tbl columns drifted: ${schema.fieldNames.mkString(",")}")
      cols.foreach { case (name, accepted) =>
        assert(accepted.contains(schema(name).dataType),
          s"$d/$tbl.$name has ${schema(name).dataType}, expected one of $accepted " +
            "— a new testdata generation changed the physical encoding; teach " +
            "the loader (SparkEntry.events for ts) before any query runs")
      }
    }
  }

  test("events loader normalizes ts to µs TimestampType and keeps every row") {
    assume(haveTestdata, s"$dir absent")
    for (d <- allDirs if new java.io.File(s"$d/events.parquet").exists()) {
      val ev = SparkEntry.events(spark, d)
      assert(ev.schema("ts").dataType == TimestampType,
        s"$d: loader emitted ${ev.schema("ts").dataType} — downstream PIT/asof/" +
          "funnel queries all assume µs TimestampType")
    }
    val raw = spark.read.parquet(s"$dir/events.parquet").count()
    assert(SparkEntry.events(spark, dir)
      .filter(org.apache.spark.sql.functions.col("ts").isNotNull).count() == raw,
      "ts normalization dropped or nulled rows")
  }

  test("query registry and oracle map are mutually consistent") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    val orphans = os.diff(qs)
    assert(orphans.isEmpty, s"oracles with no registered query: $orphans")
    val rowsOnly = qs.diff(os)
    assert(rowsOnly.isEmpty,
      s"queries without an oracle (rows-only, weaker gate): $rowsOnly")
  }
}

/** The round-6 failure mode, replayed against Verify.run directly: a query
  * that throws must leave (a) its name in manifest.json, (b) a poison
  * parquet row the comparator reports, (c) an errors.json entry — never a
  * silent gap. */
class VerifyShrinkProofSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a throwing query yields manifest + poison row + error entry") {
    import org.apache.spark.sql.{DataFrame, SparkSession}
    val out = java.nio.file.Files.createTempDirectory("graft_verify_spec").toString
    val good: (SparkSession, String) => DataFrame =
      (s, _) => { import s.implicits._; Seq((1L, "a")).toDF("id", "v") }
    val bad: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("loader broke: ts encoding")
    val errors = Verify.run(spark, "/nonexistent", out,
      Map("q_good" -> good, "q_bad" -> bad), Map("q_good" -> "SELECT 1"))
    assert(errors.keySet == Set("q_bad"))
    assert(errors("q_bad").contains("loader broke"))
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/manifest.json"))
    assert(manifest.contains("\"q_bad\"") && manifest.contains("\"q_good\""))
    val poison = spark.read.parquet(s"$out/q_bad")
    assert(poison.columns.contains("__graft_error"))
    assert(poison.collect().head.getAs[String]("__graft_error").contains("loader broke"))
    val errJson = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/errors.json"))
    assert(errJson.contains("q_bad"))
    // and the good query still dumped normally
    assert(spark.read.parquet(s"$out/q_good").count() == 1)
    // every emitted artifact must parse as JSON (the checker json.loads
    // them; builder-authored SQL with tabs/newlines once risked this)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(mapper.readTree(manifest).size == 2)
    assert(mapper.readTree(errJson).get("q_bad").asText.contains("loader broke"))
    val oracleJson = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/oracle_sql.json"))
    assert(mapper.readTree(oracleJson).get("q_good").asText == "SELECT 1")
  }
}

/** The Bench output-line length bound (VERDICT r7 #7). */
class BenchLineSpec extends AnyFunSuite {
  private def entries(n: Int): Seq[(String, Double)] =
    // adversarially chatty values: every entry carries two non-zero
    // decimals; a sprinkle of >10 s entries like the real expensive tail
    (1 to n).map(i => s"q$i" -> (if (i % 40 == 0) 12.34 else 0.17 + (i % 83) * 0.01))

  test("short line stays inside the driver tail window at 175 queries") {
    val line = Bench.shortLine(entries(175))
    assert(line.length <= Bench.MaxShortLine, s"len=${line.length}")
    assert(line.startsWith("""{"metric":"total","value":"""))
    assert(line.endsWith("}"))
  }

  test("short line stays parseable with per-query keys at the current suite size") {
    // format history: the short line was once a five-rung ladder (qNN
    // keys at centiseconds, 'q' stripped, deciseconds, integer
    // deciseconds, then slowest-K + per-family others), each rung added
    // when the registry outgrew the last (166, ~180, 198 — the BENCH_r10
    // parsed-null regression — and ~240 queries). Past ~240 queries only
    // the last rung ever fired, so it is now the one format. The pins
    // that matter at the REAL registry size: per-query data never drops
    // to the keyless backstop, every query is accounted for, and the line
    // stays inside the 2000-char tail window. The full-name full-precision
    // line prints FIRST and lands in target/bench_full.json, so
    // BENCH_NOTES keeps centiseconds.
    val n = SparkEntry.queries.size // track the real registry, not a constant
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // a line "keeps per-query data" when every suite member is accounted
    // for: either its own key, or membership in the explicit others
    // remainder — keys + others.n must equal the suite size
    def accountedQueries(line: String): Int = {
      val node = mapper.readTree(line)
      val qs = node.get("queries")
      assert(qs != null, s"line lost the queries map: $line")
      // the remainder is per-family sub-objects — sum their n's
      val others = if (!node.has("others")) 0
        else {
          val it = node.get("others").elements()
          var s = 0
          while (it.hasNext) s += it.next().get("n").asInt
          s
        }
      qs.size + others
    }
    val line = Bench.shortLine(entries(n))
    assert(line.length <= Bench.MaxShortLine, s"len=${line.length}")
    assert(accountedQueries(line) == n,
      s"short line dropped query keys at $n queries")
    // EARLY WARNING at +10% registry growth — the r10 lesson is that the
    // first visible symptom of an outgrown format is a silently keyless
    // bench artifact. (The slowest-K format adapts its K, so this should
    // hold at any size — the assertion stays as the dead-man's tripwire.)
    val grown = (n * 1.1).toInt
    val gl = Bench.shortLine(entries(grown))
    assert(gl.length <= Bench.MaxShortLine && accountedQueries(gl) == grown,
      s"short line loses per-query data at $grown queries (registry $n +10%)")
  }

  test("rung 6: slowest-K keys + exact per-family others accounting at 300 queries") {
    val es = entries(300)
    val line = Bench.shortLine(es)
    assert(line.length <= Bench.MaxShortLine, s"len=${line.length}")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(line)
    assert(node.get("qunit").asText == "ds")
    val qs = node.get("queries")
    val others = node.get("others")
    val famNames = {
      val it = others.fieldNames(); val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next()
      b.result()
    }
    assert(famNames.toSet.subsetOf(Set("stream", "recipe", "batch")),
      s"unknown family in others: $famNames")
    val othersN = famNames.map(f => others.get(f).get("n").asInt).sum
    val othersSec = famNames.map(f => others.get(f).get("sec").asDouble).sum
    assert(qs.size + othersN == 300, "every query accounted for")
    assert(qs.size >= 150, s"rung 6 should keep most keys, kept ${qs.size}")
    // the expensive tail is always present: every 12.34 s entry has a key
    (40 to 300 by 40).foreach { i =>
      assert(qs.has(i.toString), s"slow query q$i missing from rung 6 keys")
      assert(qs.get(i.toString).asText == "123")
    }
    // totals stay exact seconds: value = keyed seconds + Σ others.*.sec
    val keyedSec = es.filter { case (k, _) => qs.has(k.stripPrefix("q")) }
      .map(_._2).sum
    assert(math.abs(node.get("value").asDouble - es.map(_._2).sum) < 0.01)
    assert(math.abs(keyedSec + othersSec - es.map(_._2).sum) < 0.05,
      "Σ others.*.sec must close the accounting")
    // per-family n/sec are internally consistent with the dropped set
    val dropped = es.filter { case (k, _) => !qs.has(k.stripPrefix("q")) }
    val byFam = dropped.groupBy { case (k, _) => SparkEntry.familyOf(k) }
    famNames.foreach { f =>
      assert(others.get(f).get("n").asInt == byFam(f).size, s"family $f count")
    }
    // failed-count suffix still composes
    val fl = mapper.readTree(Bench.shortLine(es, nFailed = 2))
    assert(fl.get("failed").asInt == 2)
  }

  test("rung 6 cannot hide a slow query: fastest-only remainder, family bounds hold") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // STRUCTURAL guarantee at any size: every dropped entry is <= every
    // kept entry (topKLine keeps the slowest-K by construction), so a
    // slow query can never land in the unkeyed remainder
    val es = entries(300)
    val node = mapper.readTree(Bench.shortLine(es))
    val qs = node.get("queries")
    val (kept, dropped) = es.partition { case (k, _) => qs.has(k.stripPrefix("q")) }
    assert(dropped.nonEmpty && kept.nonEmpty)
    assert(dropped.map(_._2).max <= kept.map(_._2).min + 1e-9,
      "a dropped entry outweighs a kept one — rung 6 hid a slow query")
    // FAMILY bounds on the realistic profile (pinned from BENCH_r11/r12:
    // streaming gates 3.3-9 s, recipe composites 2.4-7.5 s, batch core
    // ~0.7 s with a ~20% sub-0.3 s fast tail) at the REAL registry size,
    // with family-consistent values so the profile mirrors production:
    //   - "stream"/"recipe" must NOT appear in the remainder at all —
    //     every gate/composite is slow enough that slowest-K keeps it;
    //   - the "batch" remainder must be a genuine fast tail: mean <=
    //     0.5 s/query. (The r11-r12 total-fraction bound retired: it
    //     tripped mechanically as the registry grew even when the
    //     remainder stayed all-fast — the family mean is the actual
    //     audit question, "is anything slow hiding in there".)
    val n = SparkEntry.queries.size
    val profile = (1 to n).map { i =>
      val name = s"q$i"
      val v = SparkEntry.familyOf(name) match {
        case "stream" => 3.3 + (i % 6) * 1.0
        case "recipe" => 2.4 + (i % 5) * 1.0
        case _ =>
          if (i % 5 == 0) 0.10 + (i % 17) * 0.01
          else 0.45 + (i % 40) * 0.01
      }
      name -> v
    }
    val pn = mapper.readTree(Bench.shortLine(profile))
    if (pn.has("others")) {
      val others = pn.get("others")
      assert(!others.has("stream") && !others.has("recipe"),
        s"a streaming gate or recipe composite fell out of the keyed set: $others")
      if (others.has("batch")) {
        val b = others.get("batch")
        val mean = b.get("sec").asDouble / b.get("n").asInt
        assert(mean <= 0.5,
          f"batch remainder mean ${mean}%.2f s/query at $n queries — " +
            "something slow is hiding in the unkeyed tail")
      }
    }
  }

  test("family registry: every stream/recipe prefix names exactly one registered query") {
    // the familyOf prefix sets are hand-maintained next to the registry —
    // a renamed or dropped gate must break THIS spec, not silently turn
    // into a misclassified "batch" remainder entry
    val (stream, recipe) = SparkEntry.familyPrefixes
    val registered = SparkEntry.queries.keySet.map(_.takeWhile(_ != '_'))
    val stale = (stream ++ recipe).filterNot(registered.contains)
    assert(stale.isEmpty, s"family prefixes name unregistered queries: $stale")
    assert((stream & recipe).isEmpty, "a query cannot be in two families")
    // spot pins: the families mean what BENCH_NOTES says they mean
    assert(SparkEntry.familyOf("q187b_outer_join_rocksdb") == "stream")
    assert(SparkEntry.familyOf("q192_recipe_excise") == "recipe")
    assert(SparkEntry.familyOf("q1_pricing_summary") == "batch")
  }

  test("rung 4: integer deciseconds, qunit marker, total stays seconds") {
    // 210 adversarial entries (once the input that forced the retired
    // integer-decisecond rung): the one format keys the slow entries,
    // marks its unit and keeps the total in seconds
    val es = entries(210)
    val line = Bench.shortLine(es)
    assert(line.length <= Bench.MaxShortLine, s"len=${line.length}")
    assert(line.contains("\"qunit\":\"ds\""), "the short line must carry the unit marker")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(line)
    val qs = node.get("queries")
    // every entry is accounted for: its own key or the others remainder
    val others = node.get("others").elements()
    var othersN = 0
    while (others.hasNext) othersN += others.next().get("n").asInt
    assert(qs.size + othersN == 210, "every query accounted for")
    // every slow (12.34 s) entry is keyed, as integer deciseconds → 123
    (40 to 200 by 40).foreach { i =>
      assert(qs.has(i.toString), s"slow query q$i missing from the keys")
      assert(qs.get(i.toString).isIntegralNumber && qs.get(i.toString).asInt == 123)
    }
    // the headline total is still seconds at centisecond precision
    val expectedTotal = es.map(_._2).sum
    assert(math.abs(node.get("value").asDouble - expectedTotal) < 0.01,
      s"total must stay in seconds; got ${node.get("value").asDouble} vs $expectedTotal")
    // failed-count suffix composes with the qunit marker
    val withFailed = Bench.shortLine(es, nFailed = 3)
    val fn2 = mapper.readTree(withFailed)
    assert(fn2.get("failed").asInt == 3 && fn2.get("qunit").asText == "ds")
  }

  test("short line bound holds even at 250 queries (ladder bottom)") {
    val line = Bench.shortLine(entries(250))
    assert(line.length <= Bench.MaxShortLine, s"len=${line.length}")
  }

  test("failed queries never enter the queries map; counts surface in both lines") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val ok = entries(170)
    val full = Bench.fullLine(ok, "/root/testdata/sf0.1",
      failed = Seq("q9_asof_last_click", "q97_funnel"))
    val fn = mapper.readTree(full)
    assert(fn.get("queries").size == 170)
    assert(fn.get("failed").size == 2)
    assert(fn.get("failed").get(0).asText == "q9_asof_last_click")
    val short = Bench.shortLine(ok, nFailed = 2)
    assert(short.length <= Bench.MaxShortLine)
    val sn = mapper.readTree(short)
    assert(sn.get("failed").asInt == 2)
    assert(sn.get("queries").size == 170)
    // zero failures: no failed key at all (driver-side absence == clean)
    assert(!Bench.shortLine(ok).contains("failed"))
    assert(!Bench.fullLine(ok, "/x").contains("failed"))
    // sf path with a quote must not corrupt the JSON
    val weird = Bench.fullLine(ok, "/tmp/we\"ird")
    assert(mapper.readTree(weird).get("sf").asText == "/tmp/we\"ird")
  }

  test("short-line values are integer deciseconds: 0.123 s -> 1, 12.345 s -> 123") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val qs = mapper.readTree(Bench.shortLine(Seq("q1" -> 0.123, "q2" -> 12.345))).get("queries")
    assert(qs.get("1").isIntegralNumber && qs.get("1").asInt == 1)
    assert(qs.get("2").isIntegralNumber && qs.get("2").asInt == 123)
  }

  test("emitted lines are valid JSON with every query key (jackson parse)") {
    // the driver json.loads these lines — a quoting/precision bug here
    // silently nulls the round's BENCH parse, so parse-validate both forms
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    for (line <- Seq(Bench.shortLine(entries(175)),
        Bench.shortLine(entries(158)),
        Bench.fullLine(entries(158).map { case (k, v) => s"${k}_some_name" -> v },
          "/root/testdata/sf0.1"))) {
      val node = mapper.readTree(line)
      assert(node.get("metric").asText == "total")
      assert(node.get("value").isNumber)
      assert(node.get("queries").size == 158 || node.get("queries").size == 175)
    }
  }
}

/** Specs for the three round-8 robustness one-liners (VERDICT r8 "What's
  * wrong" #1) — each is a loaded-gun class-init/loader/measurement failure
  * mode this project has already been bitten by, so each fix gets a spec
  * pinning the behavior:
  *   (a) the events loader must fail AT THE LOADER, descriptively, on an
  *       unrecognized ts encoding (round-6 incident class);
  *   (b) sqlSimhashOracle must accept a valid all-pairs registration whose
  *       bits don't split into maxHamming+1 bands — the registry is eager,
  *       so an over-broad require there would throw at class-init and take
  *       down EVERY query (the q164 lexicon init-order incident class);
  *   (c) Bench's pass-2 cutoff median must ignore failed runs — fast
  *       failures would deflate it (needless tail re-runs), slow failures
  *       inflate it (suppressed legitimate ones). */
class RobustnessGateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("events loader throws descriptively on an unsupported ts type") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_badts").toString
    // a hypothetical future generation that writes ts as a string
    Seq((1L, "2024-01-01T00:00:00Z", 7L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException] { SparkEntry.events(spark, dir) }
    assert(e.getMessage.contains("unsupported type"),
      s"loader must name the failure, got: ${e.getMessage}")
    assert(e.getMessage.contains("StringType"),
      "loader must name the offending type so the fix is obvious")
  }

  test("sqlSimhashOracle: all-pairs skips band divisibility; banded enforces it") {
    // bits=24, maxHamming=6 → 7 bands: invalid for banding, VALID all-pairs
    val sql = SparkEntry.sqlSimhashOracle(bits = 24, maxHamming = 6, allPairs = true)
    assert(sql.nonEmpty)
    // the banded path keeps the divisibility contract (pigeonhole needs
    // equal-width bands)
    val e = intercept[IllegalArgumentException] {
      SparkEntry.sqlSimhashOracle(bits = 24, maxHamming = 6, allPairs = false)
    }
    assert(e.getMessage.contains("band"))
  }

  test("bench pass-2 cutoff: median over successful runs only") {
    // 5 successes around 1s + 3 fast failures: failures must not drag the
    // median down (cutoff stays 3×~1s, not 3×~0.01s)
    val ok = Seq(0.9, 1.0, 1.1, 1.2, 0.8).map((_, true))
    val fastFail = Seq(0.01, 0.02, 0.01).map((_, false))
    assert(Bench.pass2Cutoff(ok ++ fastFail, 1.0) == Bench.pass2Cutoff(ok, 1.0))
    assert(Bench.pass2Cutoff(ok, 1.0) == 3.0 * 1.0)
    // slow failures must not inflate it either
    val slowFail = Seq(60.0, 90.0).map((_, false))
    assert(Bench.pass2Cutoff(ok ++ slowFail, 1.0) == 3.0 * 1.0)
    // all-failures degenerates to the floor, never NaN/0-div
    assert(Bench.pass2Cutoff(fastFail, 1.5) == 1.5)
    assert(Bench.pass2Cutoff(Nil, 2.0) == 2.0)
  }
}
