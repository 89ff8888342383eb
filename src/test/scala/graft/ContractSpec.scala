package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards on the driver contract itself, so a refactor can't silently
  * break the smoke check or orphan an oracle. */
class ContractSpec extends AnyFunSuite {

  test("entry() returns rows on sf0.001 (the driver smoke)") {
    assert(SparkEntry.entry(TestSpark.session).count() > 0)
  }

  test("every oracle key names a registered query; keys are well-formed") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet.diff(qs)
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
    qs.foreach(k => assert(k.matches("[a-z][a-z0-9_]+"), s"odd key: $k"))
  }

  test("a Verify subset dump names exactly the queries it ran") {
    val out = java.nio.file.Files.createTempDirectory("graft-verify-subset")
    try {
      Verify.dump(TestSpark.session, "/root/testdata/sf0.001", out.toString,
        Some(Seq("q01_", "q18_")))
      import scala.jdk.CollectionConverters._
      def keys(file: String): Set[String] =
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(out.resolve(file).toFile).fieldNames().asScala.toSet
      val dirs = out.toFile.listFiles().filter(_.isDirectory).map(_.getName).toSet
      assert(dirs == Set("q01_agg_pushdown", "q18_percentiles"), s"result dirs: $dirs")
      assert(keys("oracle_sql.json") == dirs)
      assert(keys("exact_twins.json") == Set("q18_percentiles"))
    } finally graft.core.IO.deleteRecursively(out)
  }

  test("Q profile's job wall counts overlapping jobs once") {
    // [0,10) and [5,15) overlap, [6,8) sits inside both, [20,30) is
    // disjoint: 15 + 10 ms covered, not the 32 ms the durations sum to
    val spans = Seq((20L, 30L), (0L, 10L), (6L, 8L), (5L, 15L))
    assert(graft.tools.Q.coveredMs(spans) == 25L)
    assert(graft.tools.Q.coveredMs(Nil) == 0L)
  }

  test("Q profile's gap before a job is uncovered time, never negative") {
    // from t0 = 0: [2,10) after 2 ms idle; [5,15) starts inside it; [6,8)
    // inside both; [20,30) after the 5 ms nothing covered; an unended
    // job at 25 inside [20,30); [40,45) after 10 ms
    val spans = Seq((2L, 10L), (5L, 15L), (6L, 8L), (20L, 30L), (25L, -1L), (40L, 45L))
    assert(graft.tools.Q.gapsBeforeMs(0L, spans) == Seq(2L, 0L, 0L, 5L, 0L, 10L))
    assert(graft.tools.Q.gapsBeforeMs(0L, Nil) == Nil)
  }

  test("bench summary line stays far under the driver's stdout-tail budget") {
    val inv = """{"a":true,"b":true,"c":true,"d":true,"e":false}"""
    // worst realistic case: MANY regressed queries with long names —
    // the name list must cap at 5 so the line can't blow the budget
    val regressed = (1 to 40).map(i => f"q$i%02d_some_long_query_name_here")
    val line = Bench.summaryLine(12345.678901, 63, 0, 1.873421, regressed, inv,
      "/root/testdata/sf0.1", "/some/long/output/path/bench.json")
    assert(line.length < 1024, s"summary line too long (${line.length}B): $line")
    assert(line.startsWith("{") && line.endsWith("}"))
    assert(!line.contains("\n"))
    // must carry the driver-contract fields
    Seq("\"metric\":\"total\"", "\"value\":", "\"unit\":\"sec\"",
      "\"regressions_n\":40", "\"regressions\":[",
      "\"baseline_invariants\":", "\"sf\":").foreach(f =>
      assert(line.contains(f), s"missing $f in $line"))
    // exactly 5 names survive the cap
    assert(line.split("some_long_query_name_here").length - 1 == 5)
    // clean run: empty list, zero count
    val clean = Bench.summaryLine(60.0, 82, 0, 1.1, Nil, inv, "sf", "out")
    assert(clean.contains("\"regressions_n\":0") &&
      clean.contains("\"regressions\":[]"))
  }

  // Pinned PHYSICAL testdata schemas (raw spark.read, BEFORE the
  // Tables normalization layer): the round-10 driver regeneration
  // silently moved events.ts from TIMESTAMP(NANOS) to
  // TIMESTAMP(MICROS) mid-round and broke 20 tests with obscure
  // downstream errors. This pin makes the NEXT drift fail in exactly
  // one place with a readable before/after diff. If it fires: update
  // this snapshot AND audit core.Tables.events +
  // streaming.StreamingOps.readEvents for the new layout.
  private val pinnedSchemas: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey:INT", "r_name:STRING"),
    "nation" -> Seq("n_nationkey:INT", "n_name:STRING", "n_regionkey:INT"),
    "customer" -> Seq("c_custkey:BIGINT", "c_name:STRING",
      "c_nationkey:INT", "c_acctbal:DOUBLE", "c_mktsegment:STRING"),
    "supplier" -> Seq("s_suppkey:BIGINT", "s_name:STRING",
      "s_nationkey:INT", "s_acctbal:DOUBLE"),
    "part" -> Seq("p_partkey:BIGINT", "p_name:STRING", "p_brand:STRING",
      "p_type:STRING", "p_size:INT", "p_retailprice:DOUBLE"),
    "orders" -> Seq("o_orderkey:BIGINT", "o_custkey:BIGINT",
      "o_orderstatus:STRING", "o_totalprice:DOUBLE",
      "o_orderdate:TIMESTAMP_NTZ", "o_orderpriority:STRING"),
    "lineitem" -> Seq("l_orderkey:BIGINT", "l_partkey:BIGINT",
      "l_suppkey:BIGINT", "l_linenumber:INT", "l_quantity:DOUBLE",
      "l_extendedprice:DOUBLE", "l_discount:DOUBLE", "l_tax:DOUBLE",
      "l_returnflag:STRING", "l_linestatus:STRING",
      "l_shipdate:TIMESTAMP_NTZ"),
    "events" -> Seq("event_id:BIGINT", "ts:TIMESTAMP_NTZ",
      "user_id:BIGINT", "event_type:STRING", "value:DOUBLE",
      "props:STRING"),
    "documents" -> Seq("doc_id:BIGINT", "text:STRING", "lang:STRING",
      "source:STRING", "n_chars:BIGINT"),
    "embeddings" -> Seq("vec_id:BIGINT", "embedding:ARRAY<FLOAT>",
      "label:INT"))

  test("TESTDATA physical schemas match the pinned snapshot (drift alarm)") {
    val spark = TestSpark.session
    // same footer-read posture as Tables.events: a NANOS ts column
    // must surface as BIGINT here, not kill the scan
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val deltas = for {
      sf <- Seq("sf0.001", "sf0.01", "sf0.1")
      (table, expected) <- pinnedSchemas.toSeq.sortBy(_._1)
      observed = spark.read.parquet(s"/root/testdata/$sf/$table.parquet")
        .schema.fields.map(f => s"${f.name}:${f.dataType.sql}").toSeq
      if observed != expected
    } yield s"$sf/$table:\n  pinned:   ${expected.mkString(", ")}\n" +
      s"  observed: ${observed.mkString(", ")}"
    assert(deltas.isEmpty,
      "TESTDATA SCHEMA DRIFT — the driver regenerated parquet with a " +
        "new layout. Audit Tables.events/StreamingOps.readEvents, then " +
        s"refresh the pin:\n${deltas.mkString("\n")}")
  }

  test("oracle SQL is single-statement and DuckDB-parameter-free") {
    // strip single-quoted string literals first: a '?' inside one is
    // regex/text content (t06d's pre-tokenizer pattern), not a DuckDB
    // parameter placeholder — only a BARE '?' is the bug this lints
    def bare(sql: String): String = sql.replaceAll("'[^']*'", "''")
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(!bare(sql).contains(";"), s"$k: multi-statement oracle")
      assert(!bare(sql).contains("?"), s"$k: parameter placeholder in oracle")
      assert(sql.trim.toUpperCase.startsWith("WITH") ||
        sql.trim.toUpperCase.startsWith("SELECT"), s"$k: not a query")
    }
  }
}
