package graft

import org.scalatest.funsuite.AnyFunSuite

/** Fixture-drift canary.
  *
  * The round-9 incident: the driver silently regenerated
  * events.parquet with isAdjustedToUTC=false timestamps, Spark read
  * `ts` as TIMESTAMP_NTZ, and five distant event-analytics queries
  * died at analysis while every named test stayed green. This spec
  * makes the NEXT such regeneration fail one named test that says
  * exactly which table and column drifted.
  *
  * It pins the ENGINE-VISIBLE schema (what Engine.table yields after
  * source-layer normalization: NTZ→TIMESTAMP cast, nanos widening),
  * not the raw parquet footer — a fixture change the source layer
  * absorbs is not drift worth failing on.
  */
class FixtureCanarySpec extends AnyFunSuite with SparkFixture {

  private val expected = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")

  private def visible(name: String): String =
    Engine.table(spark, sfDir, name).schema.fields
      .map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")

  for (name <- Engine.tableNames)
    test(s"fixture canary: $name engine-visible schema is pinned") {
      assert(visible(name) == expected(name),
        s"\nFixture drift in $name.parquet — if the new shape is intended, " +
          "update FixtureCanarySpec AND audit every query touching the " +
          "changed column; if not, the driver regenerated testdata under " +
          "the engine (round-9 NTZ incident).")
    }

  test("fixture canary: no timestamp column ever surfaces as TIMESTAMP_NTZ") {
    // Guards the normalization contract itself (Engine.tune conf +
    // Engine.table cast) — instant functions (unix_micros et al.)
    // reject NTZ at analysis time.
    for (name <- Engine.tableNames; f <- Engine.table(spark, sfDir, name).schema.fields)
      assert(f.dataType != org.apache.spark.sql.types.TimestampNTZType,
        s"$name.$f leaked TIMESTAMP_NTZ past source-layer normalization")
  }

  test("NTZ normalization refuses a non-UTC session instead of shifting instants") {
    // The fallback cast interprets NTZ wall time in the SESSION zone —
    // only the identity mapping under UTC. A session that bypassed
    // Engine.tune and runs non-UTC must fail loud, not silently shift
    // every instant by the zone offset.
    val dir = java.nio.file.Files.createTempDirectory("graft_ntz").toString
    spark.sql("select timestamp_ntz'2026-01-01 12:00:00' as ts, 1 as id")
      .write.mode("overwrite").parquet(s"$dir/ntztab.parquet")
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val e = intercept[IllegalArgumentException] {
        Engine.table(spark, dir, "ntztab")
      }
      assert(e.getMessage.contains("UTC") && e.getMessage.contains("ts"), e.getMessage)
      // under UTC the normalization is the exact identity instant map
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      val micros = Engine.table(spark, dir, "ntztab")
        .select(org.apache.spark.sql.functions.unix_micros(
          org.apache.spark.sql.functions.col("ts")))
        .collect()(0).getLong(0)
      assert(micros == 1767268800000000L) // 2026-01-01T12:00:00Z
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("fixture registry: prepare builds every fixture and reset deletes every one") {
    // Bench, PlanDump and QueryProfile time and plan after
    // prepareIndexFixtures, so no query may build a fixture lazily;
    // ClusterCheck rebuilds every fixture after resetFixtureMemo, so
    // none may survive it. The two queries are the only readers of
    // the allow-list and media fixtures.
    def onDisk: Set[String] =
      Option(SparkEntry.fixtureRoot.listFiles).toSet.flatten.map(_.getName)
    SparkEntry.prepareIndexFixtures(spark, sfDir)
    val prepared = onDisk
    assert(prepared.nonEmpty, "prepareIndexFixtures built nothing")
    Seq("q_sql_ann_filtered", "q_sql_media_dedup")
      .foreach(SparkEntry.queries(_)(spark, sfDir))
    assert(onDisk == prepared,
      s"built after prepareIndexFixtures: ${(onDisk -- prepared).toSeq.sorted}")
    SparkEntry.resetFixtureMemo()
    assert(onDisk.isEmpty, s"left on disk after resetFixtureMemo: ${onDisk.toSeq.sorted}")
  }

  test("cluster gate covers every SparkEntry query (cluster_check.json cannot drift)") {
    // The multi-JVM validation (graft.ClusterCheck) is only a gate if
    // it tracks the surface: a new query without a cluster_check row
    // has never executed across executor JVMs. This fails the suite
    // the moment a query lands without refreshing the artifact —
    // rerun `runMain graft.ClusterCheck` and commit cluster_check.json.
    val path = java.nio.file.Paths.get("cluster_check.json")
    assert(java.nio.file.Files.exists(path),
      "cluster_check.json missing from the repo root")
    val text = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
    val rStart = text.indexOf("\"results\":{")
    assert(rStart >= 0, "cluster_check.json has no results object")
    // keys are query names: flat extraction of "name":{ entries
    val covered = "\"([A-Za-z0-9_]+)\":\\{".r
      .findAllMatchIn(text.substring(rStart + "\"results\":".length))
      .map(_.group(1)).toSet
    val missing = SparkEntry.queries.keySet -- covered
    assert(missing.isEmpty,
      s"queries with no cluster-execution evidence: ${missing.toSeq.sorted.mkString(", ")} — " +
        "run `sbt \"runMain graft.ClusterCheck\"` and commit the refreshed cluster_check.json")
    assert(text.contains("\"all_match\":true"),
      "cluster_check.json records a mismatch — the committed artifact must be green")
  }
}
