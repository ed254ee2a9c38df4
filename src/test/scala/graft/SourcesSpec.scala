package graft

import graft.sources.{Connections, ReadFiles, ScriptRunner}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class SourcesSpec extends AnyFunSuite with SparkFixture {

  // Semantics pinned by the reference's sqlparser behavior test
  // (/root/reference/src/planner/test_sqlparser_behavior.rs:7-27).
  test("script splitting: statements, comments, quoted semicolons") {
    val script =
      """-- leading comment
        |select 1;
        |select 'a;b' as s; -- trailing comment
        |
        |select 2""".stripMargin
    val stmts = ScriptRunner.split(script)
    assert(stmts.size == 3)
    assert(stmts(1).contains("'a;b'"))
  }

  test("script splitting: '' escape inside string literal") {
    val stmts = ScriptRunner.split("select 'it''s; fine'; select 2")
    assert(stmts.size == 2)
    assert(stmts.head.contains("it''s; fine"))
  }

  test("read_files parquet rewrite answers the reference's simple query shape") {
    val df = ReadFiles.sql(spark,
      s"select l_orderkey, l_quantity from read_files('$sfDir/lineitem.parquet') where l_orderkey < 3")
    assert(df.count() > 0)
    assert(df.columns.toSeq == Seq("l_orderkey", "l_quantity"))
  }

  test("read_files with named connection resolves relative paths") {
    val conns = Connections.fromRoots(Map("default" -> "", "test_fs" -> sfDir))
    val df = ReadFiles.sql(spark,
      "select count(*) as n from read_files('region.parquet', connection=>'test_fs')", conns)
    assert(df.collect()(0).getLong(0) == 5)
    // a named connection missing from the map fails loud, naming the
    // known ones — through read_files and through a corpus TVF
    Seq("select * from read_files('region.parquet', connection=>'tset_fs')",
        "select * from corpus_quality('documents.parquet', connection=>'tset_fs')")
      .foreach { stmt =>
        val e = intercept[Exception](ReadFiles.sql(spark, stmt, conns))
        assert(e.getMessage.contains("unknown connection 'tset_fs' (known: default, test_fs)"),
          e.getMessage)
      }
  }

  // Mirror of the reference's S3 connection config
  // (/root/reference/src/config/worker.rs:116-136): endpoint, creds,
  // bucket, root, region, force_path_style — mapped to per-bucket s3a
  // Hadoop conf. (The live wire exercise is the MiniS3 end-to-end test
  // below; this one pins the conf-mapping contract in isolation.)
  test("S3 connection maps to per-bucket s3a conf and s3a:// URIs") {
    val conns = Connections(Map(
      "default" -> graft.sources.Connection.Fs(""),
      "minio" -> graft.sources.Connection.S3(
        endpoint = "http://minio.local:9000",
        accessKeyId = "minioadmin",
        secretAccessKeyId = "miniopass",
        bucket = "graft-data",
        root = "warehouse",
        region = "us-east-1",
        forcePathStyle = true)))
    assert(conns.resolve(Some("minio"), "sales/part-0.parquet") ==
      "s3a://graft-data/warehouse/sales/part-0.parquet")
    assert(conns.resolve(Some("minio"), "s3a://other/abs.parquet") ==
      "s3a://other/abs.parquet")
    conns.applyTo(spark)
    val hc = spark.sparkContext.hadoopConfiguration
    assert(hc.get("fs.s3a.bucket.graft-data.endpoint") == "http://minio.local:9000")
    assert(hc.get("fs.s3a.bucket.graft-data.access.key") == "minioadmin")
    assert(hc.get("fs.s3a.bucket.graft-data.secret.key") == "miniopass")
    assert(hc.get("fs.s3a.bucket.graft-data.path.style.access") == "true")
    assert(hc.get("fs.s3a.bucket.graft-data.endpoint.region") == "us-east-1")
  }

  // The reference RUNS its S3 path against a live Minio
  // (docker-compose.yml + s3_worker_config.json); this is the engine's
  // equivalent exercise: a real in-process S3 endpoint (MiniS3, SigV4
  // verified per request), the s3a scheme bound to S3LiteFileSystem
  // (no AWS SDK in the sandbox), and Spark's parquet write + the
  // read_files TVF flowing through it end-to-end.
  test("object store end-to-end: parquet write + read_files through a live SigV4 endpoint") {
    val s3 = new MiniS3("graftkey", "graftsecret")
    s3.start()
    try {
      val conns = Connections(Map(
        "default" -> graft.sources.Connection.Fs(""),
        "minio" -> graft.sources.Connection.S3(
          endpoint = s"http://127.0.0.1:${s3.port}",
          accessKeyId = "graftkey",
          secretAccessKeyId = "graftsecret",
          bucket = "graft-live",
          root = "warehouse")))
      conns.applyTo(spark)
      val local = Engine.table(spark, sfDir, "region")
      // WRITE: the full FileOutputCommitter dance — mkdirs, task temp
      // files, dir renames (S3 COPY+DELETE), _SUCCESS — over the wire
      local.write.mode("overwrite").parquet("s3a://graft-live/warehouse/region")
      assert(s3.keys.exists(k =>
        k.startsWith("graft-live/warehouse/region/part-") && k.endsWith(".parquet")),
        s"no committed part file in ${s3.keys}")
      assert(s3.keys.contains("graft-live/warehouse/region/_SUCCESS"))
      assert(!s3.keys.exists(_.contains("_temporary")),
        s"committer temp litter survived: ${s3.keys.filter(_.contains("_temporary"))}")
      // READ back through the NAMED connection: relative-path
      // resolution, per-bucket creds, footer + row-group ranged GETs
      val got = ReadFiles.sql(spark,
        "select r_regionkey, r_name from read_files('region', connection=>'minio') " +
          "order by r_regionkey", conns)
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      val want = local.orderBy("r_regionkey")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(got.size == 5 && got == want)
      assert(s3.authFailures == 0, "a request failed SigV4 verification")
      // and the endpoint actually REJECTS a bad secret (auth is real,
      // not decorative) — fresh uncached FS instance so the bad conf
      // is actually consulted
      val badConf = new org.apache.hadoop.conf.Configuration(
        spark.sparkContext.hadoopConfiguration)
      badConf.set("fs.s3a.bucket.graft-live.secret.key", "WRONG")
      val badFs = org.apache.hadoop.fs.FileSystem.newInstance(
        java.net.URI.create("s3a://graft-live/"), badConf)
      try {
        val e = intercept[java.io.IOException] {
          badFs.getFileStatus(new org.apache.hadoop.fs.Path(
            "s3a://graft-live/warehouse/region/_SUCCESS"))
        }
        assert(e.getMessage.contains("403"), e.getMessage)
        assert(s3.authFailures > 0)
      } finally badFs.close()
    } finally s3.stop()
  }

  test("injected read_files TVF resolves natively, with named args and connections") {
    val df = spark.sql(
      s"select r_regionkey, r_name from read_files('$sfDir/region.parquet') order by r_regionkey")
    assert(df.count() == 5)
    // named connection, scoped to the statement by ReadFiles.sql
    val viaConn = ReadFiles.sql(spark,
      "select count(*) as n from read_files('nation.parquet', connection=>'tvf_fs')",
      Connections.fromRoots(Map("default" -> "", "tvf_fs" -> sfDir)))
    assert(viaConn.collect()(0).getLong(0) == 25)
    // filters still push into the scan through the TVF plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = spark.sql(
        s"select l_orderkey from read_files('$sfDir/lineitem.parquet') where l_orderkey < 5")
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [IsNotNull(l_orderkey), LessThan(l_orderkey,5)]"), plan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("injected read_files TVF rejects non-literal args with a clear error") {
    val e = intercept[Exception] {
      spark.sql("select * from read_files(42)").collect()
    }
    assert(e.getMessage.contains("read_files"), e.getMessage)
    // a misspelled option fails loud, naming the allowed set
    val typo = intercept[Exception] {
      spark.sql(s"select * from read_files('$sfDir/region.parquet', mergeshema=>'true')")
    }
    assert(typo.getMessage.contains("read_files: unknown option(s) mergeshema " +
      "(expected connection, format, header, inferschema, mergeschema, mode, rowid)"),
      typo.getMessage)
    // every option reaches a bare spark.sql too
    val withRowId = spark.sql(
      s"select _file, _row_id from read_files('$sfDir/region.parquet', rowid=>'true')")
    assert(withRowId.collect().map(_.getLong(1)).sorted.toSeq == (0L until 5L).toSeq)
  }

  test("read_files inside a string literal is not rewritten") {
    // `read_files(' as a, '` spans the two literals below: text that
    // looks like a call inside a literal must stay data.
    val df = ReadFiles.sql(spark,
      s"select 'read_files(' as a, '/tmp/x.parquet' as b, r_regionkey " +
        s"from read_files('$sfDir/region.parquet') order by r_regionkey")
    val rows = df.collect()
    assert(rows.length == 5)
    assert(rows(0).getString(0) == "read_files(")
    assert(rows(0).getString(1) == "/tmp/x.parquet")
  }

  test("read_files drops its temp views after execution") {
    val before = spark.catalog.listTables().filter("name like 'read_files_%'").count()
    ReadFiles.sql(spark,
      s"select count(*) as n from read_files('$sfDir/region.parquet')").collect()
    val after = spark.catalog.listTables().filter("name like 'read_files_%'").count()
    assert(after == before)
  }

  // SURVEY §1's ingestion-widening stance (the reference decodes
  // Arrow UInt* columns; Spark's parquet reader widens them to the
  // next signed type, UInt64 → Decimal(20,0)) — pinned on a committed
  // pyarrow-written fixture.
  test("unsigned parquet ints widen to signed/decimal on read") {
    val df = spark.read.parquet(
      getClass.getResource("/uints.parquet").getPath)
    val types = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(types("u8") == "smallint")
    assert(types("u16") == "int")
    assert(types("u32") == "bigint")
    assert(types("u64") == "decimal(20,0)")
    val row = df.orderBy(org.apache.spark.sql.functions.col("u8").desc).collect()(0)
    assert(row.getShort(0) == 255)
    assert(row.getInt(1) == 65535)
    assert(row.getLong(2) == 4294967295L)
    assert(row.getDecimal(3).toString == "18446744073709551615")
  }

  test("float16 parquet widens to float through read_files (WidenedParquet fallback)") {
    import org.apache.spark.sql.functions.col
    val path = getClass.getResource("/unsigned.parquet").getPath
    // Spark's own reader must still reject it (the fallback's trigger).
    intercept[Throwable] { spark.read.parquet(path).schema }
    val df = ReadFiles.sql(spark,
      s"select id, u8, u32, u64, f16 from read_files('$path') order by id")
    val types = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(types("f16") == "float")
    assert(types("u8") == "smallint" && types("u32") == "bigint" &&
      types("u64") == "decimal(20,0)")
    // f16 = (id % 64) / 2 - 8 by fixture construction — exact halves.
    val rows = df.limit(70).collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getFloat(4) == ((id % 64) / 2.0f - 8.0f), s"id=$id")
    }
    assert(rows.map(_.getLong(0)).toSet == (0L until 70L).toSet)
  }

  test("read_files on FLOAT16 parquet starts no analysis job and no failed job") {
    val path = getClass.getResource("/unsigned.parquet").getPath
    val (df, jobs, failed) = jobsDuring(ReadFiles.sql(spark,
      s"select id, f16 from read_files('$path') where u8 > 127"))
    assert(jobs == 0, s"analysis started $jobs Spark job(s)")
    assert(failed == 0, s"$failed analysis job(s) failed")
    assert(df.schema("f16").dataType.simpleString == "float")
  }

  test("read_files on plain parquet starts no analysis job") {
    val (df, jobs, _) = jobsDuring(ReadFiles.sql(spark,
      s"select l_orderkey, l_quantity from read_files('$sfDir/lineitem.parquet') " +
        "where l_orderkey < 3"))
    assert(jobs == 0, s"analysis started $jobs Spark job(s)")
    assert(df.columns.toSeq == Seq("l_orderkey", "l_quantity"))
  }

  test("footer schema equals Spark's inferred schema: tables, bucketed stores, tombstones") {
    import graft.sources.Parquet
    def same(paths: String*): Unit =
      assert(Parquet.schema(spark, paths: _*) == spark.read.parquet(paths: _*).schema,
        paths.mkString(", "))
    Engine.tableNames.foreach(t => same(s"$sfDir/$t.parquet"))

    val dir = java.nio.file.Files.createTempDirectory("graft_footer").toString
    graft.pipeline.TextIndex.write(
      Engine.table(spark, sfDir, "documents").select("doc_id", "text"), dir, buckets = 4)
    graft.pipeline.TextIndex.delete(spark, dir, Seq(1L))
    graft.pipeline.TextIndex.delete(spark, dir, Seq(2L, 3L))
    val store = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("postings")).max
    val postings = Parquet.schema(spark, s"$dir/$store")
    assert(postings.fieldNames.last == "bucket", "partition column not appended")
    same(s"$dir/$store")
    same(s"$dir/$store/_skips")
    val tombs = new java.io.File(s"$dir/tombstones").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted.toSeq
    assert(tombs.size == 2)
    same(tombs: _*)
    same(tombs.reverse: _*)
  }

  test("no spark.read.parquet outside the footer route") {
    // Schema inference starts a Spark job; graft.sources.Parquet.read is
    // the one route from a parquet path to a DataFrame. The only other
    // inferring read is read_files' explicit mergeschema=>'true' branch.
    val inferring = """\.read(\s*\.option\([^)]*\))*\s*\.parquet\(""".r
    def scan(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scan)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val offenders = scan(new java.io.File("src/main/scala"))
      .filterNot(_.getName == "Parquet.scala")
      .flatMap { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        inferring.findAllMatchIn(src)
          .filterNot(_.matched.contains("\"mergeSchema\", \"true\""))
          .map(m => s"${f.getPath}:${src.take(m.start).count(_ == '\n') + 1}")
      }
    assert(offenders.isEmpty,
      s"read parquet through graft.sources.Parquet.read: ${offenders.mkString(", ")}")
  }

  test("HalfToFloat decodes every IEEE binary16 class") {
    import graft.functions.NativeExpressions.HalfToFloat.toFloat
    assert(toFloat(0x0000) == 0.0f && (1.0f / toFloat(0x0000)).isPosInfinity)
    assert(toFloat(0x8000) == -0.0f && (1.0f / toFloat(0x8000)).isNegInfinity)
    assert(toFloat(0x3C00) == 1.0f)
    assert(toFloat(0xC000) == -2.0f)
    assert(toFloat(0x7BFF) == 65504.0f)           // max finite
    assert(toFloat(0x0400) == 6.103515625e-5f)    // min normal 2^-14
    assert(toFloat(0x0001) == 5.9604644775390625e-8f) // min subnormal 2^-24
    assert(toFloat(0x03FF) == 6.097555160522461e-5f)  // max subnormal
    assert(toFloat(0x7C00).isPosInfinity && toFloat(0xFC00).isNegInfinity)
    assert(toFloat(0x7E00).isNaN)
    assert(toFloat(0x3555) == 0.33325195f)        // 1/3 rounded to f16
  }

  test("read_files rowid option exposes stable (file, row position) identity") {
    import org.apache.spark.sql.functions.col
    val df = ReadFiles.sql(spark,
      s"select r_regionkey, _file, _row_id from read_files('$sfDir/region.parquet', rowid=>'true')")
    val rows = df.collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getString(1).endsWith("region.parquet")))
    // physical positions: a permutation of 0..n-1, and rereading gives
    // the SAME ids (deterministic identity, unlike
    // monotonically_increasing_id)
    assert(rows.map(_.getLong(2)).sorted.toSeq == (0L until 5L).toSeq)
    val again = ReadFiles.sql(spark,
      s"select r_regionkey, _row_id from read_files('$sfDir/region.parquet', rowid=>'true')")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(again(r.getInt(0)) == r.getLong(2)))
  }

  test("read_files mode option: dropmalformed skips bad JSON lines, failfast raises") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_malformed").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$tmp/d.json"),
      """{"id": 1, "s": "ok"}
        |{not json at all
        |{"id": 3, "s": "also ok"}
        |""".stripMargin)
    val dropped = ReadFiles.sql(spark,
      s"select id, s from read_files('$tmp/d.json', mode=>'dropmalformed') order by id")
      .collect()
    assert(dropped.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // permissive (default): the malformed line survives as nulls
    val permissive = ReadFiles.sql(spark,
      s"select id, s from read_files('$tmp/d.json')").collect()
    assert(permissive.length == 3)
    assert(permissive.count(_.isNullAt(0)) == 1)
    intercept[Throwable] {
      ReadFiles.sql(spark,
        s"select id, s from read_files('$tmp/d.json', mode=>'failfast')").collect()
    }
  }

  test("read_files mergeschema unions drifted parquet schemas") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_drift").toString
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$tmp/d/p1")
    Seq((2L, "b", 3.5)).toDF("id", "s", "extra").write.parquet(s"$tmp/d/p2")
    val df = ReadFiles.sql(spark,
      s"select id, s, extra from read_files('$tmp/d/*', mergeschema=>'true') order by id")
    val rows = df.collect()
    assert(rows.length == 2)
    assert(rows(0).isNullAt(2)) // drifted column null for the old file
    assert(rows(1).getDouble(2) == 3.5)
  }

  test("read_files csv and json formats") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_fmt").toString
    val docs = Engine.table(spark, sfDir, "documents").select("doc_id", "lang", "n_chars").limit(50)
    docs.write.mode("overwrite").option("header", "true").csv(s"$tmp/docs_csv")
    docs.write.mode("overwrite").json(s"$tmp/docs_json")
    val fromCsv = ReadFiles.sql(spark,
      s"select count(*) as n from read_files('$tmp/docs_csv', format=>'csv')")
    val fromJson = ReadFiles.sql(spark,
      s"select count(*) as n from read_files('$tmp/docs_json', format=>'json')")
    assert(fromCsv.collect()(0).getLong(0) == 50)
    assert(fromJson.collect()(0).getLong(0) == 50)
  }

  test("multiple read_files calls in one statement") {
    val df = ReadFiles.sql(spark,
      s"""select c.c_custkey, n.n_name
         |from read_files('$sfDir/customer.parquet') c
         |join read_files('$sfDir/nation.parquet') n on c.c_nationkey = n.n_nationkey
         |where c.c_custkey < 5""".stripMargin)
    assert(df.count() == 5) // c_custkey starts at 0
  }

  test("read_files orc format: explicit and extension-inferred") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_orc").toString
    Engine.table(spark, sfDir, "nation").write.mode("overwrite").orc(s"$tmp/nation_orc")
    val explicitFmt = ReadFiles.sql(spark,
      s"select count(*) as n from read_files('$tmp/nation_orc', format=>'orc')")
    assert(explicitFmt.collect()(0).getLong(0) == 25)
    // extension-inferred: a *.orc glob needs no format=> argument
    val inferred = ReadFiles.sql(spark,
      s"select count(*) as n from read_files('$tmp/nation_orc/*.orc')")
    assert(inferred.collect()(0).getLong(0) == 25)
    // native TVF path too
    val viaTvf = spark.sql(
      s"select n_name from read_files('$tmp/nation_orc', format=>'orc') order by n_nationkey")
    assert(viaTvf.count() == 25)
  }

  test("bucketed tables: same rows as source, re-registerable from surviving files") {
    val base = java.nio.file.Files.createTempDirectory("graft_bkt_spec").toString
    val (oTbl, lTbl) = graft.sources.Bucketing.coLocatedOrdersLineitem(
      spark, sfDir, base, nBuckets = 4, suffix = "_spec")
    // layout changes the plan, never the rows
    assert(spark.table(oTbl).count() == Engine.table(spark, sfDir, "orders").count())
    assert(spark.table(lTbl).count() == Engine.table(spark, sfDir, "lineitem").count())
    val viaBuckets = spark.table(lTbl).hint("merge")
      .join(spark.table(oTbl), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderkey").count().orderBy("o_orderkey").collect()
    val plain = Engine.table(spark, sfDir, "lineitem")
      .join(Engine.table(spark, sfDir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderkey").count().orderBy("o_orderkey").collect()
    assert(viaBuckets.sameElements(plain))
    // the files are plain parquet: rewriting the catalog entry over the
    // SAME surviving files (the new-session story) yields the same table
    spark.sql(s"DROP TABLE IF EXISTS `$oTbl`")
    val rereg = spark.read.parquet(s"$base/orders")
    assert(rereg.count() == plain.length ||
      rereg.count() == Engine.table(spark, sfDir, "orders").count())
  }

  test("corpus_search TVF: BM25 top-k through SQL equals the Scala API") {
    val viaSql = spark.sql(
      s"SELECT doc_id, score FROM corpus_search('$sfDir/documents.parquet', " +
        "'spark hash window', k=>5)")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaSql.length == 5)
    val viaApi = graft.pipeline.TextAnalysis.bm25(
        Engine.table(spark, sfDir, "documents"), Seq("spark", "hash", "window"))
      .orderBy(col("score").desc, col("doc_id")).limit(5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaSql == viaApi)
    // scores descend; a malformed call fails loud
    assert(viaSql.map(_._2).sliding(2).forall(p => p.head >= p.last))
    intercept[Exception] {
      spark.sql("SELECT * FROM corpus_search('only-one-arg')").collect()
    }
    // pointed at a persisted TextIndex layout, the TVF routes to the
    // pruned-postings serving path and the scores are identical
    val idx = java.nio.file.Files.createTempDirectory("graft_tvf_idx").toString
    graft.pipeline.TextIndex.write(
      Engine.table(spark, sfDir, "documents").select("doc_id", "text"), idx)
    val viaIndex = spark.sql(
      s"SELECT doc_id, score FROM corpus_search('$idx', 'spark hash window', k=>5)")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIndex == viaSql)

    // phrase mode: corpus-scan route ≡ Scala phraseCounts ≡ the
    // index's positional-postings route; unknown mode fails loud
    val phraseSql = spark.sql(
      s"SELECT doc_id, n_hits FROM corpus_search('$sfDir/documents.parquet', " +
        "'table scan', k=>50, mode=>'phrase')")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val phraseApi = graft.pipeline.TextAnalysis.phraseCounts(
        Engine.table(spark, sfDir, "documents"), "table scan", 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(phraseSql == phraseApi)
    val phraseIdx = spark.sql(
      s"SELECT doc_id, n_hits FROM corpus_search('$idx', 'table scan', k=>50, mode=>'phrase')")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(phraseIdx == phraseSql)
    assert(phraseSql.nonEmpty, "phrase fixture must match at least one doc")
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_search('$idx', 'x', mode=>'regex')").collect()
    }
    assert(e.getMessage.contains("unknown mode"))
    // a typo'd OPTION KEY must fail loud too — mode changes result
    // semantics, so silently defaulting would serve wrong-shape rows
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_search('$idx', 'x', mdoe=>'phrase')").collect()
    }
    assert(e2.getMessage.contains("unknown option"))

    // batch mode: a (query_id, query) parquet of external queries —
    // corpus route (bm25Many) and index route (searchMany) must agree
    // row-for-row, and each query's rows must equal its single-query
    // call (batch composition changes nothing)
    import spark.implicits._
    val qDir = java.nio.file.Files.createTempDirectory("graft_tvf_q").toString + "/q"
    Seq((1L, "spark hash window"), (2L, "join scan"), (3L, "zzz_absent_term"))
      .toDF("query_id", "query").coalesce(1).write.parquet(qDir)
    val batchCorpus = spark.sql(
      s"SELECT * FROM corpus_search('$sfDir/documents.parquet', queries=>'$qDir', k=>5)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val batchIndex = spark.sql(
      s"SELECT * FROM corpus_search('$idx', queries=>'$qDir', k=>5)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(batchCorpus == batchIndex)
    assert(batchCorpus.map(_._1).distinct.sorted == Seq(1L, 2L)) // absent-term query: no rows
    val single1 = spark.sql(
      s"SELECT doc_id, score, n_terms FROM corpus_search('$sfDir/documents.parquet', " +
        "'spark hash window', k=>5)")
      .collect().map(r => (1L, r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
      .sortBy(_._2)
    assert(batchCorpus.filter(_._1 == 1L) == single1)
    // batch phrase mode: per-phrase legs ≡ single-phrase calls
    val pDir = java.nio.file.Files.createTempDirectory("graft_tvf_p").toString + "/q"
    Seq((7L, "table scan"), (8L, "zzz absent"))
      .toDF("query_id", "query").coalesce(1).write.parquet(pDir)
    val batchPhrase = spark.sql(
      s"SELECT * FROM corpus_search('$idx', queries=>'$pDir', k=>50, mode=>'phrase')")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(batchPhrase.map(_._1).distinct == Seq(7L))
    assert(batchPhrase.map(t => (t._2, t._3)).sortBy(_._1) == phraseSql.sortBy(_._1))
  }

  test("corpus_search/corpus_hybrid maxscore knobs: statement-scoped, route observable, loud misuse") {
    val T = graft.pipeline.TextIndex
    // fine-blocked index so pruning has blocks to skip at spec scale
    val idx = java.nio.file.Files.createTempDirectory("graft_tvf_ms").toString
    T.write(Engine.table(spark, sfDir, "documents").select("doc_id", "text"),
      idx, buckets = 16, blockSize = 4)
    def rows(sql: String): (Seq[String], String) = {
      val r = spark.sql(sql).collect().map(_.mkString("|")).toSeq
      (r, T.lastRoute)
    }
    val q = "'spark data scan'"
    // the TVF scopes maxscore/theta_rows only; the floor is forced by
    // the spec (session conf, unset below) so the route can engage on
    // the fixture corpus
    spark.conf.set("graft.textindex.maxscorePostingsFloor", "0")
    try {
      val (base, baseRoute) = rows(
        s"SELECT * FROM corpus_search('$idx', $q, k=>10)")
      assert(baseRoute.startsWith("maxscore"),
        s"fixture must engage pruning, got $baseRoute")
      // maxscore=>'off' disables the pruned route for THIS statement,
      // rows identical (exactness is route-independent)
      val (off, offRoute) = rows(
        s"SELECT * FROM corpus_search('$idx', $q, k=>10, maxscore=>'off')")
      assert(offRoute == "exhaustive:disabled", offRoute)
      assert(off == base, "route must never change results")
      assert(spark.conf.getOption("graft.textindex.maxscore").isEmpty,
        "maxscore=>off leaked into the session")
      // theta_rows deepens the θ prefix, still pruned, rows identical,
      // and the conf is restored after the statement
      val (deep, deepRoute) = rows(
        s"SELECT * FROM corpus_search('$idx', $q, k=>10, theta_rows=>32)")
      assert(deepRoute.startsWith("maxscore"), deepRoute)
      assert(deep == base)
      assert(spark.conf.getOption("graft.textindex.maxscoreThetaRows").isEmpty,
        "theta_rows leaked into the session")
      // a pre-existing session value is RESTORED, not unset
      spark.conf.set("graft.textindex.maxscore", "true")
      rows(s"SELECT * FROM corpus_search('$idx', $q, k=>10, maxscore=>'off')")
      assert(spark.conf.get("graft.textindex.maxscore") == "true",
        "statement scope must restore the prior session value")
      spark.conf.unset("graft.textindex.maxscore")
      // corpus_hybrid: the knobs scope its lexical leg the same way
      val vecs = s"$sfDir/embeddings.parquet"
      val dim = spark.read.parquet(vecs)
        .select(org.apache.spark.sql.functions.size(col("embedding")))
        .head().getInt(0)
      val emb = Array.fill(dim)("0.1").mkString(",")
      val (hyb, hybRoute) = rows(
        s"SELECT * FROM corpus_hybrid('$idx', '$vecs', $q, " +
          s"embedding=>'$emb', maxscore=>'off')")
      assert(hybRoute == "exhaustive:disabled", hybRoute)
      val (hybOn, _) = rows(
        s"SELECT * FROM corpus_hybrid('$idx', '$vecs', $q, embedding=>'$emb')")
      assert(hyb == hybOn, "lexical route must never change fused results")
      assert(spark.conf.getOption("graft.textindex.maxscore").isEmpty)
    } finally spark.conf.unset("graft.textindex.maxscorePostingsFloor")
    // misuse fails loud: bad value, wrong mode, plain-corpus path
    val e1 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_search('$idx', $q, maxscore=>'maybe')")
        .collect()
    }
    assert(e1.getMessage.contains("on or off"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_search('$idx', 'table scan', " +
        "mode=>'phrase', theta_rows=>64)").collect()
    }
    assert(e2.getMessage.contains("mode=>'bm25'"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_search('$sfDir/documents.parquet', " +
        s"$q, maxscore=>'on')").collect()
    }
    assert(e3.getMessage.contains("plain corpus"), e3.getMessage)
    val e4 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_search('$idx', $q, theta_rows=>0)")
        .collect()
    }
    assert(e4.getMessage.contains(">= 1"), e4.getMessage)
  }

  test("maxscore knobs are thread-scoped: a statement planned WHILE a neighbor's knob is live never observes it") {
    val T = graft.pipeline.TextIndex
    val idx = java.nio.file.Files.createTempDirectory("graft_tvf_msc").toString
    T.write(Engine.table(spark, sfDir, "documents").select("doc_id", "text"),
      idx, buckets = 16, blockSize = 4)
    spark.conf.set("graft.textindex.maxscorePostingsFloor", "0")
    try {
      // QueryService plans concurrent statements on ONE shared session:
      // thread A holds its maxscore=>'off' scope OPEN (mid-plan) while
      // this thread plans a knob-less search. A session-conf
      // set/finally-restore would leak 'false' into B's route decision
      // (and an interleaved restore could pin it into the session); the
      // per-thread override scope must keep the two statements blind to
      // each other and the session conf untouched throughout.
      val aInScope = new java.util.concurrent.CountDownLatch(1)
      val bDone = new java.util.concurrent.CountDownLatch(1)
      @volatile var routeA = ""
      @volatile var errA: Throwable = null
      val tA = new Thread(() => {
        try graft.sources.TvfArgs.withMaxScoreConfs(
          "spec", spark, Map("maxscore" -> "off"), isIndex = true) {
            T.search(spark, idx, Seq("spark", "data", "scan"), 5).collect()
            routeA = T.lastRoute
            aInScope.countDown()
            bDone.await(30, java.util.concurrent.TimeUnit.SECONDS); ()
          }
        catch { case t: Throwable => errA = t; aInScope.countDown() }
      })
      tA.start()
      assert(aInScope.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(errA == null, s"thread A failed: $errA")
      val b = T.search(spark, idx, Seq("spark", "data", "scan"), 5)
      b.collect()
      val routeB = T.lastRoute
      bDone.countDown()
      tA.join(60000)
      assert(routeA == "exhaustive:disabled", routeA)
      assert(routeB.startsWith("maxscore"),
        s"neighbor observed the other statement's knob: $routeB")
      assert(spark.conf.getOption("graft.textindex.maxscore").isEmpty,
        "knob reached the shared session conf")
    } finally spark.conf.unset("graft.textindex.maxscorePostingsFloor")
  }

  test("corpus_dedup TVF: plain and band-index routes agree in self and batch modes") {
    import spark.implicits._
    val docs = Engine.table(spark, sfDir, "documents").select("doc_id", "text")
    // self mode over a plain corpus = the exact inverted-index join
    val selfPlain = spark.sql(
      s"SELECT * FROM corpus_dedup('$sfDir/documents.parquet')")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val viaApi = graft.pipeline.TextDedup.ngramJaccardPairs(docs, 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(selfPlain == viaApi)
    assert(selfPlain.nonEmpty, "self-dedup fixture must contain near-dup pairs")
    // self mode against a persisted band index: identical pairs served
    // from stored band rows + shingle sets, text never re-read
    val idx = java.nio.file.Files.createTempDirectory("graft_tvf_band").toString
    graft.pipeline.TextDedup.writeBandIndex(docs, idx)
    val selfIdx = spark.sql(s"SELECT * FROM corpus_dedup('$idx')")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(selfIdx == selfPlain)
    // batch mode: indexed route ≡ index-free LSH cross-set fallback
    val bDir = java.nio.file.Files.createTempDirectory("graft_tvf_bat").toString + "/b"
    docs.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 900000).as("doc_id"), col("text"))
      .coalesce(1).write.parquet(bDir)
    val batchIdx = spark.sql(
      s"SELECT * FROM corpus_dedup('$idx', batch=>'$bDir', threshold=>0.8)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val batchPlain = spark.sql(
      s"SELECT * FROM corpus_dedup('$sfDir/documents.parquet', batch=>'$bDir')")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(batchIdx == batchPlain)
    assert(batchIdx.nonEmpty, "batch fixture must hit near-dups in the corpus")
    // a takedown leaves both index-served modes immediately
    val victim = selfIdx.head._1
    graft.pipeline.TextDedup.deleteFromBandIndex(
      Seq(victim).toDF("doc_id"), idx)
    val afterDel = spark.sql(s"SELECT * FROM corpus_dedup('$idx')")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(!afterDel.exists(p => p._1 == victim || p._2 == victim))
    // loud failures: typo'd option, conflicting k vs the index's frozen
    // scheme, out-of-range threshold
    val e1 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_dedup('$idx', treshold=>0.9)").collect()
    }
    assert(e1.getMessage.contains("unknown option"))
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_dedup('$idx', k=>4)").collect()
    }
    assert(e2.getMessage.contains("frozen shingle width"))
    val e3 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_dedup('$idx', threshold=>1.5)").collect()
    }
    assert(e3.getMessage.contains("must be in (0, 1]"))
    // cluster mode: plain route ≡ nearDupClusters ≡ the index route
    // (same label-propagation fixpoint from index-served pairs), and
    // every pair member shares its component label
    val clPlain = spark.sql(
      s"SELECT * FROM corpus_dedup('$sfDir/documents.parquet', mode=>'clusters')")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val clApi = graft.pipeline.TextDedup.nearDupClusters(docs, 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(clPlain == clApi)
    val clIdx = spark.sql(
      s"SELECT * FROM corpus_dedup('$idx', mode=>'clusters')")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // EXACT expectation for the index route, independently derived:
    // universe = indexable docs (>= 3 words — shorter docs never
    // enter the index) minus the takedown; labels = min reachable id
    // by union-find over the index's own verified pairs (already
    // asserted equal to the plain route's) minus pairs touching the
    // victim
    val universe = docs.collect()
      .filter(_.getString(1).trim.toLowerCase.split("\\s+").length >= 3)
      .map(_.getLong(0)).toSet - victim
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    selfIdx.collect { case (a, b, _) if a != victim && b != victim =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = universe.toSeq.sorted.map(id => (id, find(id)))
    assert(clIdx == expected,
      s"index clusters diverge from union-find truth: got ${clIdx.take(5)}...")
    // and the plain route's labels agree with its own pair frame
    val lbl = clPlain.toMap
    selfPlain.foreach { case (a, b, _) => assert(lbl(a) == lbl(b)) }
    // unknown mode and clusters+batch fail loud
    val e4 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_dedup('$idx', mode=>'graphs')").collect()
    }
    assert(e4.getMessage.contains("unknown mode"))
    val e5 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_dedup('$idx', batch=>'$bDir', " +
        "mode=>'clusters')").collect()
    }
    assert(e5.getMessage.contains("self mode only"))
  }

  test("read_store TVF: generation-resolved live read, as_of time travel, loud failures") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val docs = Engine.table(spark, sfDir, "documents").select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_tvf_store").toString + "/s"
    graft.pipeline.CorpusStore.write(docs, dir, buckets = 8)
    val up = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), org.apache.spark.sql.functions
        .concat(org.apache.spark.sql.functions.lit("V2 "), col("text")).as("text"))
    graft.pipeline.CorpusStore.merge(spark, dir, up,
      docs.filter(col("doc_id") % 7 === 0).select("doc_id"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
        .sortBy(_._1).toSeq
    // live read through SQL = the Scala reader's generation resolution
    val live = rows(spark.sql(s"SELECT * FROM read_store('$dir')"))
    assert(live == rows(graft.pipeline.CorpusStore.read(spark, dir)))
    assert(live.exists(_._2.startsWith("V2 ")) &&
      !live.exists(t => t._1 % 7 == 0 && t._1 % 5 != 0))
    // as_of=>0 = the untouched original corpus
    val gen0 = rows(spark.sql(s"SELECT * FROM read_store('$dir', as_of=>0)"))
    assert(gen0 == rows(docs))
    // a pruned generation fails loud, never a silently partial snapshot
    val e1 = intercept[Exception] {
      spark.sql(s"SELECT * FROM read_store('$dir', as_of=>99)").collect()
    }
    assert(e1.getMessage.contains("GENERATION_PRUNED"), e1.getMessage)
    // a non-store path and an option typo fail loud
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM read_store('$sfDir/documents.parquet')").collect()
    }
    assert(e2.getMessage.contains("not a corpus store layout"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.sql(s"SELECT * FROM read_store('$dir', asof=>0)").collect()
    }
    assert(e3.getMessage.contains("unknown option"), e3.getMessage)
  }

  test("corpus_index_stats TVF: one unified health schema across all three index families") {
    import org.apache.spark.sql.functions.col
    val docs = Engine.table(spark, sfDir, "documents").select("doc_id", "text")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val base = java.nio.file.Files.createTempDirectory("graft_idx_stats").toString
    graft.pipeline.TextDedup.writeBandIndex(docs, s"$base/band")
    graft.pipeline.TextIndex.write(docs, s"$base/text", buckets = 8)
    graft.pipeline.Embeddings.writeIvfIndex(emb, s"$base/ivf", nlist = 8)
    val cols = Seq("store", "partition", "n_rows", "n_files", "bytes", "generation")
    def stats(p: String) = spark.sql(s"SELECT * FROM corpus_index_stats('$p')")
    // every family answers with the SAME schema; totals match source data
    val nDocs = docs.count()
    val band = stats(s"$base/band")
    assert(band.columns.toSeq == cols)
    assert(band.select("store").distinct().collect().map(_.getString(0)).sorted
      .toSeq == Seq("bands", "shingles"))
    val text = stats(s"$base/text")
    assert(text.columns.toSeq == cols)
    assert(text.collect().forall(r => r.getString(0) == "postings" &&
      r.getLong(4) > 0 && r.getInt(5) == 0))
    val ivf = stats(s"$base/ivf")
    assert(ivf.columns.toSeq == cols)
    assert(ivf.agg(org.apache.spark.sql.functions.sum("n_rows")).head().getLong(0)
      == emb.count(), "ivf per-cell rows must sum to the corpus")
    assert(ivf.select("partition").distinct().count() <= 8)
    // compaction bumps the generation the TVF reports
    docs.filter(col("doc_id") < 50).select("doc_id", "text").collect()
      .grouped(10).foreach { g =>
        import spark.implicits._
        graft.pipeline.TextIndex.append(
          g.map(r => (r.getLong(0) + 900000, r.getString(1))).toSeq
            .toDF("doc_id", "text"), s"$base/text")
      }
    graft.pipeline.TextIndex.compact(spark, s"$base/text", maxFilesPerBucket = 1)
    val gen = stats(s"$base/text").select("generation").distinct().collect()
    assert(gen.length == 1 && gen.head.getInt(0) >= 1,
      s"compaction must bump the reported generation, got ${gen.toSeq}")
    // a plain parquet is not an index layout: fail loud, not garbage
    val e = intercept[Exception] {
      stats(s"$sfDir/documents.parquet").collect()
    }
    assert(e.getMessage.contains("not a graft index or corpus store"),
      e.getMessage)
    assert(nDocs > 0)
    // the corpus store joins the unified schema: one row per committed
    // generation (partition = generation number), live generation
    // constant, n_rows matching the generation's content
    locally {
      import org.apache.spark.sql.functions.col
      val sdir = java.nio.file.Files
        .createTempDirectory("graft_stats_store").toString
      val docs = Engine.table(spark, sfDir, "documents")
        .select("doc_id", "text").filter(col("doc_id") < 200)
      graft.pipeline.CorpusStore.write(docs, sdir, buckets = 4)
      graft.pipeline.CorpusStore.merge(spark, sdir,
        upserts = docs.filter(col("doc_id") < 0),
        deletes = docs.filter(col("doc_id") % 5 === 0).select("doc_id"))
      val rows = stats(sdir).collect()
      assert(rows.map(_.getString(0)).forall(_ == "corpus"))
      assert(rows.map(_.getInt(1)).toSeq == Seq(0, 1), rows.toSeq)
      val n0 = docs.count()
      assert(rows.map(r => (r.getInt(1), r.getLong(2))).toMap
        == Map(0 -> n0, 1 -> (n0 - docs.filter(col("doc_id") % 5 === 0).count())),
        rows.toSeq)
      assert(rows.map(_.getInt(5)).distinct.toSeq == Seq(1),
        "live generation must be constant across the audit rows")
    }
    // sibling-family misrouting fails NAMING the layout found, instead
    // of falling through to the plain-corpus route and surfacing an
    // opaque schema/read error from the wrong code path
    val m1 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_search('$base/band', 'x')").collect()
    }
    assert(m1.getMessage.contains("is a band index"), m1.getMessage)
    val m2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_ann('$base/text', '1.0')").collect()
    }
    assert(m2.getMessage.contains("is a text index"), m2.getMessage)
    val m3 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_dedup('$base/ivf')").collect()
    }
    assert(m3.getMessage.contains("is an IVF index"), m3.getMessage)
  }

  test("corpus_index_stats mode=>'drift': SQL face equals ivfDriftStats; non-IVF layouts fail loud") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val base = java.nio.file.Files.createTempDirectory("graft_drift_tvf").toString
    graft.pipeline.Embeddings.writeIvfIndex(emb, s"$base/ivf", nlist = 8)
    val sql = spark.sql(
      s"SELECT * FROM corpus_index_stats('$base/ivf', mode=>'drift')")
    assert(sql.columns.toSeq == Seq("cell", "n_rows", "mean_dist", "max_dist"))
    val viaSql = sql.collect().map(_.mkString("|")).toSeq
    val viaScala = graft.pipeline.Embeddings.ivfDriftStats(spark, s"$base/ivf")
      .collect().map(_.mkString("|")).toSeq
    assert(viaSql == viaScala,
      "the SQL face must serve the identical drift rows as the Scala API")
    // the overall row the RUNBOOK's escape_cap rule watches
    assert(viaSql.exists(_.startsWith("-1|")), viaSql.mkString("\n"))
    // drift is a quantizer property: any non-IVF layout fails loud
    val docs = Engine.table(spark, sfDir, "documents")
      .select("doc_id", "text").limit(50)
    graft.pipeline.TextDedup.writeBandIndex(docs, s"$base/band")
    val e1 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_index_stats('$base/band', mode=>'drift')")
        .collect()
    }
    assert(e1.getMessage.contains("requires an IVF index"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_index_stats(" +
        s"'$sfDir/documents.parquet', mode=>'drift')").collect()
    }
    assert(e2.getMessage.contains("requires an IVF index"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_index_stats('$base/ivf', mode=>'x')")
        .collect()
    }
    assert(e3.getMessage.contains("unknown mode"), e3.getMessage)
  }

  test("corpus_dedup mode=>'media': SQL face equals phashDupPairs; option and schema misuse fails loud") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Engine.table(spark, sfDir, "documents")
      .filter(col("doc_id") < 300)
    val base = java.nio.file.Files.createTempDirectory("graft_media_tvf").toString
    // media corpus with planted near-dups (payload byte flipped)
    val dups = docs.select((col("doc_id") + 700000).as("doc_id"),
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("x"),
        org.apache.spark.sql.functions.expr("substring(text, 2)")).as("text"),
      col("source"))
    val media = graft.pipeline.Multimodal.asMediaTable(
      docs.select("doc_id", "text", "source").unionByName(dups))
    media.write.parquet(s"$base/media")
    val viaSql = spark.sql(s"SELECT * FROM corpus_dedup('$base/media', " +
        "mode=>'media', max_hamming=>6)")
      .collect().map(_.mkString("|")).toSeq
    val viaScala = graft.pipeline.Multimodal.phashDupPairs(media, 6)
      .collect().map(_.mkString("|")).toSeq
    assert(viaSql == viaScala && viaSql.nonEmpty,
      s"SQL ${viaSql.size} rows vs Scala ${viaScala.size}")
    // a corpus without payload columns fails loud naming the fix
    val e1 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_dedup('$sfDir/documents.parquet', " +
        "mode=>'media')").collect()
    }
    assert(e1.getMessage.contains("needs (doc_id, payload)"), e1.getMessage)
    // mode-option discipline: text options under media and media
    // options under text both fail loud
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_dedup('$base/media', mode=>'media', " +
        "threshold=>0.8)").collect()
    }
    assert(e2.getMessage.contains("text-shingle options"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_dedup('$sfDir/documents.parquet', " +
        "max_hamming=>6)").collect()
    }
    assert(e3.getMessage.contains("mode=>'media'/'simhash' only"), e3.getMessage)
    val e4 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_dedup('$base/media', mode=>'media', " +
        s"batch=>'$base/media')").collect()
    }
    assert(e4.getMessage.contains("self mode only"), e4.getMessage)
    // a band index is a text artifact: media mode over it fails loud
    val idx = s"$base/band"
    graft.pipeline.TextDedup.writeBandIndex(
      docs.select("doc_id", "text").limit(50), idx)
    val e5 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_dedup('$idx', mode=>'media')").collect()
    }
    assert(e5.getMessage.contains("media parquet"), e5.getMessage)
    // band_bits SQL face (round 18): 16-bit SQL ≡ 16-bit Scala, and at
    // hamming 3 — inside BOTH widths' pigeonhole radius — ≡ the 8-bit
    // pairs (recall 1.0 either way; FUZZY_SCALE.md's hamming table is
    // why the knob must be reachable from SQL)
    val sql16 = spark.sql(s"SELECT * FROM corpus_dedup('$base/media', " +
        "mode=>'media', max_hamming=>3, band_bits=>16)")
      .collect().map(_.mkString("|")).toSeq
    val scala16 = graft.pipeline.Multimodal.phashDupPairs(media, 3, 16)
      .collect().map(_.mkString("|")).toSeq
    val scala8at3 = graft.pipeline.Multimodal.phashDupPairs(media, 3, 8)
      .collect().map(_.mkString("|")).toSeq
    assert(sql16 == scala16 && sql16.nonEmpty,
      s"band_bits=>16 SQL ${sql16.size} rows vs Scala ${scala16.size}")
    assert(sql16 == scala8at3,
      "8- and 16-bit bands must agree inside the guaranteed radius")
    // band_bits outside media/simhash mode / outside {8,16} fails loud
    val e6 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_dedup('$sfDir/documents.parquet', " +
        "band_bits=>16)").collect()
    }
    assert(e6.getMessage.contains("mode=>'media'/'simhash' only"), e6.getMessage)
    val e7 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_dedup('$base/media', mode=>'media', " +
        "band_bits=>12)").collect()
    }
    assert(e7.getMessage.contains("8 or 16"), e7.getMessage)
  }

  test("corpus_dedup mode=>'simhash': SQL face equals simhashPairs at both band widths; misuse fails loud") {
    val docs = Engine.table(spark, sfDir, "documents")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).toSeq
    val viaSql = rows(spark.sql(
      s"SELECT * FROM corpus_dedup('$sfDir/documents.parquet', mode=>'simhash')"))
    val viaScala = rows(graft.pipeline.TextDedup.simhashPairs(docs, 3, 0.8))
    assert(viaSql == viaScala && viaSql.nonEmpty,
      s"SQL ${viaSql.size} rows vs Scala ${viaScala.size}")
    // every option reaches the operator: 16-bit bands + tight radius
    val viaSql16 = rows(spark.sql(
      s"SELECT * FROM corpus_dedup('$sfDir/documents.parquet', " +
        "mode=>'simhash', band_bits=>16, max_hamming=>3, " +
        "threshold=>0.9, k=>4)"))
    val viaScala16 = rows(graft.pipeline.TextDedup.simhashPairs(
      docs, 4, 0.9, maxHamming = 3, bandBits = 16))
    assert(viaSql16 == viaScala16,
      s"16-bit SQL ${viaSql16.size} rows vs Scala ${viaScala16.size}")
    // simhashes are computed from text, never stored: an index path
    // fails loud naming the expectation
    val idxBase = java.nio.file.Files.createTempDirectory("graft_sim_tvf").toString
    graft.pipeline.TextDedup.writeBandIndex(
      docs.select("doc_id", "text").limit(50), s"$idxBase/band")
    val e1 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_dedup('$idxBase/band', " +
        "mode=>'simhash')").collect()
    }
    assert(e1.getMessage.contains("plain (doc_id, text)"), e1.getMessage)
    // self mode only, like clusters/media
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_dedup('$sfDir/documents.parquet', " +
        s"mode=>'simhash', batch=>'$sfDir/documents.parquet')").collect()
    }
    assert(e2.getMessage.contains("self mode only"), e2.getMessage)
  }

  test("corpus_quality TVF: every mode matches its Scala operator; store route serves the live generation") {
    import org.apache.spark.sql.functions.col
    val docs = Engine.table(spark, sfDir, "documents")
    val path = s"$sfDir/documents.parquet"
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).toSeq
    // each mode routes to the SAME pipeline operator the Scala
    // surface serves — identical rows, identical column names
    val byMode = Seq(
      "quality" -> graft.pipeline.TextAnalysis.qualityScore(docs),
      "langid" -> graft.pipeline.TextAnalysis.languageId(docs),
      "tokens" -> graft.pipeline.TextAnalysis.tokenCounts(docs),
      "fingerprint" -> graft.pipeline.TextAnalysis.fingerprint(docs),
      "repetition" -> graft.pipeline.CorpusOps.repetitionStats(docs),
      "gopher" -> graft.pipeline.CorpusOps.gopherStats(docs),
      "redact" -> graft.pipeline.TextAnalysis.redactDocs(docs))
    byMode.foreach { case (mode, expect) =>
      val got = spark.sql(
        s"SELECT * FROM corpus_quality('$path', mode=>'$mode')")
      assert(got.columns.toSeq == expect.columns.toSeq, mode)
      assert(rows(got) == rows(expect), s"mode $mode diverged from Scala")
    }
    // default mode is quality
    assert(rows(spark.sql(s"SELECT * FROM corpus_quality('$path')"))
      == rows(byMode.head._2))
    // a corpus-store path serves generation-RESOLVED (read_store's
    // live rule): after a merge swap the TVF scores the POST-merge
    // corpus, never a stale or torn generation
    val dir = java.nio.file.Files.createTempDirectory("graft_tvf_qual").toString
    val stDocs = docs.select("doc_id", "text").filter(col("doc_id") < 100)
    graft.pipeline.CorpusStore.write(stDocs, dir, buckets = 4)
    val up = stDocs.filter(col("doc_id") < 10)
      .select(col("doc_id"), org.apache.spark.sql.functions
        .concat(col("text"), org.apache.spark.sql.functions.lit(" merged edit"))
        .as("text"))
    graft.pipeline.CorpusStore.merge(spark, dir, up,
      stDocs.filter(col("doc_id") === 99L).select("doc_id"))
    val live = graft.pipeline.CorpusStore.read(spark, dir).drop("bucket")
    assert(rows(spark.sql(s"SELECT * FROM corpus_quality('$dir', mode=>'tokens')"))
      == rows(graft.pipeline.TextAnalysis.tokenCounts(live)),
      "store route must score the live merged generation")
    // loud failures: unknown mode, typo'd option, index layout
    val e1 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_quality('$path', mode=>'sentiment')").collect()
    }
    assert(e1.getMessage.contains("unknown mode"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_quality('$path', kmode=>'x')").collect()
    }
    assert(e2.getMessage.contains("unknown option"), e2.getMessage)
    // threshold options reach their operator; on any other mode they
    // fail loud instead of being silently ignored
    assert(rows(spark.sql(s"SELECT * FROM corpus_quality('$path', " +
        "mode=>'gopher', top3=>0.05, top4=>0.05)"))
      == rows(graft.pipeline.CorpusOps.gopherStats(docs, 0.05, 0.05)))
    val e2b = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_quality('$path', dup5=>0.1)").collect()
    }
    assert(e2b.getMessage.contains("do not apply to mode"), e2b.getMessage)
    val idx = java.nio.file.Files.createTempDirectory("graft_tvf_qual_idx").toString
    graft.pipeline.TextDedup.writeBandIndex(
      docs.select("doc_id", "text").limit(50), idx)
    val e3 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_quality('$idx')").collect()
    }
    assert(e3.getMessage.contains("is a band index"), e3.getMessage)
  }

  test("corpus_mix TVF: every mode matches its Scala operator; missing budget and bad modes fail loud") {
    import org.apache.spark.sql.functions.col
    val docs = Engine.table(spark, sfDir, "documents")
    val path = s"$sfDir/documents.parquet"
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).toSeq
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
      rows(df).sorted
    // each mode routes to the SAME CorpusOps operator the Scala
    // surface serves — identical rows, identical column names
    assert(rows(spark.sql(s"SELECT * FROM corpus_mix('$path', group=>'lang')"))
      == rows(graft.pipeline.CorpusOps.temperatureMixWeights(docs, "lang")))
    assert(rows(spark.sql(
        s"SELECT * FROM corpus_mix('$path', mode=>'weights', group=>'source', tau=>3.0)"))
      == rows(graft.pipeline.CorpusOps.temperatureMixWeights(docs, "source", 3.0)),
      "group/tau options must reach the operator")
    assert(rows(spark.sql(
        s"SELECT * FROM corpus_mix('$path', mode=>'resample', group=>'lang')"))
      == rows(graft.pipeline.CorpusOps.resampleToMix(docs, "lang")))
    // explicit recipe: mix=> routes to resampleToTarget; unlisted
    // groups drop, an unsatisfiable or malformed recipe fails loud
    assert(rows(spark.sql(s"SELECT * FROM corpus_mix('$path', " +
        "mode=>'resample', group=>'lang', mix=>'en:60,fr:40')"))
      == rows(graft.pipeline.CorpusOps.resampleToTarget(docs, "lang",
          Seq(("en", 60), ("fr", 40)))))
    val eMix1 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_mix('$path', mode=>'resample', " +
        "group=>'lang', mix=>'en:60,zz_absent:40')").collect()
    }
    assert(eMix1.getMessage.contains("no") &&
      eMix1.getMessage.contains("zz_absent"), eMix1.getMessage)
    val eMix2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_mix('$path', mode=>'resample', " +
        "group=>'lang', mix=>'en:60,fr:20')").collect()
    }
    assert(eMix2.getMessage.contains("sum to 100"), eMix2.getMessage)
    val eMix3 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_mix('$path', mode=>'resample', " +
        "group=>'lang', mix=>'en:sixty')").collect()
    }
    assert(eMix3.getMessage.contains("label:percent"), eMix3.getMessage)
    assert(sorted(spark.sql(
        s"SELECT * FROM corpus_mix('$path', mode=>'shuffle', seed=>7)"))
      == sorted(graft.pipeline.CorpusOps.shuffleRank(docs, 7)))
    assert(rows(spark.sql(
        s"SELECT * FROM corpus_mix('$path', mode=>'budget', group=>'lang', budget=>2000)"))
      == rows(graft.pipeline.CorpusOps.tokenBudgetSample(docs, "lang", 2000L)))
    assert(rows(spark.sql(
        s"SELECT * FROM corpus_mix('$path', mode=>'pack', budget=>4096)"))
      == rows(graft.pipeline.CorpusOps.packSequences(docs, 4096L)))
    assert(sorted(spark.sql(
        s"SELECT * FROM corpus_mix('$path', mode=>'chunk', max_tokens=>64, overlap=>16)"))
      == sorted(graft.pipeline.CorpusOps.chunkDocuments(docs, 64, 16)))
    // loud failures: budget-less budget/pack, unknown mode, typo'd
    // option, index layout (one routing truth with the family)
    val e1 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_mix('$path', mode=>'budget')").collect()
    }
    assert(e1.getMessage.contains("requires budget"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_mix('$path', mode=>'riffle')").collect()
    }
    assert(e2.getMessage.contains("unknown mode"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_mix('$path', budgt=>5)").collect()
    }
    assert(e3.getMessage.contains("unknown option"), e3.getMessage)
    // an option another mode owns fails loud, never silently ignored
    val e3b = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_mix('$path', mode=>'weights', budget=>5)").collect()
    }
    assert(e3b.getMessage.contains("do not apply to mode"), e3b.getMessage)
    val idx = java.nio.file.Files.createTempDirectory("graft_tvf_mix_idx").toString
    graft.pipeline.TextDedup.writeBandIndex(
      docs.select("doc_id", "text").limit(50), idx)
    val e4 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_mix('$idx')").collect()
    }
    assert(e4.getMessage.contains("is a band index"), e4.getMessage)
    // a corpus-store path serves the live generation (TvfCorpus —
    // same resolution truth corpus_quality pins in depth)
    val dir = java.nio.file.Files.createTempDirectory("graft_tvf_mix_store").toString
    val stDocs = docs.select("doc_id", "text", "lang").filter(col("doc_id") < 100)
    graft.pipeline.CorpusStore.write(stDocs, dir, buckets = 4)
    val live = graft.pipeline.CorpusStore.read(spark, dir).drop("bucket")
    assert(sorted(spark.sql(s"SELECT * FROM corpus_mix('$dir', mode=>'shuffle')"))
      == sorted(graft.pipeline.CorpusOps.shuffleRank(live)))
    // split mode: all input columns pass through plus the label;
    // malformed weights and non-100 sums fail loud
    assert(rows(spark.sql(s"SELECT * FROM corpus_mix('$path', mode=>'split', " +
        "weights=>'train:90,val:5,test:5')").orderBy("doc_id"))
      == rows(graft.pipeline.CorpusOps.assignSplits(docs,
          Seq(("train", 90), ("val", 5), ("test", 5))).orderBy("doc_id")))
    val e5 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_mix('$path', mode=>'split', " +
        "weights=>'train:ninety,val:10')").collect()
    }
    assert(e5.getMessage.contains("label:percent"), e5.getMessage)
    val e6 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_mix('$path', mode=>'split', " +
        "weights=>'train:50,val:5')").collect()
    }
    assert(e6.getMessage.contains("summing to 100"), e6.getMessage)
  }

  test("corpus_hybrid TVF: plain-route fusion equals Retrieval.hybridSearch; bad inputs fail loud") {
    import org.apache.spark.sql.functions.col
    val docs = Engine.table(spark, sfDir, "documents").select("doc_id", "text")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy("doc_id").collect().map(_.mkString("|")).toSeq
    // plain corpus-tier route: both legs brute, identical to the
    // Scala hybridSearch over the same stored query vector
    val v = emb.filter(col("vec_id") === 7L).select("embedding")
      .head().getSeq[Float](0)
    val vecStr = v.map(f => f.toDouble.toString).mkString(",")
    val got = spark.sql(s"SELECT * FROM corpus_hybrid(" +
      s"'$sfDir/documents.parquet', '$sfDir/embeddings.parquet', " +
      s"'spark hash window', embedding=>'$vecStr')")
    val want = graft.pipeline.Retrieval.hybridSearch(
      docs, emb, Seq("spark", "hash", "window"), queryVecId = 7L)
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(rows(got) == rows(want), "plain-route fusion diverged from Scala")
    // loud failures: missing embedding, malformed vector, dim
    // mismatch, wrong index family on a leg path
    val e1 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_hybrid('$sfDir/documents.parquet', " +
        s"'$sfDir/embeddings.parquet', 'spark')").collect()
    }
    assert(e1.getMessage.contains("embedding=>"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_hybrid('$sfDir/documents.parquet', " +
        s"'$sfDir/embeddings.parquet', 'spark', embedding=>'a,b')").collect()
    }
    assert(e2.getMessage.contains("comma-separated numbers"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_hybrid('$sfDir/documents.parquet', " +
        s"'$sfDir/embeddings.parquet', 'spark', embedding=>'1.0,2.0')").collect()
    }
    assert(e3.getMessage.contains("dims"), e3.getMessage)
    val idx = java.nio.file.Files.createTempDirectory("graft_tvf_hyb_idx").toString
    graft.pipeline.TextDedup.writeBandIndex(docs.limit(50), idx)
    val e4 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_hybrid('$idx', " +
        s"'$sfDir/embeddings.parquet', 'spark', embedding=>'$vecStr')").collect()
    }
    assert(e4.getMessage.contains("is a band index"), e4.getMessage)
    // batch route: per-query fusion equals composing the single-query
    // TVF per query; a batch parquet missing a required column fails
    // loud naming the contract
    val bdir = java.nio.file.Files.createTempDirectory("graft_tvf_hyb_b").toString
    import spark.implicits._
    val texts = Seq(1L -> "spark join", 2L -> "window hash").toDF("query_id", "query")
    val vecs = emb.filter(col("vec_id").isin(1L, 2L))
      .select(col("vec_id").as("query_id"), col("embedding"))
    texts.join(vecs, "query_id").coalesce(1).write.parquet(s"$bdir/q")
    val gotMany = spark.sql(s"SELECT * FROM corpus_hybrid(" +
        s"'$sfDir/documents.parquet', '$sfDir/embeddings.parquet', " +
        s"queries=>'$bdir/q', k=>10)")
      .collect().map(_.mkString("|")).toSeq.sorted
    val wantMany = Seq(1L -> "spark join", 2L -> "window hash").flatMap { case (qid, q) =>
      val vq = emb.filter(col("vec_id") === qid).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble.toString).mkString(",")
      spark.sql(s"SELECT * FROM corpus_hybrid('$sfDir/documents.parquet', " +
          s"'$sfDir/embeddings.parquet', '$q', embedding=>'$vq', k=>10)")
        .collect().map(r => s"$qid|${r.mkString("|")}")
    }.sorted
    assert(gotMany == wantMany, "batch fusion diverged from per-query singles")
    // WEIGHTED batch fusion equals the weighted single-query TVF per
    // query too (r16 pinned only the unweighted equivalence; the
    // weights=> parse is shared, but the batch route applies it in a
    // different code path — this closes that gap)
    val gotManyW = spark.sql(s"SELECT * FROM corpus_hybrid(" +
        s"'$sfDir/documents.parquet', '$sfDir/embeddings.parquet', " +
        s"queries=>'$bdir/q', k=>10, weights=>'2,1')")
      .collect().map(_.mkString("|")).toSeq.sorted
    val wantManyW = Seq(1L -> "spark join", 2L -> "window hash").flatMap { case (qid, q) =>
      val vq = emb.filter(col("vec_id") === qid).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble.toString).mkString(",")
      spark.sql(s"SELECT * FROM corpus_hybrid('$sfDir/documents.parquet', " +
          s"'$sfDir/embeddings.parquet', '$q', embedding=>'$vq', k=>10, " +
          "weights=>'2,1')")
        .collect().map(r => s"$qid|${r.mkString("|")}")
    }.sorted
    assert(gotManyW == wantManyW,
      "weighted batch fusion diverged from weighted per-query singles")
    assert(gotManyW != gotMany,
      "weights=>'2,1' must change the fused cut (vacuous fixture otherwise)")
    texts.coalesce(1).write.parquet(s"$bdir/noemb")
    val e5 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_hybrid('$sfDir/documents.parquet', " +
        s"'$sfDir/embeddings.parquet', queries=>'$bdir/noemb')").collect()
    }
    assert(e5.getMessage.contains("(query_id, query, embedding)"), e5.getMessage)
  }

  test("serving micro-batch cap is ENFORCED before driver collects, on every batch TVF") {
    import spark.implicits._
    import graft.pipeline.ServingLimits
    val base = java.nio.file.Files.createTempDirectory("graft_tvf_cap").toString
    (1L to 5L).map(i => (i, "spark")).toDF("query_id", "query")
      .coalesce(1).write.parquet(s"$base/q5")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
      .coalesce(1).write.parquet(s"$base/v5")
    val texts = (1L to 5L).map(i => (i, "spark")).toDF("query_id", "query")
    texts.join(emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding")), "query_id")
      .coalesce(1).write.parquet(s"$base/h5")
    spark.conf.set(ServingLimits.MaxBatchKey, "3")
    try {
      // a 5-row batch over a cap of 3 fails LOUD naming the cap and
      // the knob — the driver-collected contract is enforced, the
      // 100M-row-parquet mistake can no longer OOM the driver
      def overCap(sql: String): Unit = {
        val e = intercept[Exception] { spark.sql(sql).collect() }
        assert(e.getMessage.contains("BATCH_OVER_CAP")
            && e.getMessage.contains(ServingLimits.MaxBatchKey),
          s"$sql -> ${e.getMessage}")
      }
      overCap(s"SELECT * FROM corpus_search('$sfDir/documents.parquet', " +
        s"queries=>'$base/q5')")
      overCap(s"SELECT * FROM corpus_search('$sfDir/documents.parquet', " +
        s"queries=>'$base/q5', mode=>'phrase')")
      overCap(s"SELECT * FROM corpus_ann('$sfDir/embeddings.parquet', " +
        s"queries=>'$base/v5')")
      overCap(s"SELECT * FROM corpus_hybrid('$sfDir/documents.parquet', " +
        s"'$sfDir/embeddings.parquet', queries=>'$base/h5')")
      // the Scala batch entry point shares the same guard (index
      // built OUTSIDE the intercept so only the cap can fail it)
      val idx = java.nio.file.Files
        .createTempDirectory("graft_cap_tidx").toString
      graft.pipeline.TextIndex.write(
        Engine.table(spark, sfDir, "documents")
          .select("doc_id", "text").limit(50), idx)
      val eScala = intercept[Exception] {
        graft.pipeline.TextIndex.searchMany(spark, idx,
          (1L to 5L).map(i => (i, Seq("spark"))).toDF("query_id", "terms"), 5)
      }
      assert(eScala.getMessage.contains("BATCH_OVER_CAP"), eScala.getMessage)
      // ...and the IVF batch entry (r18: the read path collects the
      // query rows once, so the cap must hold BEFORE that collect)
      val ivfDir = java.nio.file.Files
        .createTempDirectory("graft_cap_ivf").toString
      graft.pipeline.Embeddings.writeIvfIndex(
        emb.select("vec_id", "embedding").limit(50), ivfDir, nlist = 4)
      val eIvf = intercept[Exception] {
        graft.pipeline.Embeddings.ivfTopKIndexedFor(
          emb.filter(col("vec_id") < 5)
            .select(col("vec_id").as("query_id"), col("embedding")),
          ivfDir, 3)
      }
      assert(eIvf.getMessage.contains("BATCH_OVER_CAP"), eIvf.getMessage)
    } finally spark.conf.unset(ServingLimits.MaxBatchKey)
    // at the default cap the same batches serve normally
    assert(spark.sql(s"SELECT * FROM corpus_search(" +
      s"'$sfDir/documents.parquet', queries=>'$base/q5', k=>3)").count() > 0)
  }

  test("batch columns: a single matched name binds by name, remainder positionally; ambiguity fails loud") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_tvf_bind").toString
    val pairs = Seq(1L -> "spark join", 2L -> "window hash")
    pairs.toDF("query_id", "query").coalesce(1).write.parquet(s"$base/named")
    // the r14-advice shape: (n_rows, query) — 'query' matches by name,
    // so the OTHER column must become the id (the old fully-positional
    // fallback would have bound 'query' text as the id column)
    pairs.toDF("n_rows", "query").coalesce(1).write.parquet(s"$base/oneName")
    def run(q: String): Seq[String] =
      spark.sql(s"SELECT * FROM corpus_search('$sfDir/documents.parquet', " +
          s"queries=>'$base/$q', k=>5)")
        .collect().map(_.mkString("|")).toSeq
    assert(run("oneName") == run("named"),
      "single-name binding diverged from the fully-named batch")
    // ...and the id side symmetrically: (query_id, txt)
    pairs.toDF("query_id", "txt").coalesce(1).write.parquet(s"$base/idName")
    assert(run("idName") == run("named"))
    // one name matched + ≥2 leftover columns is ambiguous → loud
    pairs.map { case (i, q) => (i, q, "x") }.toDF("n_rows", "query", "extra")
      .coalesce(1).write.parquet(s"$base/ambig")
    val e = intercept[Exception] { run("ambig") }
    assert(e.getMessage.contains("cannot be resolved"), e.getMessage)
  }

  test("corpus_hybrid: embedding=> conflicts with queries=>; weights option reaches the fusion") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val base = java.nio.file.Files.createTempDirectory("graft_tvf_wts").toString
    val texts = Seq(1L -> "spark join").toDF("query_id", "query")
    texts.join(emb.filter(col("vec_id") === 1L)
        .select(col("vec_id").as("query_id"), col("embedding")), "query_id")
      .coalesce(1).write.parquet(s"$base/q")
    // stray-option discipline: batch mode reads embeddings from the
    // batch parquet, a literal alongside is a spelled-out conflict
    val e1 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_hybrid('$sfDir/documents.parquet', " +
        s"'$sfDir/embeddings.parquet', queries=>'$base/q', " +
        "embedding=>'1.0,2.0')").collect()
    }
    assert(e1.getMessage.contains("conflicts with queries=>"), e1.getMessage)
    // weights=>'1,1' must be bit-identical to omitting weights
    val v = emb.filter(col("vec_id") === 7L).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble.toString).mkString(",")
    def hyb(extra: String): Seq[String] =
      spark.sql(s"SELECT * FROM corpus_hybrid('$sfDir/documents.parquet', " +
          s"'$sfDir/embeddings.parquet', 'spark hash window', " +
          s"embedding=>'$v'$extra)")
        .collect().map(_.mkString("|")).toSeq
    assert(hyb(", weights=>'1,1'") == hyb(""))
    // malformed weights fail loud: wrong arity, non-integer
    val e2 = intercept[Exception] { hyb(", weights=>'1,2,3'") }
    assert(e2.getMessage.contains("weights for"), e2.getMessage)
    val e3 = intercept[Exception] { hyb(", weights=>'a,b'") }
    assert(e3.getMessage.contains("comma-separated integers"), e3.getMessage)
    // overflow bound: w * RrfScale must stay in int64 (Spark would
    // wrap silently where DuckDB raises); the largest legal weight
    // still serves
    val e4 = intercept[Exception] { hyb(", weights=>'9300000,1'") }
    assert(e4.getMessage.contains("int64"), e4.getMessage)
    assert(hyb(s", weights=>'${graft.pipeline.Retrieval.MaxLegWeight},1'")
      .nonEmpty)
  }

  test("read_store and TvfCorpus reject a torn marker-free base (_temporary present)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_torn").toString
    Seq((1L, "alpha text here", "en"), (2L, "beta text there", "en"))
      .toDF("doc_id", "text", "lang")
      .coalesce(1).write.parquet(s"$dir/corpus")
    // strip the commit marker (the copied-store shape) and plant a
    // staging dir (the torn-write shape) — torn must fail loud on
    // BOTH SQL faces, copied must keep serving
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/corpus/_SUCCESS"), false)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/corpus/_temporary"))
    val e1 = intercept[Exception] {
      spark.sql(s"SELECT * FROM read_store('$dir')").collect()
    }
    assert(e1.getMessage.contains("TORN_BASE"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_quality('$dir')").collect()
    }
    assert(e2.getMessage.contains("TORN_BASE"), e2.getMessage)
    // the Scala API shares the torn-vs-copied distinction: a torn
    // base must not silently serve partial rows through
    // CorpusStore.read while the SQL face fails loud (the guard now
    // lives inside Stores.liveGeneration, ONE truth for every reader)
    val e3 = intercept[Exception] {
      graft.pipeline.CorpusStore.read(spark, dir).collect()
    }
    assert(e3.getMessage.contains("TORN_BASE"), e3.getMessage)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/corpus/_temporary"), true)
    assert(spark.sql(s"SELECT * FROM read_store('$dir')").count() == 2,
      "a copied marker-free base (no _temporary) must keep serving")
    assert(graft.pipeline.CorpusStore.read(spark, dir).count() == 2,
      "the Scala read must also keep serving a copied base")
  }

  test("corpus_decontam and corpus_diff TVFs: two-path ops match their Scala operators") {
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    val docs = Engine.table(spark, sfDir, "documents")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).toSeq
    // fixture parquets: the same doc_id%10 train/eval split and the
    // same derived "new snapshot" the oracled queries use
    val base = java.nio.file.Files.createTempDirectory("graft_tvf_two").toString
    val train = docs.filter(col("doc_id") % 10 =!= 0)
      .select("doc_id", "text", "lang")
    val evalSet = docs.filter(col("doc_id") % 10 === 0).select("doc_id", "text")
    train.write.parquet(s"$base/train")
    evalSet.write.parquet(s"$base/eval")
    val newCorpus = docs.filter(col("doc_id") % 13 =!= 0)
      .select(col("source"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"))
    newCorpus.write.parquet(s"$base/new")
    // filter mode == decontaminate; report mode == contaminationReport
    assert(rows(spark.sql(
        s"SELECT * FROM corpus_decontam('$base/train', '$base/eval')"))
      == rows(graft.pipeline.CorpusOps.decontaminate(train, evalSet)))
    assert(rows(spark.sql(s"SELECT * FROM corpus_decontam('$base/train', " +
        s"'$base/eval', mode=>'report', group=>'lang', k=>10)"))
      == rows(graft.pipeline.CorpusOps.contaminationReport(train, evalSet, "lang")))
    // corpus_diff == corpusDiff, by content, per group
    assert(rows(spark.sql(s"SELECT * FROM corpus_diff('$sfDir/documents.parquet', " +
        s"'$base/new', group=>'source')"))
      == rows(graft.pipeline.CorpusOps.corpusDiff(docs, newCorpus, "source")))
    // loud failures: arity, unknown mode, per-mode option contract,
    // index layout (one routing truth with the family)
    val e1 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_decontam('$base/train')").collect()
    }
    assert(e1.getMessage.contains("exactly two positional"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_decontam('$base/train', '$base/eval', " +
        "mode=>'scrub')").collect()
    }
    assert(e2.getMessage.contains("unknown mode"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_decontam('$base/train', '$base/eval', " +
        "group=>'lang')").collect()
    }
    assert(e3.getMessage.contains("do not apply to mode"), e3.getMessage)
    val e4 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_diff('$base/train')").collect()
    }
    assert(e4.getMessage.contains("exactly two positional"), e4.getMessage)
    val idx = java.nio.file.Files.createTempDirectory("graft_tvf_two_idx").toString
    graft.pipeline.TextDedup.writeBandIndex(
      docs.select("doc_id", "text").limit(50), idx)
    val e5 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_decontam('$idx', '$base/eval')").collect()
    }
    assert(e5.getMessage.contains("is a band index"), e5.getMessage)
  }

  test("injected SQL scalar functions resolve and match the Scala API") {
    val row = spark.sql(
      """SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |  sorted_intersect_size(shingle_hashes('a b c d', 3),
        |                        shingle_hashes('a b c e', 3)) AS co,
        |  poly_fingerprint('abc') AS fp,
        |  redact_pii('mail me at bob@x.example.org or +1-555-0000') AS clean
        |""".stripMargin).collect()(0)
    assert(row.getDouble(0) == 11.0)
    assert(row.getLong(1) == 1L) // shares exactly the "a b c" shingle
    assert(row.getLong(2) == (('a' * 31L + 'b') * 31 + 'c') % 1000000007L)
    assert(row.getString(3) == "mail me at <EMAIL> or <PHONE>")
  }

  test("corpus_ann TVF: brute parquet route and IVF index route serve identical rows") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val vec = emb.filter(col("vec_id") === 1L)
      .select("embedding").head().getSeq[Float](0)
    val vecStr = vec.map(_.toDouble.toString).mkString(",")
    val dir = java.nio.file.Files.createTempDirectory("ann_tvf").toString + "/ivf"
    graft.pipeline.Embeddings.writeIvfIndex(emb, dir, nlist = 8)
    val brute = spark.sql(
      s"SELECT * FROM corpus_ann('$sfDir/embeddings.parquet', '$vecStr', k=>7)").collect()
    val indexed = spark.sql(
      s"SELECT * FROM corpus_ann('$dir', '$vecStr', k=>7, nprobe=>3)").collect()
    // the adaptive escape makes the pruned index read EXACT, so the
    // two routes must agree row-for-row (ids, scores, ranks)
    assert(brute.toSeq == indexed.toSeq,
      s"brute=${brute.mkString(";")} indexed=${indexed.mkString(";")}")
    assert(brute.length == 7)
    // external-query semantics: the corpus twin of the query vector
    // sits at rank 1 (no self-exclusion)
    assert(brute.head.getLong(0) == 1L && brute.head.getLong(2) == 1L)
    // option typos and malformed vectors fail loud
    val e1 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_ann('$dir', '1,2', bogus=>1)").collect()
    }
    assert(e1.getMessage.contains("unknown option"))
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_ann('$dir', 'not,a,number')").collect()
    }
    assert(e2.getMessage.contains("comma-separated numbers"))
    // batch mode: a (query_id, embedding) parquet of external queries
    // against index and plain corpus must also agree row-for-row
    val qDir = java.nio.file.Files.createTempDirectory("ann_tvf_q").toString + "/q"
    emb.filter(col("vec_id") < 3)
      .select((col("vec_id") + 5000L).as("query_id"), col("embedding"))
      .coalesce(1).write.parquet(qDir)
    val bruteB = spark.sql(
      s"SELECT * FROM corpus_ann('$sfDir/embeddings.parquet', queries=>'$qDir', k=>4)").collect()
    val indexedB = spark.sql(
      s"SELECT * FROM corpus_ann('$dir', queries=>'$qDir', k=>4, nprobe=>3)").collect()
    assert(bruteB.toSeq == indexedB.toSeq)
    assert(bruteB.length == 12) // 3 queries x k=4
    assert(bruteB.map(_.getLong(0)).distinct.sorted.toSeq == Seq(5000L, 5001L, 5002L))
    // filter=>'path' (tenant scope): both routes agree on the FILTERED
    // exact top-k, every neighbor is allow-listed, and a filter file
    // carrying more than the id column fails loud
    val fDir = java.nio.file.Files.createTempDirectory("ann_tvf_f").toString + "/allow"
    emb.filter(col("vec_id") % 3 === 0).select("vec_id")
      .coalesce(1).write.parquet(fDir)
    val bruteF = spark.sql(s"SELECT * FROM corpus_ann(" +
      s"'$sfDir/embeddings.parquet', queries=>'$qDir', k=>4, filter=>'$fDir')").collect()
    val indexedF = spark.sql(s"SELECT * FROM corpus_ann(" +
      s"'$dir', queries=>'$qDir', k=>4, nprobe=>3, filter=>'$fDir')").collect()
    assert(bruteF.toSeq == indexedF.toSeq,
      s"filtered routes diverged: brute=${bruteF.take(3).mkString(";")}")
    assert(bruteF.nonEmpty && bruteF.forall(_.getLong(1) % 3 == 0),
      "a non-allow-listed neighbor escaped the filter")
    val fBad = java.nio.file.Files.createTempDirectory("ann_tvf_fb").toString + "/bad"
    emb.filter(col("vec_id") % 3 === 0).select("vec_id", "embedding")
      .coalesce(1).write.parquet(fBad)
    val eF = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_ann('$dir', '$vecStr', k=>3, " +
        s"filter=>'$fBad')").collect()
    }
    assert(eF.getMessage.contains("exactly one id column"), eF.getMessage)
    // dimension mismatch fails loud on BOTH routes (silent null-cosine
    // ranking is the failure mode this guard exists for)
    val e3 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_ann('$dir', '1.0,2.0,3.0')").collect()
    }
    assert(e3.getMessage.contains("dims"), e3.getMessage)
    val e4 = intercept[Exception] {
      spark.sql(
        s"SELECT * FROM corpus_ann('$sfDir/embeddings.parquet', '1.0,2.0,3.0')").collect()
    }
    assert(e4.getMessage.contains("dims"), e4.getMessage)
    // escape_cap=>0 disables the adaptive second pass (fixed-nprobe
    // read); the index route still answers, bounded. On the brute
    // route the option is meaningless and fails loud.
    val capped = spark.sql(
      s"SELECT * FROM corpus_ann('$dir', '$vecStr', k=>7, nprobe=>3, escape_cap=>0)").collect()
    assert(capped.length == 7 && capped.head.getLong(0) == 1L)
    val e5 = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_ann('$sfDir/embeddings.parquet', " +
        s"'$vecStr', escape_cap=>0)").collect()
    }
    assert(e5.getMessage.contains("escape_cap"), e5.getMessage)
  }

  test("content signature: same-size in-place rewrite is caught on a checksum-capable FS") {
    val s3 = new MiniS3("graftkey", "graftsecret")
    s3.start()
    try {
      graft.sources.Connections(Map(
        "default" -> graft.sources.Connection.Fs(""),
        "minio" -> graft.sources.Connection.S3(
          endpoint = s"http://127.0.0.1:${s3.port}",
          accessKeyId = "graftkey",
          secretAccessKeyId = "graftsecret",
          bucket = "graft-sig",
          root = "store"))).applyTo(spark)
      val dir = "s3a://graft-sig/store/model"
      val p = new org.apache.hadoop.fs.Path(s"$dir/part-0.bin")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def put(bytes: String): Unit = {
        val o = fs.create(p, true); o.write(bytes.getBytes("UTF-8")); o.close()
      }
      // the FS exposes a content checksum (the store's etag), and it
      // tracks content, not metadata
      put("aaaaaaaa")
      val ck1 = fs.getFileChecksum(p)
      assert(ck1 != null && ck1.getAlgorithmName == "S3-ETag")
      put("bbbbbbbb") // same length
      val ck2 = fs.getFileChecksum(p)
      assert(ck2 != null && !java.util.Arrays.equals(ck1.getBytes, ck2.getBytes))
      // the default (len, mtime) signature is blind to this rewrite BY
      // CONSTRUCTION on this store (same length; S3Lite surfaces no
      // mtime) — the documented coarse-signature caveat, pinned
      put("aaaaaaaa")
      val before = graft.pipeline.Stores.dirSig(spark, dir)
      put("bbbbbbbb")
      assert(graft.pipeline.Stores.dirSig(spark, dir) == before,
        "expected the default signature to miss a same-size rewrite (caveat pin)")
      // content signature ON: the rewrite changes the signature, so a
      // signature-keyed cache reloads instead of serving stale bytes
      spark.conf.set("spark.graft.stores.contentSignature", "true")
      try {
        put("aaaaaaaa")
        val s1 = graft.pipeline.Stores.dirSig(spark, dir)
        put("bbbbbbbb")
        val s2 = graft.pipeline.Stores.dirSig(spark, dir)
        assert(s1 != s2, "content signature must catch a same-size rewrite")
        var loads = 0
        def model(): Integer = graft.pipeline.Stores.cachedModel[Integer](
          spark, "sig-spec", dir) { loads += 1; Integer.valueOf(loads) }
        assert(model() == 1 && model() == 1) // unchanged store hits
        put("cccccccc")
        assert(model() == 2, "rewrite must miss the model cache")
        // filesystems with no checksum (local FS returns null) keep
        // the (len, mtime) signature — the flag never breaks them
        val localDir = java.nio.file.Files.createTempDirectory("sig_local")
        java.nio.file.Files.writeString(localDir.resolve("f.bin"), "x")
        val localSig = graft.pipeline.Stores.dirSig(spark, localDir.toString)
        assert(localSig.startsWith("f.bin:1:"))
      } finally spark.conf.unset("spark.graft.stores.contentSignature")
    } finally s3.stop()
  }

  test("corpus_search TVF: index phrase batch is ONE fused pruned probe, not a per-phrase union") {
    import spark.implicits._
    val docs = Engine.table(spark, sfDir, "documents").select("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_fused_idx").toString
    graft.pipeline.TextIndex.write(docs, idx)
    // real corpus bigrams guarantee hits; add a single-term phrase, a
    // repeated-term phrase, a miss, and a blank
    val seed = docs.orderBy("doc_id").limit(8).collect().map(_.getString(1))
      .map(_.trim.toLowerCase.split("\\s+").filter(_.nonEmpty))
      .filter(_.length >= 2).take(6)
    val phrases: Seq[(Long, String)] =
      seed.zipWithIndex.map { case (w, i) => (i.toLong, s"${w(0)} ${w(1)}") }.toSeq ++
        Seq((50L, seed.head.head), (51L, s"${seed.head.head} ${seed.head.head}"),
          (52L, "zzz absent"), (53L, "  "))
    // fused batch ≡ per-phrase searchPhrase (the pinned identity),
    // including the repeated-term shifted-set algebra
    val fused = graft.pipeline.TextIndex.searchPhraseMany(spark, idx, phrases, 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      .sortBy(t => (t._1, t._2))
    val perPhrase = phrases.filter(_._2.trim.nonEmpty).flatMap { case (qid, p) =>
      graft.pipeline.TextIndex.searchPhrase(spark, idx, p, 7)
        .collect().map(r => (qid, r.getLong(0), r.getLong(1)))
    }.sortBy(t => (t._1, t._2))
    assert(fused == perPhrase)
    assert(fused.map(_._1).distinct.size >= 5, "fixture must hit several phrases")
    // ...and the TVF's index route ≡ its plain-corpus route (two
    // independent implementations of the same contract)
    val qDir = java.nio.file.Files.createTempDirectory("graft_fused_q").toString + "/q"
    phrases.toDF("query_id", "query").coalesce(1).write.parquet(qDir)
    def viaTvf(path: String) = spark.sql(
      s"SELECT * FROM corpus_search('$path', queries=>'$qDir', k=>7, mode=>'phrase')")
    assert(viaTvf(idx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      .sortBy(t => (t._1, t._2)) == fused)
    assert(viaTvf(s"$sfDir/documents.parquet").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      .sortBy(t => (t._1, t._2)) == fused)
    // plan-size bound: a 100-phrase batch builds the SAME fixed-size
    // plan — the per-phrase verify is data (broadcast instance rows),
    // so leaf count stays constant instead of one union leg per phrase
    val bigDir = java.nio.file.Files.createTempDirectory("graft_fused_b").toString + "/q"
    (0 until 100).map(i => (1000L + i, s"term$i zz$i")).toDF("query_id", "query")
      .coalesce(1).write.parquet(bigDir)
    val bigPlan = spark.sql(
      s"SELECT * FROM corpus_search('$idx', queries=>'$bigDir', k=>3, mode=>'phrase')")
      .queryExecution.analyzed
    val leaves = bigPlan.collectLeaves().length
    assert(leaves <= 4,
      s"fused phrase batch must not fan out one plan leg per phrase ($leaves leaves)")
  }

  test("batch TVF inputs: columns by name, positional fallback, loud id contract") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_bcontract").toString
    // reordered + extra columns resolve BY NAME — same rows as the
    // canonical fixture order
    val canonical = base + "/canon"
    Seq((1L, "spark join"), (2L, "window hash")).toDF("query_id", "query")
      .coalesce(1).write.parquet(canonical)
    val reordered = base + "/reord"
    Seq(("spark join", "x", 1L), ("window hash", "y", 2L))
      .toDF("query", "note", "query_id").coalesce(1).write.parquet(reordered)
    def search(q: String) = spark.sql(
      s"SELECT * FROM corpus_search('$sfDir/documents.parquet', queries=>'$q', k=>5)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(search(reordered) == search(canonical))
    assert(search(canonical).nonEmpty)
    // a file that cannot satisfy the contract names the expectation
    val oneCol = base + "/one"
    Seq("spark").toDF("q").coalesce(1).write.parquet(oneCol)
    val e1 = intercept[Exception] { search(oneCol) }
    assert(e1.getMessage.contains("query_id") && e1.getMessage.contains("query"))
    // null and duplicate ids fail loud with context, never NPE/merge
    val nullId = base + "/nullid"
    Seq((Some(1L), "spark"), (None, "join")).toDF("query_id", "query")
      .coalesce(1).write.parquet(nullId)
    val e2 = intercept[Exception] { search(nullId) }
    assert(e2.getMessage.contains("null query_id"))
    val dupId = base + "/dup"
    Seq((7L, "spark"), (7L, "join")).toDF("query_id", "query")
      .coalesce(1).write.parquet(dupId)
    val e3 = intercept[Exception] { search(dupId) }
    assert(e3.getMessage.contains("duplicate query_id"))
    // the phrase batch route shares the guard (its grouped window
    // would otherwise silently merge two phrases under one id)
    val e4 = intercept[Exception] { spark.sql(
      s"SELECT * FROM corpus_search('$sfDir/documents.parquet', queries=>'$dupId', " +
        "k=>5, mode=>'phrase')").collect() }
    assert(e4.getMessage.contains("duplicate query_id"))
    // corpus_ann: reordered embedding batch serves identically; dup id loud
    val emb = Engine.table(spark, sfDir, "embeddings")
    val annCanon = base + "/annc"
    emb.orderBy("vec_id").limit(3)
      .select(col("vec_id").as("query_id"), col("embedding"))
      .coalesce(1).write.parquet(annCanon)
    val annReord = base + "/annr"
    emb.orderBy("vec_id").limit(3)
      .select(col("embedding"), col("vec_id").as("query_id"))
      .coalesce(1).write.parquet(annReord)
    def ann(q: String) = spark.sql(
      s"SELECT * FROM corpus_ann('$sfDir/embeddings.parquet', queries=>'$q', k=>3)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    assert(ann(annReord) == ann(annCanon) && ann(annCanon).nonEmpty)
    val annDup = base + "/anndup"
    emb.orderBy("vec_id").limit(2)
      .select((col("vec_id") * 0 + 9).as("query_id"), col("embedding"))
      .coalesce(1).write.parquet(annDup)
    val e5 = intercept[Exception] { ann(annDup) }
    assert(e5.getMessage.contains("duplicate query_id"))
    // a null embedding fails loud naming it, on corpus_ann as on
    // corpus_hybrid, and a batch mixing vector lengths fails on both
    val annNull = base + "/annnull"
    Seq((1L, Some(Seq(0.1, 0.2))), (2L, None)).toDF("query_id", "embedding")
      .coalesce(1).write.parquet(annNull)
    val e6 = intercept[Exception] { ann(annNull) }
    assert(e6.getMessage.contains("null embedding in the batch parquet"),
      e6.getMessage)
    val annMixed = base + "/annmix"
    Seq((1L, Seq(0.1, 0.2)), (2L, Seq(0.1, 0.2, 0.3)))
      .toDF("query_id", "embedding").coalesce(1).write.parquet(annMixed)
    val e7 = intercept[Exception] { ann(annMixed) }
    assert(e7.getMessage.contains("mix dimensions"), e7.getMessage)
    val hybMixed = base + "/hybmix"
    Seq((1L, "spark", Seq(0.1, 0.2)), (2L, "join", Seq(0.1, 0.2, 0.3)))
      .toDF("query_id", "query", "embedding").coalesce(1).write.parquet(hybMixed)
    val e8 = intercept[Exception] { spark.sql(
      s"SELECT * FROM corpus_hybrid('$sfDir/documents.parquet', " +
        s"'$sfDir/embeddings.parquet', queries=>'$hybMixed')").collect() }
    assert(e8.getMessage.contains("mix dimensions"), e8.getMessage)
  }

  test("corpus_dedup TVF: threshold below the frozen scheme's design threshold fails loud") {
    import spark.implicits._
    val docs = Engine.table(spark, sfDir, "documents").select("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_design_t").toString
    // default scheme (bands=16, rows_per_band=4): design threshold
    // (1/16)^(1/4) = 0.5 — candidate recall collapses below it
    graft.pipeline.TextDedup.writeBandIndex(docs, idx)
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM corpus_dedup('$idx', threshold=>0.3)").collect()
    }
    assert(e.getMessage.contains("design threshold"))
    // above the design threshold the index serves
    assert(spark.sql(s"SELECT * FROM corpus_dedup('$idx', threshold=>0.55)")
      .collect() != null)
    // the PLAIN route has no frozen scheme — 0.3 is served (exact
    // inverted-index join, no LSH recall cliff)
    assert(spark.sql(
      s"SELECT * FROM corpus_dedup('$sfDir/documents.parquet', threshold=>0.3)")
      .count() >= 0)
  }

  test("read_store TVF: marker-free base serves the live read (liveGeneration contract)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rs_nomark").toString
    graft.pipeline.CorpusStore.write(
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"), dir, buckets = 2)
    // a store copied file-by-file loses _SUCCESS; Stores.liveGeneration
    // still serves the base, and the TVF follows the same contract
    val marker = new org.apache.hadoop.fs.Path(s"$dir/corpus/_SUCCESS")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(marker, false))
    val rows = spark.sql(s"SELECT * FROM read_store('$dir')")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(rows == Seq((1L, "a"), (2L, "b")))
    // time travel stays strict: committed generations only
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM read_store('$dir', as_of=>0)").collect()
    }
    assert(e.getMessage.contains("GENERATION_PRUNED"))
    // a genuinely non-store path still fails loud
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM read_store('$dir/corpus')").collect()
    }
    assert(e2.getMessage.contains("not a corpus store layout"))
  }
}
