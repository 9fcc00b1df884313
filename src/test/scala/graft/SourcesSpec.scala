package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.io.Sources

/** S5 source specs: CSV and JSON round-trips through `Sources` with and
  * without explicit schemas (100 TB rule: pass the schema, never infer).
  */
class SourcesSpec extends TestSpark {

  import spark.implicits._

  test("csv round-trips with explicit schema (no inference scan)") {
    val dir = Files.createTempDirectory("graft_csv").toString
    Seq((1L, "alpha", 1.5), (2L, "beta", -2.25))
      .toDF("id", "name", "score")
      .write.option("header", "true").mode("overwrite").csv(dir)
    val back = Sources.csv(spark, dir,
      Some("id BIGINT, name STRING, score DOUBLE"))
    assert(back.schema.map(_.dataType.simpleString) ===
      Seq("bigint", "string", "double"))
    val rows = back.orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(rows(1).getDouble(2) === -2.25)
  }

  test("json round-trips and handles missing fields as nulls") {
    val dir = Files.createTempDirectory("graft_json").toString
    Seq("""{"id": 1, "tag": "x"}""", """{"id": 2}""")
      .toDS().write.mode("overwrite").text(dir)
    val back = Sources.json(spark, dir, Some("id BIGINT, tag STRING"))
      .orderBy("id").collect()
    assert(back.length === 2)
    assert(back(0).getString(1) === "x")
    assert(back(1).isNullAt(1))
  }

  test("Sources.table learns a schema from one footer: no Spark job, " +
      "the schema a schema-less read infers") {
    import org.apache.spark.sql.types.TimestampType
    def read(dir: String, t: String) = spark.read.parquet(s"$dir/$t.parquet")
    // every sf0.001 table; events as its contract reads it (ts cast from
    // the fixture's TIMESTAMP_NTZ)
    val tables = new java.io.File(Sf).list().toSeq
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    assert(tables.contains("events") && tables.size >= 10, tables)
    tables.foreach { t =>
      var df: org.apache.spark.sql.DataFrame = null
      assert(jobsOf { df = Sources.table(spark, Sf, t) } === 0, t)
      val want =
        if (t == "events") read(Sf, t).withColumn("ts",
          col("ts").cast(TimestampType))
        else read(Sf, t)
      assert(df.schema === want.schema, t)
    }
    // a multi-file dir written by Spark: its footers record NOT NULL
    // columns, which a read still reports nullable
    val dir = Files.createTempDirectory("graft_footer").toString
    spark.range(0, 400, 1, 4)
      .select(col("id"), (col("id") % 7).cast("int").as("x"),
        lit("s").as("s"), lit(null).cast("string").as("n"))
      .write.parquet(s"$dir/multi.parquet")
    assert(new java.io.File(s"$dir/multi.parquet").list()
      .count(_.endsWith(".parquet")) === 4)
    assert(!graft.io.TableFormat.footerSchema(spark, s"$dir/multi.parquet")(
      "id").nullable)
    var multi: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { multi = Sources.table(spark, dir, "multi") } === 0)
    assert(multi.schema === read(dir, "multi").schema)
    assert(multi.schema("id").nullable)
    assert(multi.count() === 400L)
  }

  test("Sources.table reads a TIMESTAMP(NANOS) events file as µs, " +
      "with no Spark job") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("graft_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,true));
        |}""".stripMargin)
    val conf = spark.sessionState.newHadoopConf()
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new Path(s"$dir/events.parquet"), conf)).withType(schema).build()
    val nanos = Seq(1704067200123456789L, 1704067261000000999L)
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      w.write(new SimpleGroupFactory(schema).newGroup()
        .append("event_id", i.toLong).append("ts", ns))
    } finally w.close()
    var df: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { df = Sources.table(spark, dir, "events") } === 0)
    // the flag is scoped to the read: the session no longer has it
    assert(spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
      .forall(_ == "false"))
    // the schema a flagged schema-less read infers, after the µs cast
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val want = try spark.read.parquet(s"$dir/events.parquet")
      .withColumn("ts", timestamp_micros(expr("ts div 1000"))).schema
      finally spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    assert(df.schema === want)
    val micros = df.orderBy("event_id")
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
    assert(micros === nanos.map(_ / 1000))
  }

  test("q_src_csv fixture invariant: no nulls/commas/quotes in csv columns") {
    // qSrcCsv's Spark/DuckDB equivalence rests on the four formatted events
    // columns containing no nulls, commas, or quotes: Spark's concat_ws
    // silently DROPS a null field (shifting the rest) while DuckDB's ||
    // nulls the whole line — a fixture change would make the oracle diverge
    // silently. Fail loudly here instead (round-4 ADVICE).
    val violations = Sources.table(spark, Sf, "events")
      .filter(
        col("event_id").isNull || col("user_id").isNull ||
        col("event_type").isNull || col("value").isNull ||
        col("event_type").contains(",") || col("event_type").contains("\""))
      .count()
    assert(violations === 0L,
      s"$violations events rows violate the q_src_csv unquoted-CSV invariant")
  }

  test("partitioned events scan prunes directories, statically and via DPP") {
    // static pruning: the day predicate must bind to the partition column —
    // PartitionFilters on the scan, not a post-scan Filter over all 30 days
    val q = graft.SparkEntry.queries("q_src_partitioned")(spark, Sf)
    val plan = q.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(pf.contains("event_date"),
      s"day predicate did not reach PartitionFilters:\n$plan")
    // dynamic partition pruning: joining the partitioned fact to a
    // selectively-filtered dim on the partition column must plan a
    // dynamicpruning subquery filter on the scan (SURVEY §4.2 DPP row)
    val fact = graft.io.Sources.partitionedEvents(spark, Sf)
    val dim = fact.select("event_date").distinct()
      .filter(dayofmonth(col("event_date")) === 3)
    val dppPlan = fact.join(dim, "event_date")
      .groupBy("event_date").count()
      .queryExecution.executedPlan.toString
    assert(dppPlan.contains("dynamicpruning"),
      s"no dynamic partition pruning in join plan:\n$dppPlan")
  }

  test("bad records null out in PERMISSIVE mode but FAILFAST throws") {
    // PERMISSIVE (default): the q_src_badrecords path quarantines exactly
    // the planted 1-in-7 truncated documents
    val q = graft.SparkEntry.queries("q_src_badrecords")(spark, Sf)
    val bad = q.filter(col("is_bad")).select("event_id").collect()
      .map(_.getLong(0))
    assert(bad.nonEmpty && bad.forall(_ % 7 == 0))
    assert(q.filter(col("is_bad") && col("k").isNotNull).count() === 0)
    // FAILFAST: the same malformed line kills the job loudly instead
    val failfast = Sources.table(spark, Sf, "events")
      .select(from_json(substring(col("props"), 1, 5),
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"),
        Map("mode" -> "FAILFAST")).as("rec"))
    val e = intercept[org.apache.spark.SparkException] {
      failfast.collect()
    }
    assert(e.getMessage.contains("Malformed") ||
      e.getCondition != null, s"unexpected failfast error: $e")
  }

  test("packed shards land one file per shard, contiguous in pack order") {
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files
      .createTempDirectory("graft_shards").toString
    val packed = SparkEntry.queries("q_pack_sequences")(spark, Sf)
    graft.io.Layout.writePackedShards(packed, out)
    val shardDirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(shardDirs.length === 32, s"expected 32 shard dirs in $out")
    shardDirs.take(4).foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1,
        s"${d.getName}: ${files.length} files — contiguous contract broken")
      // file order IS pack order: (seq_id, doc_id) nondecreasing as read
      val rows = spark.read.parquet(files.head.getPath)
        .select(col("seq_id"), col("doc_id"))
        .coalesce(1).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.sameElements(rows.sortBy(identity)),
        s"${d.getName} not in (seq_id, doc_id) order")
    }
  }

  test("shard reader pos == landed physical file order (trainer round-trip)") {
    import org.apache.spark.sql.functions.col
    // land the deterministic training order, then prove the READER's
    // declared positions match the raw in-file row order a non-Spark
    // trainer streaming the file bytes would see
    val out = java.nio.file.Files
      .createTempDirectory("graft_shuffle_rt").toString
    val order = SparkEntry.queries("q_corpus_shuffle")(spark, Sf)
      .select(col("doc_id"), col("key"), col("shard"),
        col("pos").as("seq_id"))
    graft.io.Layout.writePackedShards(order, out)
    val reader = graft.io.Layout.readPackedShards(spark, out)
    new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
      .take(4).foreach { d =>
        val shard = d.getName.stripPrefix("shard=").toInt
        val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
        assert(files.length === 1, s"${d.getName}: expected one file")
        val physical = spark.read.parquet(files.head.getPath)
          .select("doc_id").coalesce(1).collect().map(_.getLong(0))
        val declared = reader.filter(col("shard") === shard)
          .orderBy("pos").select("doc_id").collect().map(_.getLong(0))
        assert(declared.sameElements(physical),
          s"shard $shard: reader order diverges from file order")
      }
  }

  test("orc round-trips real table data with predicate pushdown intact") {
    val dir = Files.createTempDirectory("graft_orc").toString
    val src = Sources.table(spark, Sf, "events")
      .select("event_id", "user_id", "event_type", "value")
    src.write.mode("overwrite").orc(dir)
    val back = Sources.orc(spark, dir)
    assert(back.count() === src.count())
    // same content, both directions
    assert(back.exceptAll(src).count() === 0)
    assert(src.exceptAll(back).count() === 0)
    // the filter reaches the ORC scan (pushed, not post-scan)
    val plan = back.filter(col("user_id") === 7)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("EqualTo(user_id,7)"), s"no pushdown in:\n$plan")
  }
}
