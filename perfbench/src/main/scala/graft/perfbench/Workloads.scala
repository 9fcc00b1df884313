package graft.perfbench

import java.nio.file.Paths
import java.sql.{DriverManager, SQLException}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.io.Sources

/** A benchmark workload: which inputs it generates, the standing layout
  * it builds during set-up, and one iteration of client ops.
  */
trait Workload {
  def name: String
  /** Source SF directory (under the test-data root) the inputs derive from. */
  def sourceSf: String
  def replicas: Int
  def tables: Seq[String]
  /** Standing layout or indexes the ops rely on: part of set-up. */
  def prepare(spark: SparkSession, in: String, layout: String): Unit
  /** Iteration `i` of the client's ops. */
  def step(run: Run, in: String, i: Int): Unit
  /** Output checks made after the timed window, and the space the
    * workload keeps at rest: (bytes at rest, bytes of one plain-parquet
    * write of the same live rows).
    */
  def finish(run: Run, in: String): (Long, Long)
}

object Workloads {
  def apply(name: String, traced: Boolean): Workload = name match {
    case "migrate" => new MigrateWorkload(traced)
    case "corpus" => new CorpusWorkload
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (migrate, corpus)")
  }

  /** Blocking release of every memo and persisted block, as `graft.Bench`
    * does between passes.
    */
  def release(spark: SparkSession): Unit = {
    graft.ops.Dedup.clearCaches()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Files the table-format scans of an executed query read. */
  def filesScanned(df: DataFrame): Long = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
          if f.relation.location.isInstanceOf[graft.io.ManifestFileIndex] =>
        f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
  }

  def shuffled[T](xs: Seq[T], rng: java.util.Random): Seq[T] = {
    val a = xs.toBuffer
    for (i <- a.indices.reverse.dropRight(1)) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}

/** The records path. Each iteration runs the paper's own path, a full
  * OpenMRS bundle migration into a fresh embedded Derby database through
  * `graft.Migrate.run`, after which the client reads each landed table back
  * and looks clients up in it. Calls no `ops.*` module.
  *
  * A traced run adds one block of lake ops on the same clients' orders per
  * iteration ([[Lake]]), so the table-format layers are measured layer by
  * layer. Untraced runs leave it out: a cold lake block costs more than the
  * migration, and untraced runs are kept short.
  */
final class MigrateWorkload(traced: Boolean) extends Workload {
  val name = "migrate"
  val sourceSf = "sf0.01"
  val replicas = 1
  val tables = Seq("customer", "nation") ++ (if (traced) Seq("orders", "lineitem") else Nil)

  private val lake = if (traced) Some(new Lake) else None

  private val Bundle = Seq("person", "person_name", "person_address",
    "person_attribute", "patient", "patient_identifier",
    "dreams_client_patient_mapping")
  private val KeyCol = Map("person" -> "person_id",
    "person_name" -> "person_id", "person_address" -> "person_id",
    "person_attribute" -> "person_id", "patient" -> "patient_id",
    "patient_identifier" -> "patient_id",
    "dreams_client_patient_mapping" -> "patient_id")
  private val Lookups = 5

  private var clients: Array[Long] = Array.empty

  def prepare(spark: SparkSession, in: String, layout: String): Unit = {
    clients = spark.read.parquet(s"$in/customer.parquet")
      .select(col("c_custkey")).collect().map(_.getLong(0)).sorted
    lake.foreach(_.prepare(spark, in, layout))
  }

  private def expected(t: String): Long =
    if (t == "person_attribute") 3L * clients.length else clients.length.toLong

  /** The identifier the bundle must carry for client `c`. */
  private def identifier(c: Long): String =
    if (c % 3 == 0) s"NAT-$c"
    else if (c % 2 == 0) s"BC-$c"
    else s"GEN-$c-${graft.etl.Migration.luhnMod30(c.toString)}"

  def step(run: Run, in: String, i: Int): Unit = {
    val spark = run.spark
    val db = s"${run.work}/derby/m$i"
    val url = s"jdbc:derby:$db;create=true"
    val mig = run.op("write", "migrate", "etl.Migration") { _ =>
      graft.Migrate.run(spark, in, s"${run.work}/unused", Some(url))
    }
    mig.foreach(counts => run.ops.last.extra("landed_rows") = counts.map(_._3).sum)
    val migOp = run.ops.last
    if (run.timing) {
      run.walls += migOp.seconds
      run.wallCounts += ((migOp.taskCpu, migOp.jobs))
    }
    val n = clients.length.toLong
    val reads = Bundle.map { t =>
      run.op("read", s"read_$t", "io.Sources") { o =>
        val got = Sources.jdbcRead(spark, url, t, KeyCol(t), 1L, n, 4).count()
        o.extra("table") = t
        got
      }.foreach(got => if (got != expected(t))
        run.reject(run.ops.last, s"$t read back $got rows, expected ${expected(t)}"))
      run.ops.last
    }
    (1 to Lookups).foreach { _ =>
      val c = clients(run.rng.nextInt(clients.length))
      run.op("search", "lookup_client", "io.Sources") { o =>
        val m = Sources.jdbcRead(spark, url, "dreams_client_patient_mapping",
          "patient_id", 1L, n, 1).filter(col("client_id") === c)
        val ids = Sources.jdbcRead(spark, url, "patient_identifier",
          "patient_id", 1L, n, 1)
        val got = m.join(ids, "patient_id").select(col("identifier")).collect()
          .map(_.getString(0)).toSeq
        if (got != Seq(identifier(c)))
          run.reject(o, s"client $c resolved to $got, expected ${identifier(c)}")
      }
    }
    pending += ((db, migOp, mig, reads))
    lake.foreach(_.block(run))
  }

  /** Landed databases awaiting their checks: (dir, migration op, its
    * report, the read-back ops).
    */
  private val pending = scala.collection.mutable.ArrayBuffer
    .empty[(String, Op, Option[Seq[(String, Long, Long)]], Seq[Op])]

  private def withDb[T](url: String)(f: java.sql.Connection => T): T = {
    val conn = DriverManager.getConnection(url)
    try f(conn) finally conn.close()
  }

  private def shutdown(db: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:$db;shutdown=true").close()
    catch { case _: SQLException => () } // Derby reports a clean shutdown as an error

  /** Problems with one landed bundle; empty when it is correct. Reads the
    * key columns straight from Derby (Spark created them quoted, so they
    * stay lower case) and checks them in memory.
    */
  private def checkBundle(url: String, counts: Seq[(String, Long, Long)]): Seq[String] =
    withDb(url) { conn =>
      def longs(sql: String): Seq[Long] = {
        val rs = conn.createStatement().executeQuery(sql)
        val out = scala.collection.mutable.ArrayBuffer.empty[Long]
        while (rs.next()) out += rs.getLong(1)
        rs.close()
        out.toSeq
      }
      val countIssues = Bundle.flatMap { t =>
        val c = counts.find(_._1 == t)
        val rows = longs(s"SELECT COUNT(*) FROM $t").head
        Seq(
          if (c.isEmpty) Some(s"$t missing from the migration report") else None,
          c.filter(x => x._2 != expected(t) || x._3 != expected(t))
            .map(x => s"$t reported source=${x._2} landed=${x._3}, expected ${expected(t)}"),
          if (rows != expected(t)) Some(s"$t holds $rows rows, expected ${expected(t)}")
          else None).flatten
      }
      val n = clients.length.toLong
      val persons = longs("""SELECT "person_id" FROM person""")
      val personSet = persons.toSet
      val dense =
        if (persons.size == n && personSet == (1L to n).toSet) Nil
        else Seq(s"person_id is not unique and dense over 1..$n")
      val patients = longs("""SELECT "patient_id" FROM patient""").toSet
      def dangling(child: String, fk: String, parent: Set[Long], name: String): Seq[String] = {
        val bad = longs(s"""SELECT "$fk" FROM $child""").count(k => !parent.contains(k))
        if (bad == 0) Nil else Seq(s"$bad $child.$fk rows do not resolve to $name")
      }
      val fks =
        Seq("person_name", "person_address", "person_attribute", "patient")
          .flatMap(t => dangling(t, KeyCol(t), personSet, "person")) ++
          Seq("patient_identifier", "dreams_client_patient_mapping")
            .flatMap(t => dangling(t, "patient_id", patients, "patient"))
      val mapped = longs("""SELECT "client_id" FROM dreams_client_patient_mapping""").toSet
      val uncovered = clients.count(c => !mapped.contains(c))
      val cover = if (uncovered == 0) Nil else Seq(s"$uncovered clients have no mapping row")
      countIssues ++ dense ++ fks ++ cover
    }

  def finish(run: Run, in: String): (Long, Long) = {
    var dbBytes = 0L
    pending.foreach { case (db, migOp, mig, reads) =>
      val url = s"jdbc:derby:$db"
      if (run.corrupt && migOp.timed) withDb(url) { conn =>
        conn.createStatement().executeUpdate(
          """UPDATE person_name SET "person_id" = -1 WHERE "person_id" = 1""")
      }
      mig match {
        case Some(counts) => checkBundle(url, counts).foreach(run.reject(migOp, _))
        case None => reads.foreach(run.reject(_, "migration failed"))
      }
      shutdown(db)
      dbBytes = Io.bytesUnder(Paths.get(db))
      Io.deleteTree(Paths.get(db))
    }
    lake.foreach(l => run.notes("lake_space") = l.finish(run))
    // bytes the target holds per byte of the source roster
    (dbBytes, Seq("customer", "nation")
      .map(t => Io.bytesUnder(Paths.get(s"$in/$t.parquet"))).sum)
  }
}

/** The corpus operators: a build phase of registered queries from every
  * `ops` module, memos released between iterations as `graft.Bench` does,
  * then lookups against the standing indexes (search) and their
  * corpus-scan twins (read).
  */
final class CorpusWorkload extends Workload {
  val name = "corpus"
  val sourceSf = "sf0.01"
  val replicas = 1
  val tables = Seq("documents", "embeddings", "customer")

  val Build = Seq("q_dedup_substring_run", "q_simjoin_prefix",
    "q_text_bigram_lp", "q_graph_triangles")
  val Search = Seq("q_text_bm25_indexed", "q_text_phrase_indexed")
  val Read = Seq("q_text_bm25", "q_sim_ivf")

  def layerOf(key: String): String =
    if (key.startsWith("q_dedup")) "ops.Dedup"
    else if (key.startsWith("q_simjoin")) "ops.SimJoin"
    else if (key.startsWith("q_sim_") || key.startsWith("q_ivf")) "ops.Similarity"
    else if (key.startsWith("q_pagerank") || key.startsWith("q_graph")) "ops.Graph"
    else "ops.TextOps"

  private var indexDir = ""

  /** DuckDB twins of the keys, looked up once: `SparkEntry.oracleSql`
    * rebuilds its map on every call.
    */
  private lazy val oracle: Map[String, String] = {
    val all = graft.SparkEntry.oracleSql
    (Build ++ Search ++ Read).map(k => k -> all.getOrElse(k, "")).toMap
  }

  def prepare(spark: SparkSession, in: String, layout: String): Unit =
    indexDir = graft.ops.TextOps.indexRoot(spark, in)

  def step(run: Run, in: String, i: Int): Unit = {
    val spark = run.spark
    val q = graft.SparkEntry.queries
    val tag = s"i$i"
    val (cpu0, jobs0) = run.meter.read()
    val t0 = System.nanoTime()
    Workloads.shuffled(Build, run.rng).foreach { k =>
      val dir = s"${run.work}/results/$tag/$k"
      run.op("write", k, layerOf(k)) { o =>
        o.extra("key") = k
        o.extra("result") = dir
        o.extra("oracle") = oracle(k)
        q(k)(spark, in).write.parquet(dir)
      }
    }
    if (run.timing) {
      run.walls += (System.nanoTime() - t0) / 1e9
      val (cpu1, jobs1) = run.meter.read()
      run.wallCounts += ((cpu1 - cpu0, jobs1 - jobs0))
    }
    Workloads.release(spark)
    def lookups(cls: String, keys: Seq[String]): Unit =
      Workloads.shuffled(keys, run.rng).foreach { k =>
        val dir = s"${run.work}/results/$tag/$k"
        var df: DataFrame = null
        run.op(cls, k, layerOf(k)) { o =>
          o.extra("key") = k
          o.extra("result") = dir
          o.extra("oracle") = oracle(k)
          df = q(k)(spark, in)
          df.collect()
        }.foreach { rows =>
          spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
            .write.parquet(dir)
        }
      }
    lookups("search", Search)
    lookups("read", Read)
  }

  /** Bytes of the standing index per byte of the corpus it indexes. */
  def finish(run: Run, in: String): (Long, Long) =
    (Io.bytesUnder(Paths.get(indexDir)), Io.bytesUnder(Paths.get(s"$in/documents.parquet")))
}

/** Table-format lake: `orders` and `lineitem` landed by SQL CTAS plus one
  * materialized view, then blocks of one client's seeded op stream: writes
  * (INSERT, MERGE, DELETE, UPDATE, REFRESH, an OPTIMIZE every few commits)
  * and reads (range, aggregate, three-way join, time travel, key lookups)
  * against the live snapshot, all through `spark.sql`. Each block holds
  * every kind of op once, in a seeded order.
  */
final class Lake {
  private val Provider = classOf[graft.io.TableFormatSourceProvider].getName

  private var root = ""
  private var keyLo = 0L
  private var keyHi = 0L
  private var orderKeys: Array[Long] = Array.empty
  private var nextOff = 100L
  /** Versions of `lk_orders` a time-travel read may pick, with the op
    * index after which each was current (-1 = the CTAS).
    */
  private val ordersVersions = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]

  def prepare(spark: SparkSession, in: String, layout: String): Unit = {
    root = layout
    Seq("orders", "lineitem", "customer").foreach { t =>
      spark.read.parquet(s"$in/$t.parquet").createOrReplaceTempView(s"src_$t")
    }
    spark.sql("DROP TABLE IF EXISTS lk_orders")
    spark.sql("DROP TABLE IF EXISTS lk_lineitem")
    spark.sql(s"""CREATE TABLE lk_orders USING `$Provider`
      OPTIONS (path '$root/orders', statsCols 'o_orderkey')
      AS SELECT * FROM src_orders""")
    spark.sql(s"""CREATE TABLE lk_lineitem USING `$Provider`
      OPTIONS (path '$root/lineitem', statsCols 'l_orderkey')
      AS SELECT * FROM src_lineitem""")
    spark.sql(s"""CREATE MATERIALIZED VIEW '$root/mv' AS
      SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sq
      FROM '$root/lineitem' GROUP BY l_returnflag, l_linestatus""")
    orderKeys = spark.table("src_orders").select(col("o_orderkey")).collect()
      .map(_.getLong(0)).sorted
    keyLo = orderKeys.head; keyHi = orderKeys.last
    ordersVersions.clear()
    ordersVersions += ((graft.io.TableFormat.latestVersion(s"$root/orders"), -1))
  }

  private def range(run: Run, width: Long): (Long, Long) = {
    val a = keyLo + (run.rng.nextDouble() * (keyHi - keyLo - width)).toLong
    (a, a + width)
  }

  /** A seeded key that exists in the source orders. */
  private def someKey(run: Run): Long = orderKeys(run.rng.nextInt(orderKeys.length))

  private def write(run: Run, kind: String, sql: String, duck: Seq[String],
      table: String, layer: String = "io.TableFormat.commit"): Unit = {
    run.op("write", kind, layer) { o =>
      o.extra("sql") = sql
      o.extra("duck") = duck
      o.extra("table") = table
      run.spark.sql(sql)
    }
    if (table == "lk_orders" && run.ops.last.ok)
      ordersVersions += ((graft.io.TableFormat.latestVersion(s"$root/orders"),
        run.ops.last.index))
  }

  private def read(run: Run, cls: String, kind: String, sql: String,
      duck: String, extra: (String, Any)*): Unit = {
    var df: DataFrame = null
    run.op(cls, kind, "io.TableFormat.read") { o =>
      o.extra("sql") = sql
      o.extra("duck") = duck
      extra.foreach { case (k, v) => o.extra(k) = v }
      df = run.spark.sql(sql)
      o.rows = Rows.plain(df.collect())
    }
    run.tracer.foreach(t => if (df != null) t.scanned(Workloads.filesScanned(df)))
  }

  private val MvSql =
    """SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sq
      |FROM lk_lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** The ops of one block: every kind once, in a seeded order, so one
    * OPTIMIZE lands among every five other commits.
    */
  private val Block = Seq("insert", "merge", "delete", "update", "refresh",
    "optimize", "range", "aggregate", "join", "time_travel", "lookup_order",
    "lookup_lineitem")

  private def nextOp(run: Run, kind: String): Unit = {
    val rng = run.rng
    kind match {
      case "optimize" =>
        write(run, "optimize", s"OPTIMIZE '$root/lineitem'", Nil, "lk_lineitem")
      case "insert" => // a copied key range under fresh keys
        val (a, b) = range(run, 40)
        val off = nextOff * Inputs.Shift; nextOff += 1
        val sql = s"""INSERT INTO lk_lineitem SELECT l_orderkey + $off, l_partkey,
          l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount,
          l_tax, l_returnflag, l_linestatus, l_shipdate FROM src_lineitem
          WHERE l_orderkey BETWEEN $a AND $b"""
        write(run, "insert", sql, Seq(sql), "lk_lineitem")
      case "merge" => // even keys update, odd keys insert under fresh keys
        val (a, b) = range(run, 40)
        val off = nextOff * Inputs.Shift; nextOff += 1
        val src = s"""SELECT o_orderkey + CASE WHEN o_orderkey % 2 = 0 THEN 0
          ELSE $off END AS o_orderkey, o_custkey, 'M' AS o_orderstatus,
          o_totalprice + 1.0 AS o_totalprice, o_orderdate, o_orderpriority
          FROM src_orders WHERE o_orderkey BETWEEN $a AND $b"""
        val sql = s"""MERGE INTO lk_orders t USING ($src) s
          ON t.o_orderkey = s.o_orderkey
          WHEN MATCHED THEN UPDATE SET o_orderstatus = s.o_orderstatus,
            o_totalprice = s.o_totalprice
          WHEN NOT MATCHED THEN INSERT *"""
        val duck = Seq(
          s"""UPDATE lk_orders SET o_orderstatus = s.o_orderstatus,
            o_totalprice = s.o_totalprice FROM ($src) s
            WHERE lk_orders.o_orderkey = s.o_orderkey""",
          s"""INSERT INTO lk_orders SELECT * FROM ($src) s
            WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM lk_orders)""")
        write(run, "merge", sql, duck, "lk_orders")
      case "delete" =>
        val (a, b) = range(run, 30)
        val sql = s"DELETE FROM lk_lineitem WHERE l_orderkey BETWEEN $a AND $b"
        write(run, "delete", sql, Seq(sql), "lk_lineitem")
      case "update" =>
        val (a, b) = range(run, 60)
        val sql = s"""UPDATE lk_orders SET o_orderpriority = 'U${run.ops.size}'
          WHERE o_orderkey BETWEEN $a AND $b"""
        write(run, "update", sql, Seq(sql), "lk_orders")
      case "refresh" => // then read the view back for the check
        write(run, "refresh", s"REFRESH MATERIALIZED VIEW '$root/mv'", Nil,
          "mv", layer = "io.MatView")
        val o = run.ops.last
        if (o.ok) o.rows = Rows.plain(run.spark.sql(
          s"SELECT * FROM graft_mv('$root/mv') ORDER BY l_returnflag, l_linestatus")
          .collect())
        o.extra("duck_check") = MvSql
      case "range" =>
        val (a, b) = range(run, 200)
        val sql = s"""SELECT count(*) AS n, sum(l_quantity) AS q FROM lk_lineitem
          WHERE l_orderkey BETWEEN $a AND $b"""
        read(run, "read", "range", sql, sql)
      case "aggregate" => // over the whole live table
        read(run, "read", "aggregate", MvSql, MvSql)
      case "join" => // orders ⋈ lineitem ⋈ customer
        val (a, b) = range(run, 2000)
        val sql = s"""SELECT c.c_mktsegment, count(*) AS n, sum(l.l_quantity) AS q
          FROM lk_orders o JOIN lk_lineitem l ON o.o_orderkey = l.l_orderkey
          JOIN src_customer c ON o.o_custkey = c.c_custkey
          WHERE o.o_orderkey BETWEEN $a AND $b
          GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment"""
        read(run, "read", "join", sql, sql)
      case "time_travel" => // to an earlier orders version
        val (v, after) = ordersVersions(rng.nextInt(ordersVersions.size))
        val q = "SELECT count(*) AS n, sum(o_totalprice) AS p FROM "
        read(run, "read", "time_travel", s"${q}lk_orders VERSION AS OF $v",
          s"${q}snap_orders_${after + 1}", "snapshot_after" -> after)
      case "lookup_order" =>
        val k = someKey(run)
        val sql = s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
          o_orderpriority FROM lk_orders WHERE o_orderkey = $k"""
        read(run, "search", "lookup_order", sql, sql)
      case "lookup_lineitem" =>
        val k = someKey(run)
        val sql = s"""SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
          FROM lk_lineitem WHERE l_orderkey = $k ORDER BY l_linenumber"""
        read(run, "search", "lookup_lineitem", sql, sql)
    }
  }

  def block(run: Run): Unit = Workloads.shuffled(Block, run.rng).foreach(nextOp(run, _))

  /** Final snapshots for the checks; returns the bytes under the table
    * roots and the bytes of one plain-parquet write of the same live rows.
    */
  def finish(run: Run): (Long, Long) = {
    val spark = run.spark
    val snap = s"${run.work}/lake_final"
    spark.table("lk_orders").write.parquet(s"$snap/lk_orders")
    spark.table("lk_lineitem").write.parquet(s"$snap/lk_lineitem")
    spark.sql(s"SELECT * FROM graft_mv('$root/mv')").write.parquet(s"$snap/mv")
    run.notes("lake_final") = snap
    (Seq("orders", "lineitem", "mv").map(t => Io.bytesUnder(Paths.get(s"$root/$t"))).sum,
      Io.bytesUnder(Paths.get(snap)))
  }
}
