package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Raise the window-exec logger to ERROR: several verified queries carry
    * DELIBERATE single-partition windows over model-sized frames (domain
    * quotas in q_corpus_mix, the unscaled surrogate-key/ntile variants —
    * each documented at its site), so WindowExec's per-execution warning
    * fires hundreds of times per run and buries real warnings. The
    * regression signal for data-sized global windows is owned by
    * PlanAuditSpec / assertOnlyPidWindows, which assert the PLAN — a log
    * line nobody can read through is not a safety net.
    */
  private[graft] def quietTinyFrameWindowWarnings(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)

  /** Refuse result schemas the driver's compare harness cannot process:
    * pandas sorts every result column before hashing, and an array/map/
    * struct cell raises `TypeError: unhashable type` there — which
    * surfaces as a red CORRECTNESS row, not a build failure. This bit us
    * in round 1 (`q_agg_collect`) and again in round 13
    * (`q_text_postings`); the rule lived in a comment
    * (ops/Relational.scala, "hash can't sort array cells") both times.
    * Serialization (`array_join`, `to_json`) is the registered query's
    * job; this guard makes the rule mechanical: every registered query —
    * oracle-eligible or rows-only — must emit flat, hashable columns.
    */
  private[graft] def assertHashableSchema(
      name: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val bad = schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] ||
                f.dataType.isInstanceOf[MapType]   ||
                f.dataType.isInstanceOf[StructType] =>
        s"`${f.name}` ${f.dataType.simpleString}"
    }
    if (bad.nonEmpty) throw new IllegalStateException(
      s"query '$name' emits non-hashable result column(s) " +
        s"${bad.mkString(", ")} — the oracle compare sorts cells in " +
        "pandas and dies on array/map/struct; serialize with " +
        "array_join/to_json before registering")
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional args 3+: run only these query keys (dev loop with
    // dev/oracle_check.py); the driver's two-arg invocation is unchanged
    val only: Set[String] = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // the SQL surface (vec_dot / minhash_sig / simhash_sig) rides along
      // in the driver path, not just in specs
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    quietTinyFrameWindowWarnings()
    // the class-name extension path fails SILENTLY if the class can't load
    // (Spark logs a warning and builds the session anyway) — probe the SQL
    // surface so a regression is visible in the verify log, without
    // failing the run (no oracle query depends on SQL-registered names)
    try {
      spark.sql(
        "SELECT vec_dot(array(CAST(1 AS FLOAT)), array(CAST(1 AS FLOAT)))")
        .collect()
      System.err.println("[verify] GraftExtensions SQL surface OK")
    } catch { case scala.util.control.NonFatal(e) =>
      // NonFatal only: an OutOfMemoryError / NoClassDefFoundError means the
      // session itself is broken and must propagate, not downgrade to WARN
      // (round-4 ADVICE)
      System.err.println(s"[verify] WARN GraftExtensions missing: $e")
    }
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        assertHashableSchema(name, df.schema)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a REUSED outDir must not serve the previous run's parquet
        // for a query that just FAILED — stale output would make the
        // oracle compare read green over broken code (found in r18:
        // a CBO regression passed the local gate off a stale dump).
        // Delete the result dir so the compare reports the miss.
        def rm(p: java.nio.file.Path): Unit = {
          if (java.nio.file.Files.isDirectory(p)) {
            val s = java.nio.file.Files.list(p)
            try {
              val it = s.iterator()
              while (it.hasNext) rm(it.next())
            } finally s.close()
          }
          java.nio.file.Files.deleteIfExists(p); ()
        }
        rm(java.nio.file.Paths.get(outDir, name))
      }
    }
    Memo.release()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
