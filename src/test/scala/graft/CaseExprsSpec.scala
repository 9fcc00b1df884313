package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, IntegerType, StringType, StructField, StructType}

import graft.functions.CaseExprs

/** graft's case-mapping kernel ([[graft.functions.CaseFn]]) against
  * Spark's own `upper`/`lower`, row by row and byte by byte, under
  * generated and interpreted evaluation and with ICU case mappings on and
  * off; and the source guard that keeps it graft's one case-mapping rule.
  */
class CaseExprsSpec extends TestSpark {

  private val Icu = "spark.sql.icu.caseMappings.enabled"

  /** Inputs where ASCII, JVM and ICU case mapping part ways: one-to-many
    * expansions (ß, the ﬓ ligature), a title-case digraph (ǆ), final
    * sigma, the Turkish dotless/dotted i, combining marks, letters newer
    * than the JVM's Unicode tables (U+A7C0/U+A7C1), an emoji and the
    * empty string; then invalid UTF-8 and NULL.
    */
  private val Strings = Seq("Hello, World 42", "straße", "\u01C6 \u01C5 \u01C4",
    "\u038C\u03A3\u039F\u03A3 \u03C3", "\u0131 \u0130 i I", "\uFB13",
    "e\u0301 A\u0308 \u0345", "\uA7C1 \uA7C0", "\uD83D\uDE00 smile", "")
  private val InvalidId = Strings.size
  private val NullId = Strings.size + 1

  private def inputs: DataFrame = {
    val rows = Strings.zipWithIndex.map { case (v, i) => Row(i, v, null) } ++
      Seq(Row(InvalidId, null, Array(0xC3, 0x28, 0xFF, 0x61).map(_.toByte)),
        Row(NullId, null, null))
    val schema = StructType(Seq(StructField("i", IntegerType),
      StructField("s", StringType), StructField("b", BinaryType)))
    // an RDD-backed frame: the projection is evaluated per row, never
    // folded into a local relation on the driver; the binary column cast
    // to string carries the invalid bytes through unchanged
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .select(col("i"), coalesce(col("s"), col("b").cast(StringType)).as("s"))
  }

  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** (row id, hex of Spark's result, hex of the kernel's) per function. */
  private def compared(codegen: Boolean): Seq[(String, Int, String, String)] = {
    val s = col("s")
    val df = inputs.select(col("i"),
      hex(upper(s)), hex(CaseExprs.upper(s)),
      hex(lower(s)), hex(CaseExprs.lower(s)))
    val rows = df.collect().toSeq
    val wholeStage = TestSpark.Plans.collect(df.queryExecution.executedPlan) {
      case w: WholeStageCodegenExec => w
    }.nonEmpty
    assert(wholeStage === codegen, df.queryExecution.executedPlan.toString)
    rows.flatMap { r =>
      Seq(("upper", r.getInt(0), r.getString(1), r.getString(2)),
        ("lower", r.getInt(0), r.getString(3), r.getString(4)))
    }
  }

  test("upper/lower kernel equals Spark's byte for byte: codegen x ICU") {
    val byIcu = Seq("true", "false").map { icu =>
      val modes = Seq(true, false).map { codegen =>
        val factory = if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"
        withConfs(Icu -> icu, "spark.sql.codegen.factoryMode" -> factory,
            "spark.sql.codegen.wholeStage" -> codegen.toString) {
          compared(codegen)
        }
      }
      modes.foreach(_.foreach { case (fn, i, theirs, ours) =>
        assert(ours === theirs, s"$fn row $i (ICU $icu)")
      })
      icu -> modes(0)
    }.toMap
    // the two mappings do differ on these inputs, so both were exercised
    assert(byIcu("true") !== byIcu("false"))
    // NULL in, NULL out; "" stays ""; invalid bytes map, not fail
    val byId = byIcu("true").groupBy(_._2)
    assert(byId(NullId).forall(r => r._3 == null && r._4 == null))
    assert(byId(Strings.indexOf("")).forall(_._4 == ""))
    assert(byId(InvalidId).forall(_._4 != null))
  }

  test("guard: graft's kernel is the one case-mapping rule in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    // a call of Spark's upper/lower/initcap, as a Column function or
    // inside a Spark SQL string; comments and the DuckDB oracles'
    // stripMargin SQL lines are not code
    val call = "(?i)(?<!CaseExprs\\.)\\b(upper|lower|initcap)\\(".r
    val hits = Files.walk(root).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") &&
        f.getFileName.toString != "CaseExprs.scala")
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (l, i) if !Seq("*", "/**", "//", "|").exists(l.trim.startsWith) &&
              call.findFirstIn(l).isDefined => s"$f:${i + 1}: ${l.trim}"
        }
      }.toSeq
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
