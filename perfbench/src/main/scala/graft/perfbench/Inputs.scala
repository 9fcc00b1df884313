package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Rows and bytes of one generated table, as landed. */
final case class TableCapture(name: String, rows: Long, bytes: Long)

/** Seeded input generator. Derives a workload's inputs from a source SF
  * directory by the `graft.ScaleFixture` rules, in the benchmark's own
  * session, so the program only ever sees the generated copy:
  *
  *   - replica r shifts every id by r·10⁹ and keeps fixed dimensions
  *     (nation) as they are, so join fan-outs stay linear;
  *   - replica r > 0 suffixes every non-stopword document token with a
  *     seeded tag, so near-duplicate structure stays per replica;
  *   - every replica's embeddings pass through a seeded signed
  *     permutation, an orthogonal map: norms and cosines are the
  *     source's, bucket assignments are not;
  *   - rows land in a seeded order, one file per table.
  *
  * Replica 0 keeps its ids and text, so the registered queries' fixed
  * probes (`vec_id < 50`, the BM25 terms) still select the same rows.
  * The same seed always lands byte-identical files.
  */
object Inputs {

  val Shift: Long = 1000000000L

  // the stopwords the corpus quality and language rules key on
  private val Stops = Seq("the", "a", "and", "of", "to", "in", "is",
    "el", "la", "de", "que", "y", "en", "un")

  /** Shifted id columns of each table the generator knows. */
  val IdCols: Map[String, Seq[String]] = Map(
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "customer" -> Seq("c_custkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "nation" -> Nil)

  /** Column that orders each table's rows. */
  private val OrderCol: Map[String, String] = Map(
    "documents" -> "doc_id", "embeddings" -> "vec_id",
    "customer" -> "c_custkey", "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey",
    "nation" -> "n_nationkey")

  /** Deterministic small integer from (seed, replica, salt). */
  private def mix(seed: Long, r: Int, salt: Int): Int = {
    var h = seed * 0x9E3779B97F4A7C15L + r * 0xBF58476D1CE4E5B9L + salt
    h ^= h >>> 31; h *= 0x94D049BB133111EBL; h ^= h >>> 29
    (h & 0x7fffffff).toInt
  }

  private def tag(seed: Long, r: Int): String =
    "x" + Integer.toString(mix(seed, r, 1) % 46656, 36)

  private def mutTokens(text: Column, suffix: String): Column =
    array_join(transform(split(text, " "), w =>
      when(w === "" || w.isin(Stops.map(x => x: Any): _*), w)
        .otherwise(concat(w, lit(suffix)))), " ")

  /** Signed permutation of a `dim`-element vector: rotate by `rot`,
    * flip the sign of every element whose index parity matches `phase`.
    */
  private def signedPerm(emb: Column, dim: Int, rot: Int, phase: Int): Column =
    transform(sequence(lit(0), lit(dim - 1)), i =>
      (element_at(emb, pmod(i + rot, lit(dim)) + 1) *
        when(pmod(i + phase, lit(2)) === 0, 1.0f).otherwise(-1.0f))
        .cast("float"))

  private def replica(t: String, d: DataFrame, r: Int, seed: Long,
      dim: Int): DataFrame = {
    def shift(c: String): Column = col(c) + lit(r * Shift)
    def shifted: Seq[Column] = d.columns.toSeq.map { c =>
      if (IdCols(t).contains(c)) shift(c).as(c) else col(c)
    }
    t match {
      case "documents" if r > 0 =>
        val txt = mutTokens(col("text"), tag(seed, r))
        d.select(shift("doc_id").as("doc_id"), txt.as("text"), col("lang"),
          col("source"), length(txt).cast("long").as("n_chars"))
      case "embeddings" =>
        val rot = 1 + mix(seed, r, 2) % math.max(1, dim - 1)
        d.select(shift("vec_id").as("vec_id"),
          signedPerm(col("embedding"), dim, rot, mix(seed, r, 3) % 2)
            .as("embedding"), col("label"))
      case _ => d.select(shifted: _*)
    }
  }

  /** One pass over a source table: its row count, the maximum of every
    * id the replicas shift, and the embedding dimension where there is one.
    * Every shifted id must sit below the shift, or replicas would overlap;
    * every embedding must share one dimension.
    */
  private def profile(t: String, d: DataFrame): (Long, Int) = {
    val ids = IdCols(t)
    val emb = t == "embeddings"
    val aggs = Seq(count(lit(1))) ++ ids.map(c => max(col(c))) ++
      (if (emb) Seq(min(size(col("embedding"))), max(size(col("embedding")))) else Nil)
    val row = d.agg(aggs.head, aggs.tail: _*).collect()(0)
    ids.indices.foreach { i =>
      if (!row.isNullAt(i + 1)) {
        val m = row.getAs[Number](i + 1).longValue
        require(m < Shift,
          s"$t.${ids(i)} reaches $m, not below the replica shift $Shift")
      }
    }
    val dim =
      if (!emb) 0
      else {
        val (lo, hi) = (row.getInt(ids.size + 1), row.getInt(ids.size + 2))
        require(lo == hi && lo >= 1,
          s"embeddings must share one positive dimension, found $lo..$hi")
        lo
      }
    (row.getLong(0), dim)
  }

  /** Write `tables` of `src`, replicated `replicas` times under `seed`,
    * to `<dst>/<table>.parquet/part-00000.parquet`.
    */
  def generate(spark: SparkSession, src: String, dst: String, seed: Long,
      replicas: Int, tables: Seq[String]): Seq[TableCapture] = {
    require(replicas >= 1, s"replicas must be >= 1, got $replicas")
    tables.map { t =>
      require(IdCols.contains(t), s"no generator rule for table $t")
      val base = spark.read.parquet(s"$src/$t.parquet")
      val (rows, dim) = profile(t, base)
      val reps = if (IdCols(t).isEmpty) 1 else replicas
      val all = (0 until reps).map(r => replica(t, base, r, seed, dim))
        .reduce(_ unionByName _)
      val key = col(OrderCol(t))
      val out = Paths.get(s"$dst/$t.parquet")
      val staging = Paths.get(s"$dst/.staging-$t")
      // one task sorts and writes the whole table: no sampling job
      all.coalesce(1).sortWithinPartitions(xxhash64(lit(seed), key), key)
        .write.parquet(staging.toString)
      Files.createDirectories(out)
      Files.move(onlyPart(staging), out.resolve("part-00000.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
      Io.deleteTree(staging)
      TableCapture(t, rows * reps, Io.bytesUnder(out))
    }
  }

  private def onlyPart(dir: Path): Path = {
    val parts = Io.list(dir).filter { p =>
      val n = p.getFileName.toString
      n.startsWith("part-") && n.endsWith(".parquet")
    }
    require(parts.size == 1, s"expected one part file in $dir, found ${parts.size}")
    parts.head
  }
}

/** Small file-system helpers. */
object Io {
  def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toList finally s.close()
    }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}
