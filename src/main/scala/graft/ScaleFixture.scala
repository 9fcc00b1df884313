package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: synthesize a LARGER deterministic dataset from an existing
  * SF dir so the bench's core-scaling axis has something to measure —
  * `runMain graft.ScaleFixture <srcDir> <dstDir> <replicas>`.
  *
  * Round-21 VERDICT item 2: at sf0.1 every query is fixed-overhead
  * dominated, so 8-core vs 32-core ratios read ≈1 everywhere and the
  * driver's scaling check (`suspect_cpus_ignored`) cannot distinguish
  * "honors `$SPARK_GRAFT_CPUS`" from "ignores it". This fixture exists
  * ONLY to produce a committed scaling capture on the heavy keys
  * (`BENCH_r22_scaling_*`); it is never an oracle or correctness input,
  * and the bench contract (env vars, JSON line) is untouched.
  *
  * Replication is NOT naive duplication — exact copies would inflate
  * every dedup/LSH bucket by the replica count and melt the near-dup
  * graph into giant components, measuring a skew pathology instead of
  * scale. Each replica r > 0 is instead a deterministic ISOMORPHIC
  * rewrite that preserves per-replica structure and keeps replicas
  * disjoint:
  *
  *   - ids shift by r·10⁹ (doc/vec/order/part/supp/cust/event keys move
  *     together, so join fan-outs stay linear; every source id must be
  *     under 10⁹, checked row by row as the replicas are written);
  *   - document tokens get a per-replica suffix, EXCEPT the en/es
  *     stopwords the quality/langid rules key on — keepRule and language
  *     signals are preserved per doc, while shingle/gram/bigram universes
  *     stay (near-)disjoint across replicas, so near-dup structure per
  *     replica matches the source corpus (only all-stopword shingles are
  *     shared — bounded by the source's max bucket × replicas, far under
  *     MaxBandBucket);
  *   - embeddings pass through a per-replica SIGNED PERMUTATION (rotate
  *     dimensions by 7r, alternate sign flips, at each vector's own
  *     dimension) — an orthogonal map, so intra-replica norms and cosines
  *     are exactly the source's while cross-replica cosines decorrelate;
  *     LSH bucket sizes are only approximately preserved (the hyperplanes
  *     are fixed, not rotated with the data);
  *   - nation/region stay fixed dims (every replica's customers reference
  *     the same 25 nations, as a bigger TPC-H would).
  */
object ScaleFixture {

  private val Shift = 1000000000L

  // the stopword lists the corpus quality/langid rules key on
  // (TextOps.EnStop / EsStop) — token mutation must preserve these
  private val Stops = Seq("the", "a", "and", "of", "to", "in", "is",
    "el", "la", "de", "que", "y", "en", "un")

  private def mutTokens(text: Column, r: Int): Column =
    when(lit(r) === 0, text).otherwise(
      array_join(transform(split(text, " "), w =>
        when(w === "" || w.isin(Stops.map(x => x: Any): _*), w)
          .otherwise(concat(w, lit("x" + r)))), " "))

  private def rotEmb(emb: Column, r: Int): Column =
    if (r == 0) emb
    else transform(emb, (_, i) =>
      (element_at(emb, pmod(i + 7 * r, size(emb)) + 1) *
        when(pmod(i + r, lit(2)) === 0, 1.0f).otherwise(-1.0f))
        .cast("float"))

  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: ScaleFixture <srcDir> <dstDir> <replicas>")
    val (src, dst, reps) = (args(0), args(1), args(2).toInt)
    require(reps >= 1, s"replicas must be >= 1, got $reps")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    replicate(spark, src, dst, reps)
    spark.stop()
  }

  /** Write `reps` replicas of every table under `src` to `dst`. */
  def replicate(spark: SparkSession, src: String, dst: String,
                reps: Int): Unit = {
    require(reps >= 1, s"replicas must be >= 1, got $reps")

    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String): Unit =
      df.coalesce(8).write.mode("overwrite").parquet(s"$dst/$t.parquet")

    def replicated(t: String)(mut: (DataFrame, Int) => DataFrame): Unit = {
      val base = rd(t)
      wr((0 until reps).map(r => mut(base, r)).reduce(_ unionByName _), t)
    }

    // assert_true is NULL when the id fits, so the `when` is an identity
    // on valid data and fails the write on the first id that would
    // collide with the next replica's range
    def shift(c: String, r: Int): Column =
      when(assert_true(col(c) < Shift,
        lit(s"$c must be < $Shift to replicate")).isNull,
        col(c) + lit(r * Shift))

    replicated("documents") { (d, r) =>
      val txt = mutTokens(col("text"), r)
      d.select(shift("doc_id", r).as("doc_id"), txt.as("text"),
        col("lang"), col("source"), length(txt).cast("long").as("n_chars"))
    }
    replicated("embeddings") { (d, r) =>
      d.select(shift("vec_id", r).as("vec_id"),
        rotEmb(col("embedding"), r).as("embedding"), col("label"))
    }
    replicated("lineitem") { (d, r) =>
      d.select(shift("l_orderkey", r).as("l_orderkey"),
        shift("l_partkey", r).as("l_partkey"),
        shift("l_suppkey", r).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
    }
    replicated("orders") { (d, r) =>
      d.select(shift("o_orderkey", r).as("o_orderkey"),
        shift("o_custkey", r).as("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
    }
    replicated("customer") { (d, r) =>
      d.select(shift("c_custkey", r).as("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    }
    replicated("part") { (d, r) =>
      d.select(shift("p_partkey", r).as("p_partkey"), col("p_name"),
        col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice"))
    }
    replicated("supplier") { (d, r) =>
      d.select(shift("s_suppkey", r).as("s_suppkey"), col("s_name"),
        col("s_nationkey"), col("s_acctbal"))
    }
    replicated("events") { (d, r) =>
      d.select(shift("event_id", r).as("event_id"), col("ts"),
        shift("user_id", r).as("user_id"), col("event_type"),
        col("value"), col("props"))
    }
    // fixed dimensions: copy once
    Seq("nation", "region").foreach(t => wr(rd(t), t))
  }
}
