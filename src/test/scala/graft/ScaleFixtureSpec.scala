package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** ScaleFixture on inputs outside the sf fixtures' assumptions: the
  * embedding dimension comes from the data, and a replica count under 1
  * is refused.
  */
class ScaleFixtureSpec extends TestSpark {

  test("dim-8 embeddings replicate at dimension 8 with per-vector norms kept") {
    val src = Files.createTempDirectory("graft_scale_src").toString
    val dst = Files.createTempDirectory("graft_scale_dst").toString
    Seq("documents", "lineitem", "orders", "customer", "part", "supplier",
        "events", "nation", "region").foreach { t =>
      Files.copy(Paths.get(s"$Sf/$t.parquet"), Paths.get(s"$src/$t.parquet"))
    }
    spark.read.parquet(s"$Sf/embeddings.parquet").limit(40)
      .select(col("vec_id"), slice(col("embedding"), 1, 8).as("embedding"),
        col("label"))
      .write.parquet(s"$src/embeddings.parquet")

    ScaleFixture.replicate(spark, src, dst, 3)

    def norms(dir: String): Map[Long, Double] =
      spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), size(col("embedding")).as("dim"),
          aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast("double") * x.cast("double")).as("n2"))
        .collect().map { r =>
          assert(r.getInt(1) === 8, s"vector ${r.getLong(0)} has dim ${r.getInt(1)}")
          r.getLong(0) -> r.getDouble(2)
        }.toMap
    val in = norms(src)
    val out = norms(dst)
    assert(out.size === 3 * in.size)
    out.foreach { case (id, n2) =>
      // a signed permutation sums the same squares in another order
      assert(math.abs(n2 - in(id % 1000000000L)) <= 1e-9 * math.max(1.0, n2))
    }
  }

  test("a replica count under 1 is rejected") {
    val e = intercept[IllegalArgumentException] {
      ScaleFixture.replicate(spark, Sf, "/nonexistent", 0)
    }
    assert(e.getMessage.contains("replicas must be >= 1"))
  }
}
