package graft

import java.nio.file.Files

/** Model check for the COMPOSITE-key DML paths (r18): a map keyed by
  * (k1, k2) replays randomized INSERT / composite conditional MERGE /
  * tuple IN-subquery DELETE / tuple IN-subquery UPDATE histories
  * alongside the catalog table, and after every statement the table
  * must equal the model. The generators bias single-component
  * COLLISIONS (small component domains), so a concatenated-surrogate
  * or single-key bug surfaces as cross-tuple contamination within a
  * round or two. Landings are MERGE-ON-READ since r19 ([[graft.io
  * .TableFormat.applyDelta]] over the key tuple — deletion-vector sidecars
  * with auto-fold), so the histories also exercise masked reads over
  * accumulated multi-column DVs; the per-column pruning is exercised
  * incidentally by every statement over the multi-dir history. Seeded,
  * bounded.
  */
class CompositeKeyModelSpec extends TestSpark {

  private val Provider = classOf[graft.io.TableFormatSourceProvider].getName

  test("composite-key DML agrees with a model over randomized histories") {
    val rnd = new scala.util.Random(282828)
    (1 to 2).foreach { seed =>
      val base = Files.createTempDirectory(s"graft_comp_model$seed")
      spark.sql("DROP TABLE IF EXISTS graft_comp_model")
      spark.sql(s"""CREATE TABLE graft_comp_model (k1 BIGINT, k2 BIGINT,
        v BIGINT) USING `$Provider` OPTIONS (path '$base/t',
        statsCols 'k1,k2')""")
      var model = Map.empty[(Long, Long), Long]
      def check(stmt: String): Unit = {
        val got = spark.sql(
          "SELECT k1, k2, v FROM graft_comp_model").collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        assert(got === model, s"[seed $seed] model drift after: $stmt")
      }
      def runSql(stmt: String): Unit = { spark.sql(stmt); check(stmt) }
      // small component domains: heavy single-component collision
      def pair(): (Long, Long) =
        (rnd.nextInt(8).toLong, rnd.nextInt(8).toLong)

      (0 until 6).foreach { round =>
        // INSERT fresh distinct pairs
        val fresh = (0 until 2 + rnd.nextInt(5)).map(_ => pair())
          .distinct.filterNot(model.contains)
        if (fresh.nonEmpty) {
          val vals = fresh.map { case (a, b) =>
            s"($a, $b, ${a * 10 + b})" }.mkString(", ")
          model ++= fresh.map(p => p -> (p._1 * 10 + p._2)).toMap
          runSql(s"INSERT INTO graft_comp_model VALUES $vals")
        }
        rnd.nextInt(2) match {
          case 0 => // tuple IN-subquery DELETE
            val ks = (0 until 1 + rnd.nextInt(4)).map(_ => pair()).distinct
            val vals = ks.map { case (a, b) => s"($a, $b)" }.mkString(", ")
            model = model.removedAll(ks)
            runSql(s"""DELETE FROM graft_comp_model
              WHERE (k1, k2) IN (SELECT a, b FROM VALUES $vals AS d(a, b))""")
          case _ => // tuple IN-subquery UPDATE
            val ks = (0 until 1 + rnd.nextInt(4)).map(_ => pair()).distinct
            val vals = ks.map { case (a, b) => s"($a, $b)" }.mkString(", ")
            model = model.map {
              case (p, v) if ks.contains(p) => p -> (v + 1000L)
              case kept => kept
            }
            runSql(s"""UPDATE graft_comp_model SET v = v + 1000
              WHERE (k1, k2) IN (SELECT a, b FROM VALUES $vals AS d(a, b))""")
        }
        // composite conditional MERGE: delete / update / insert by
        // first-match-wins over the tuple join
        val ks = (0 until 2 + rnd.nextInt(5)).map(_ => pair()).distinct
        val thr = rnd.nextInt(6).toLong
        val vals = ks.map { case (a, b) =>
          s"($a, $b, ${a + b})" }.mkString(", ")
        model = model.flatMap {
          case (p, v) if ks.contains(p) =>
            val d = p._1 + p._2
            if (d < thr) None // DELETE fires first
            else Some(p -> (v + d))
          case kept => Some(kept)
        } ++ ks.filter { case (a, b) => a + b >= thr }
          .filterNot(model.contains)
          .map(p => p -> -1L) // conditional INSERT
        runSql(s"""MERGE INTO graft_comp_model t
          USING (SELECT * FROM VALUES $vals AS d(a, b, d)) src
          ON t.k1 = src.a AND t.k2 = src.b
          WHEN MATCHED AND src.d < $thr THEN DELETE
          WHEN MATCHED THEN UPDATE SET v = t.v + src.d
          WHEN NOT MATCHED AND src.d >= $thr THEN
            INSERT (k1, k2, v) VALUES (src.a, src.b, -1)""")
      }
      spark.sql("DROP TABLE IF EXISTS graft_comp_model")
    }
  }
}
