package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{FloatVecDot, LuhnMod30Expr, MinHashSig, ShingleHashes, SimHashSig, StringHamming}

/** Session extensions: registers the library's native expressions for SQL
  * callers, so `SELECT vec_dot(a.embedding, b.embedding)` and
  * `SELECT minhash_sig(text)` work alongside the Column API. Install with
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Arity guard: a builder indexing `children(1)` on a 1-argument call
    * dies with IndexOutOfBounds deep in resolution; this raises the
    * standard wrong-number-of-arguments AnalysisException instead
    * (round-10 ADVICE) — Spark's own `WRONG_NUM_ARGS` error class with
    * its SQLSTATE, via the graftbridge (round-11 ADVICE: the earlier
    * IllegalArgumentException propagated without error class and the
    * scaladoc overclaimed). Input TYPES are validated by each
    * expression's own `ExpectsInputTypes` declaration.
    */
  private def arity[E](name: String, n: Int)(
      build: Seq[org.apache.spark.sql.catalyst.expressions.Expression] => E)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] => E =
    children =>
      if (children.length == n) build(children)
      else throw org.apache.spark.sql.graftbridge.ColumnBridge
        .wrongNumArgs(name, n, children.length)

  override def apply(ext: SparkSessionExtensions): Unit = {
    // metadata-only count(*)/min/max over manifest-backed relations —
    // the row and bounds accounts live in the manifest, so an
    // unfiltered stats query never schedules a scan
    // (graft.io.ManifestAggFold has the soundness gates;
    // TableFormatSqlSpec pins the zero-scan plan)
    ext.injectOptimizerRule(_ => graft.io.ManifestAggFold)
    // manifest accounts/sketches/bounds → CatalogStatistics BEFORE the
    // cost-based join-reorder batch consumes them: CBO over format
    // tables with zero ANALYZE TABLE scans (graft.io.GraftManifestStats)
    ext.injectPreCBORule(_ => graft.io.GraftManifestStats)
    // string-frequency summaries → join-side broadcast hints where NDV
    // uniformity and the true skewed-value frequency land on different
    // sides of the broadcast threshold (r20; graft.io.GraftFrequencyHints
    // — sound bounds, decline-on-gap, user hints win)
    ext.injectPreCBORule(_ => graft.io.GraftFrequencyHints)
    // INSERT INTO/OVERWRITE over a manifest-backed relation must become
    // a table COMMIT — without this rule Spark's post-hoc
    // DataSourceAnalysis would write raw parquet into the table root,
    // outside any snapshot (graft.io.GraftDmlRule)
    ext.injectResolutionRule(_ => new graft.io.GraftDmlRule)
    // dv-bearing snapshots through the plain catalog relation: the
    // provider lands them mask-pending, this rule swaps in the
    // composed masked plan (pruned scans + broadcast anti-join) —
    // without it a SELECT over a MOR-deleted table fails loudly at
    // listing, never silently unmasked (graft.io.GraftDvMaskRule)
    ext.injectResolutionRule(s => new graft.io.GraftDvMaskRule(s))
    // VERSION AS OF / TIMESTAMP AS OF over format-backed catalog
    // tables — Spark's analyzer only supports the syntax for v2
    // catalogs, and its own ResolveRelations THROWS on a v1 table's
    // time travel in the Resolution batch before extended resolution
    // rules get a pass, so this rule rides the earlier HINT batch,
    // where the parsed RelationTimeTravel is still intact
    // (graft.io.GraftTimeTravelRule)
    ext.injectHintResolutionRule(s => new graft.io.GraftTimeTravelRule(s))
    // maintenance verbs — OPTIMIZE/VACUUM '<path>' … — via a delegating
    // parser (graft.io.GraftSqlParser); any other text parses untouched
    ext.injectParser((_, delegate) => new graft.io.GraftSqlParser(delegate))
    // table-valued doorways needing no catalog entry at all:
    //   SELECT * FROM graft_snapshot('/root', 3)   — pruned, dv-masked
    //   SELECT * FROM graft_history('/root')       — per-version accounts
    def tvfArg(e: org.apache.spark.sql.catalyst.expressions.Expression,
        what: String): Any = {
      require(e.foldable, s"$what must be a constant, got ${e.sql}")
      e.eval()
    }
    ext.injectTableFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_snapshot"),
      new ExpressionInfo(graft.io.TableFormat.getClass.getName,
        "graft_snapshot"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
          => {
        require(children.nonEmpty && children.length <= 2,
          "graft_snapshot(path[, version])")
        val root = graft.io.TableFormat.posixRoot(
          String.valueOf(tvfArg(children.head, "graft_snapshot path")))
        val v = if (children.length == 2)
          String.valueOf(tvfArg(children(1), "graft_snapshot version")).toInt
        else -1
        graft.io.TableFormat
          .readSnapshot(org.apache.spark.sql.SparkSession.active, root, v)
          .queryExecution.analyzed
      }))
    ext.injectTableFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_changes"),
      new ExpressionInfo(graft.io.TableFormat.getClass.getName,
        "graft_changes"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
          => {
        // the row-level CDC feed through SQL: change_type-tagged rows
        // between two snapshots (toVersion defaults to the head) —
        // cost ∝ changed files, like the Scala readChanges it wraps
        require(children.length == 3 || children.length == 4,
          "graft_changes(path, keyCol, fromVersion[, toVersion])")
        val spark = org.apache.spark.sql.SparkSession.active
        val root = graft.io.TableFormat.posixRoot(
          String.valueOf(tvfArg(children.head, "graft_changes path")))
        val keyCol =
          String.valueOf(tvfArg(children(1), "graft_changes keyCol"))
        val from =
          String.valueOf(tvfArg(children(2), "graft_changes from")).toInt
        val to = if (children.length == 4)
          String.valueOf(tvfArg(children(3), "graft_changes to")).toInt
        else graft.io.TableFormat.latestVersion(root)
        graft.io.TableFormat.readChanges(spark, root, from, to, keyCol)
          .queryExecution.analyzed
      }))
    ext.injectTableFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_stats"),
      new ExpressionInfo(graft.io.TableFormat.getClass.getName,
        "graft_stats"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
          => {
        // per-column metadata stats: merged-sketch NDV + merged zone-map
        // bounds + the row account — zero scans (graft.io.TableFormat
        // .colStats)
        require(children.length == 1, "graft_stats(path)")
        val root = graft.io.TableFormat.posixRoot(
          String.valueOf(tvfArg(children.head, "graft_stats path")))
        graft.io.TableFormat
          .colStats(org.apache.spark.sql.SparkSession.active, root)
          .queryExecution.analyzed
      }))
    ext.injectTableFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_mv"),
      new ExpressionInfo(graft.io.MatView.getClass.getName, "graft_mv"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
          => {
        // the FINALIZED materialized view: per-group state resolved into
        // the declared aggregate columns (graft.io.MatView.read)
        require(children.length == 1, "graft_mv(path)")
        val root = graft.io.TableFormat.posixRoot(
          String.valueOf(tvfArg(children.head, "graft_mv path")))
        graft.io.MatView
          .read(org.apache.spark.sql.SparkSession.active, root)
          .queryExecution.analyzed
      }))
    ext.injectTableFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_history"),
      new ExpressionInfo(graft.io.TableFormat.getClass.getName,
        "graft_history"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
          => {
        require(children.length == 1, "graft_history(path)")
        val root = graft.io.TableFormat.posixRoot(
          String.valueOf(tvfArg(children.head, "graft_history path")))
        graft.io.TableFormat
          .describe(org.apache.spark.sql.SparkSession.active, root)
          .queryExecution.analyzed
      }))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "vec_dot"),
      arity("vec_dot", 2)(c => FloatVecDot(c(0), c(1)))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      arity("minhash_sig", 1)(c => MinHashSig(c.head))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("simhash_sig"),
      new ExpressionInfo(classOf[SimHashSig].getName, "simhash_sig"),
      arity("simhash_sig", 1)(c => SimHashSig(c.head))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("hamming"),
      new ExpressionInfo(classOf[StringHamming].getName, "hamming"),
      arity("hamming", 2)(c => StringHamming(c(0), c(1)))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("luhn_mod30"),
      new ExpressionInfo(classOf[LuhnMod30Expr].getName, "luhn_mod30"),
      arity("luhn_mod30", 1)(c => LuhnMod30Expr(c.head))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      arity("shingle_hashes", 1)(c => ShingleHashes(c.head))))
  }
}
