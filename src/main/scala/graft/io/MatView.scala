package graft.io

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.Memo
import graft.functions.{HllEstimateExpr, HllMergeExpr, HllRegistersAgg}

/** One aggregate of a materialized view's definition: `fn(in) AS out`.
  * `fn` ∈ count_star | count | sum | avg | min | max |
  * approx_count_distinct (`in` is ignored for count_star). count/sum/
  * avg are RETRACTABLE — a refresh folds the source's change feed into
  * the standing state arithmetically, cost ∝ changed rows. min/max are
  * not (retracting the current extremum needs the runner-up), so their
  * presence routes the refresh to an affected-group recompute, cost ∝
  * the changed GROUPS' source rows. approx_count_distinct sits between:
  * per-group HLL registers MERGE on an append-only window (delta cost)
  * but cannot retract, so a window containing any drop recomputes the
  * affected groups.
  */
final case class MvAgg(fn: String, in: String, out: String)

/** A view's full recorded definition: source table root, group columns,
  * aggregate list, and an optional row PREDICATE (SQL expression over
  * the source's columns) — the view covers only rows satisfying it.
  * Maintenance composes naturally: a changed row is filtered on BOTH
  * sides of the window, so an update moving a row INTO the predicate
  * contributes only its post-image (+1) and one moving OUT only its
  * pre-image (−1) — the filtered multiset delta, no special cases.
  */
final case class MvDef(source: String, groupCols: Seq[String],
                       aggs: Seq[MvAgg], where: Option[String] = None,
                       dims: Seq[MvDim] = Nil)

/** One DIMENSION of a join view: the fact row stream inner-joins
  * `root`'s snapshot on `factKey = dimKey` before filtering/grouping —
  * the star-join rollup shape (revenue by nation). The maintenance
  * contract: fact CHANGES drive incremental refresh against the dims'
  * pinned snapshots; a dim that MOVED since the last refresh may have
  * re-attributed any standing group, so the view rebuilds from the
  * head (detected automatically from the recorded dim pins — never a
  * silent stale join). Column names across fact and dims must be
  * distinct apart from the join keys.
  */
final case class MvDim(root: String, factKey: String, dimKey: String)

/** STANDING incremental materialized views over [[TableFormat]] tables
  * — the engine feature the `q_table_mv` query only sketched as a
  * pattern: the view is itself a TableFormat table whose definition
  * (source root, group columns, aggregate list) lives in its OWN
  * manifest as table properties ([[TableFormat.tableProps]]), so the
  * definition travels with the table through compaction, restore, and
  * clone, and `REFRESH` needs nothing but the view's root.
  *
  * Design — the classic aggregate-state/finalize split (the view
  * maintenance literature's delta tables, re-expressed on the format's
  * own primitives):
  *
  *   - STORAGE holds per-group STATE, not answers: group columns, a
  *     collision-free group key string, the group's row count, and per
  *     aggregate its mergeable state (running sum + non-null count for
  *     sum/avg; non-null count for count; the exact value for min/max).
  *     [[read]] finalizes state into the user-visible frame (sum/avg of
  *     an all-null group correctly NULL via the count guard).
  *   - REFRESH reads the source window `(last indexed, head]` from the
  *     manifest diff ([[TableFormat.readDelta]] — raw added/dropped
  *     effective rows, cost ∝ changed files) and lands ONE
  *     [[TableFormat.applyDelta]] commit: affected group keys masked
  *     (merge-on-read), merged/recomputed state rows appended, and the
  *     source version riding the SAME manifest install as a txn marker
  *     (appId = source root). A crash anywhere leaves the view wholly
  *     at the old version or wholly at the new one; a replayed refresh
  *     sees the marker and skips; concurrent refreshers serialize
  *     through the manifest CAS, the overlap guarded by
  *     [[TableFormat]]'s key-range conflict check.
  *   - RETRACTABLE path: the window's rows get sign +1 (added) / −1
  *     (dropped), one aggregation computes per-group deltas, and a full
  *     outer join on the group key merges them with the standing state
  *     — groups whose row count reaches zero DROP (group death), new
  *     keys appear (birth). Nothing re-reads the source table.
  *   - RECOMPUTE path (any min/max; approx_count_distinct when the
  *     window dropped rows): the window only identifies the AFFECTED
  *     group keys; their state is recomputed from the source head
  *     semi-joined to those keys — still never the whole table.
  *
  * Caveat, shared with every incremental-view engine: retractable
  * arithmetic over floating-point measures can drift in the last ulp
  * versus a from-scratch recompute (add-then-remove is not a perfect
  * inverse in IEEE754). Integer/decimal measures are exact; the specs
  * pin incremental == recompute on long measures.
  *
  * Measures are EXPRESSIONS (any SQL scalar over the source's columns,
  * e.g. `sum(price * qty)`), and a definition may carry a WHERE
  * predicate ([[MvDef.where]]) scoping the view to matching rows — the
  * window filter makes cross-boundary updates come out right for free.
  *
  * SQL surface ([[GraftSqlParser]]):
  * {{{
  *   CREATE MATERIALIZED VIEW '/mv' AS
  *     SELECT k1, k2, count(*) AS n, sum(x) AS sx FROM '/src'
  *     [WHERE <pred>] GROUP BY k1, k2
  *   REFRESH MATERIALIZED VIEW '/mv'
  *   SELECT * FROM graft_mv('/mv')          -- finalized view rows
  * }}}
  */
object MatView {

  /** Reserved state columns. The group-key string is per-column base64
    * over the value's string form (null → a marker outside the base64
    * alphabet), joined by '|' — collision-free without reserving any
    * character in user data, and a single string column the view
    * table's zone maps and [[TableFormat.applyDelta]] pruning key on.
    */
  private[graft] val KeyCol = "__graft_mv_key"
  private[graft] val NCol = "__graft_mv_n"
  private def aCol(out: String) = s"__graft_mv_a_$out"
  private def cCol(out: String) = s"__graft_mv_c_$out"

  private val Retractable = Set("count_star", "count", "sum", "avg")

  /** approx_count_distinct's HLL-register state MERGES on insert but
    * cannot retract a delete (a register max never un-raises), so it
    * rides the cheap delta path exactly when the refresh window dropped
    * nothing — the append-mostly shape distinct-user rollups live in —
    * and falls back to affected-group recompute otherwise.
    */
  private val Mergeable = Retractable + "approx_count_distinct"
  private val Fns = Mergeable ++ Set("min", "max")

  private lazy val hllUdaf = udaf(new HllRegistersAgg, Encoders.LONG)

  /** The row's hash for NDV state — guarded so a NULL value contributes
    * NOTHING (Spark's xxhash64 folds null into the seed and returns a
    * real long; unguarded, every null row would count as one shared
    * distinct value).
    */
  private def ndvHash(c: Column): Column = when(c.isNotNull, xxhash64(c))

  private def keyExpr(groupCols: Seq[String]): Column =
    concat_ws("|", groupCols.map(c =>
      when(col(c).isNull, lit("∅"))
        .otherwise(base64(encode(col(c).cast("string"), "UTF-8")))): _*)

  // --------------------------------------------- definition in props

  private val PropSource = "mv.source"
  private val PropGroup = "mv.group"
  private val PropAggs = "mv.aggs"
  private val PropWhere = "mv.where"
  private val PropDims = "mv.dims"
  private def propDimV(root: String) = s"mv.dimv.${enc(root)}"

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  private def defProps(d: MvDef): Map[String, String] = Map(
    PropSource -> d.source,
    PropGroup -> d.groupCols.map(enc).mkString(","),
    PropAggs -> d.aggs.map(a =>
      s"${enc(a.fn)},${enc(a.in)},${enc(a.out)}").mkString(";")) ++
    d.where.map(PropWhere -> _) ++
    (if (d.dims.isEmpty) Map.empty[String, String]
     else Map(PropDims -> d.dims.map(x =>
       s"${enc(x.root)},${enc(x.factKey)},${enc(x.dimKey)}")
       .mkString(";")))

  /** The view's recorded definition. Loud when `root` is not a
    * materialized view.
    */
  def definition(root: String): MvDef = {
    val p = TableFormat.tableProps(root)
    val src = p.getOrElse(PropSource, throw new IllegalArgumentException(
      s"$root is not a materialized view (no ${PropSource} property) — " +
        "create it with MatView.create or CREATE MATERIALIZED VIEW"))
    val group = p(PropGroup).split(",").toSeq.map(dec)
    val aggs = p(PropAggs).split(";").toSeq.map { s =>
      val Array(f, i, o) = s.split(",", 3)
      MvAgg(dec(f), dec(i), dec(o))
    }
    val dims = p.get(PropDims).map(_.split(";").toSeq.map { s =>
      val Array(r, fk, dk) = s.split(",", 3)
      MvDim(dec(r), dec(fk), dec(dk))
    }).getOrElse(Nil)
    MvDef(src, group, aggs, p.get(PropWhere), dims)
  }

  /** The dim snapshot version the view's state was last built against
    * (-1 before the first refresh) — the pin [[refresh]] compares to
    * detect dim movement.
    */
  private def recordedDimVersion(mvRoot: String, dimRoot: String): Int =
    TableFormat.tableProps(mvRoot).get(propDimV(dimRoot))
      .map(_.toInt).getOrElse(-1)

  // ------------------------------------------------------------ create

  /** Declare + initially materialize a view at `mvRoot` over the
    * TableFormat table at `source`. Two commits: v0 records the
    * definition (metadata-only — a crash after it leaves a valid,
    * refreshable empty view), then the initial [[refresh]] runs the
    * ordinary maintenance path with `from = -1`, i.e. the whole source
    * head is the first change window — creation and refresh are ONE
    * code path, not a full-compute special case.
    */
  def create(spark: SparkSession, mvRoot: String, source: String,
             groupCols: Seq[String], aggs: Seq[MvAgg],
             where: Option[String] = None,
             dims: Seq[MvDim] = Nil): Int = {
    require(TableFormat.latestVersion(mvRoot) < 0,
      s"materialized-view target $mvRoot is already a table " +
        s"(head v${TableFormat.latestVersion(mvRoot)})")
    require(groupCols.nonEmpty, "a materialized view needs group columns")
    require(aggs.nonEmpty, "a materialized view needs aggregates")
    aggs.foreach(a => require(Fns(a.fn),
      s"unsupported MV aggregate '${a.fn}' — supported: " +
        Fns.toSeq.sorted.mkString(", ")))
    val outs = groupCols ++ aggs.map(_.out)
    require(outs.distinct.size == outs.size,
      s"MV output names collide: ${outs.mkString(", ")}")
    outs.foreach(o => require(!o.startsWith("__graft_mv_"),
      s"MV output name $o uses the reserved __graft_mv_ prefix"))
    dims.foreach(x => require(TableFormat.latestVersion(x.root) >= 0,
      s"MV dimension ${x.root} has no snapshot"))
    TableFormat.setProps(mvRoot,
      defProps(MvDef(source, groupCols, aggs, where, dims)))
    refresh(spark, mvRoot)
  }

  // ----------------------------------------------------------- refresh

  /** Bring the view up to the source head. No-op (no commit at all)
    * when already current; a marker-only commit when the window moved
    * versions but no data (e.g. the source only advanced by set-props);
    * otherwise one [[TableFormat.applyDelta]] commit as described on
    * the object. Returns the view's committed version.
    */
  def refresh(spark: SparkSession, mvRoot: String): Int = {
    val d = definition(mvRoot)
    val MvDef(source, groupCols, aggs, _, dims) = d
    val from = TableFormat.lastTxn(mvRoot, source).toInt
    val to = TableFormat.latestVersion(source)
    require(to >= 0, s"MV source $source has no snapshot to refresh from")
    // pin every dim at its head for this refresh; a dim that MOVED since
    // the last pin may have re-attributed any standing group (a changed
    // dim attribute changes which group a fact row belongs to), so the
    // whole view rebuilds — incremental against a moved dim would be a
    // silently stale join
    val dimVs = dims.map(x => x -> TableFormat.latestVersion(x.root))
    val dimsMoved = dimVs.exists { case (x, v) =>
      recordedDimVersion(mvRoot, x.root) != v }
    if (to <= from && !dimsMoved) return TableFormat.latestVersion(mvRoot)

    // the predicate applies to BOTH window sides (after the dim join —
    // it may reference dim columns): a row entering the filter
    // contributes only its +1 image, one leaving only its −1. A source
    // that is itself a VIEW finalizes first, so cascades consume
    // user-visible rows, never raw state.
    val srcView = sourceView(source)
    def prepared(df: DataFrame): DataFrame =
      dimImage(spark, d, dimVs.toMap)(srcView
        .map(sd => finalizeFrame(sd.groupCols, sd.aggs, df)).getOrElse(df))

    // DIM-DELTA path (round-17 VERDICT #1): when ONLY dims moved (the
    // SCD trickle — one upsert per refresh cycle), the change is a
    // re-attribution of exactly the fact rows that join the changed dim
    // keys. Those rows' OLD-dim images retract (−1) and NEW-dim images
    // apply (+1) through the ordinary signed-window machinery — cost ∝
    // affected rows/groups, never the view. The new dim pins ride the
    // SAME applyDelta commit (propsDelta), so a crash can never leave
    // the state updated but the pins stale (which would re-apply the
    // retraction). Rebuild remains the route when the source moved too,
    // or when the dim window is not cleanly consumable (schema change,
    // no recorded pin, CDC refusal).
    // schema comparison is STRUCTURAL (names + types, nullability
    // ignored): a copy-on-write rewrite legitimately relaxes
    // nullability in the recorded DDL without changing the join shape
    def dimShape(root: String, v: Int): Option[Seq[(String, String)]] =
      TableFormat.readManifestFull(root, v).schemaDdl.map(s =>
        org.apache.spark.sql.types.StructType.fromDDL(s).fields
          .map(f => (f.name.toLowerCase, f.dataType.catalogString)).toSeq)
    val dimDeltaOk = dimsMoved && to <= from &&
      srcView.isEmpty && dimVs.forall { case (x, v) =>
        val rec = recordedDimVersion(mvRoot, x.root)
        rec == v || (rec >= 0 && rec < v && {
          val a = dimShape(x.root, rec)
          a.isDefined && a == dimShape(x.root, v)
        })
      }
    val dimDelta: Option[Int] =
      if (!dimDeltaOk) None
      else refreshDimDelta(spark, mvRoot, d, dimVs, to)
    val version = dimDelta getOrElse {
      if (dimsMoved) {
        // REBUILD: full state from the head; every standing key masked.
        // The source marker rides only when the source itself moved — a
        // dim-only rebuild must not be skippable by marker replay.
        val state = prepared(TableFormat.readSnapshot(spark, source, to))
          .groupBy(groupCols.map(col): _*)
          .agg(stateAggs(aggs).head, stateAggs(aggs).tail: _*)
          .withColumn(KeyCol, keyExpr(groupCols))
          .select(stateSelect(groupCols, aggs): _*)
        val oldKeys =
          if (hasState(mvRoot, 0)) TableFormat
            .readSnapshot(spark, mvRoot).select(KeyCol).distinct()
          else spark.emptyDataFrame
        TableFormat.applyDelta(spark, mvRoot, oldKeys, KeyCol, state,
          statsCol = Some(KeyCol),
          txn = if (to > from) Some((source, to.toLong)) else None)
      } else {
        val (addedOpt, droppedOpt) = TableFormat.readDelta(spark, source,
          from, to)
        val txn = Some((source, to.toLong))
        if (addedOpt.isEmpty && droppedOpt.isEmpty)
          return TableFormat.applyDelta(spark, mvRoot, spark.emptyDataFrame,
            KeyCol, spark.emptyDataFrame, txn = txn)
        // one evaluation of the change window: the signed frame feeds
        // the delta aggregation, the touched-dir bounds probe, AND the
        // delete keys — unpersisted three evaluations would re-read the
        // changed parquet files three times
        val signed =
          (addedOpt.map(prepared(_).withColumn("__sign", lit(1))) ++
            droppedOpt.map(prepared(_).withColumn("__sign", lit(-1))))
          .reduce(_ unionByName _).persist()
        try {
          val retractable = aggs.forall(a => Retractable(a.fn))
          // an append-only window makes EVERY supported aggregate
          // mergeable — min/max fold with least/greatest, HLL with a
          // register merge (r18: min/max joined the fast path)
          val appendOnly = droppedOpt.isEmpty
          val appends =
            if (retractable || appendOnly)
              mergedState(spark, mvRoot, hasState(mvRoot, from),
                groupCols, aggs, signed, appendOnly = appendOnly)
            else recomputedState(spark,
              prepared(TableFormat.readSnapshot(spark, source, to)),
              groupCols, aggs, signed)
          val deletes =
            signed.select(keyExpr(groupCols).as(KeyCol)).distinct()
          TableFormat.applyDelta(spark, mvRoot, deletes, KeyCol, appends,
            statsCol = Some(KeyCol), txn = txn)
        } finally {
          signed.unpersist(blocking = false)
          ()
        }
      }
    }
    // record the dim pins AFTER the state commit (a crash between the
    // two re-runs as a redundant rebuild next refresh — never stale);
    // a dim-delta refresh carried them INSIDE its commit, so the
    // mismatch re-check below is already satisfied and skips
    if (dims.nonEmpty && dimVs.exists { case (x, v) =>
        recordedDimVersion(mvRoot, x.root) != v })
      TableFormat.setProps(mvRoot,
        dimVs.map { case (x, v) => propDimV(x.root) -> v.toString }.toMap)
    math.max(version, TableFormat.latestVersion(mvRoot))
  }

  /** The DIM-DELTA refresh (round-17 VERDICT #1): consume each moved
    * dim's CDC window ([[TableFormat.readChanges]] over the recorded
    * pin → head), back-propagate the changed dim keys through the join
    * chain to a FACT-level key set, and re-attribute exactly the fact
    * rows that join them: their OLD-dim images retract (−1), their
    * NEW-dim images apply (+1), through the ordinary signed-window
    * machinery — mergedState for retractable views (cost ∝ affected
    * rows), affected-group recompute otherwise. The refreshed dim pins
    * ride the SAME applyDelta commit as table properties, so the step
    * is atomic: a crash replay sees current pins and does nothing —
    * the non-idempotent retraction can never double-apply. Returns
    * None when a factKey column cannot be attributed to the fact table
    * or an earlier dim (the caller then rebuilds — loud in cost, never
    * in correctness). Fact rows are read at `to`, the source version the
    * view has folded: a fact commit landing mid-refresh belongs to the
    * next refresh's window, and read here too it would count twice.
    */
  private def refreshDimDelta(spark: SparkSession, mvRoot: String,
      d: MvDef, dimVs: Seq[(MvDim, Int)], to: Int): Option[Int] = {
    val MvDef(source, groupCols, aggs, _, dims) = d
    val factCols = TableFormat.latestSchema(source)
      .map(_.fieldNames.map(_.toLowerCase).toSet)
      .getOrElse(return None)
    val pinOf = dims.map(x => x -> recordedDimVersion(mvRoot, x.root)).toMap
    val headOf = dimVs.toMap
    def changedKeys(x: MvDim): DataFrame =
      TableFormat.readChanges(spark, x.root, pinOf(x), headOf(x), x.dimKey)
        .select(col(x.dimKey)).distinct()
    // back-propagate (column, keys) to the FACT level: a dim's factKey
    // either IS a fact column, or lives on an EARLIER dim — that dim's
    // rows holding an affected value (under old AND new snapshots:
    // either attribution routes fact rows to an affected group) yield
    // its own affected dimKeys, recursively
    def toFactLevel(i: Int, c: String, keys: DataFrame)
        : Option[(String, DataFrame)] =
      if (factCols.contains(c.toLowerCase)) Some((c, keys.toDF(c)))
      else (0 until i).reverse.find { j =>
        TableFormat.latestSchema(dims(j).root)
          .exists(_.fieldNames.exists(_.equalsIgnoreCase(c)))
      }.flatMap { j =>
        val dj = dims(j)
        val up = Seq(headOf(dj), pinOf(dj)).distinct.map { v =>
          TableFormat.readSnapshot(spark, dj.root, v)
            .select(col(dj.dimKey), col(c))
            .join(keys.toDF(c), Seq(c), "left_semi")
            .select(col(dj.dimKey))
        }.reduce(_ unionByName _).distinct()
        toFactLevel(j, dj.factKey, up)
      }
    val moved = dims.zipWithIndex.filter { case (x, _) =>
      pinOf(x) != headOf(x) }
    val factLevel: Seq[(String, DataFrame)] =
      moved.foldLeft(Option(Seq.empty[(String, DataFrame)])) {
        case (accOpt, (x, i)) => accOpt.flatMap(acc =>
          toFactLevel(i, x.factKey, changedKeys(x)).map(acc :+ _))
      } match {
        case Some(fl) => fl
        case None => return None
      }
    val byCol: Seq[(String, DataFrame)] = factLevel
      .groupBy(_._1.toLowerCase).values.toSeq
      .map(g => g.head._1 ->
        g.map(_._2).reduce(_ unionByName _).distinct())
    // fact rows joining ANY affected key — a zone-map-pruned touched
    // read for the dominant single-column shape, flag-joins otherwise
    val aff: DataFrame = byCol match {
      case Seq((c, ks)) =>
        TableFormat.readTouchedForKeys(spark, source, ks, Seq(c), to)
          .join(ks, Seq(c), "left_semi")
      case many =>
        val flagged = many.zipWithIndex
          .foldLeft(TableFormat.readSnapshot(spark, source, to)) {
            case (acc, ((c, ks), i)) =>
              acc.join(ks.withColumn(s"__graft_aff_$i", lit(1)),
                Seq(c), "left")
          }
        flagged.filter(many.indices.map(i =>
            col(s"__graft_aff_$i").isNotNull).reduce(_ || _))
          .drop(many.indices.map(i => s"__graft_aff_$i"): _*)
    }
    def image(at: MvDim => Int, sign: Int): DataFrame =
      dimImage(spark, d, at)(aff).withColumn("__sign", lit(sign))
    val signed = image(pinOf, -1).unionByName(image(headOf, 1)).persist()
    try {
      val pinProps = dimVs
        .map { case (x, v) => propDimV(x.root) -> v.toString }.toMap
      val appends =
        if (aggs.forall(a => Retractable(a.fn)))
          mergedState(spark, mvRoot, hasState(mvRoot, 0), groupCols,
            aggs, signed)
        else recomputedState(spark, dimImage(spark, d, headOf)(
          TableFormat.readSnapshot(spark, source, to)), groupCols, aggs,
          signed)
      val deletes = signed.select(keyExpr(groupCols).as(KeyCol)).distinct()
      Some(TableFormat.applyDelta(spark, mvRoot, deletes, KeyCol, appends,
        statsCol = Some(KeyCol), propsDelta = pinProps))
    } finally {
      signed.unpersist(blocking = false)
      ()
    }
  }

  private def hasState(mvRoot: String, from: Int): Boolean = {
    val head = TableFormat.latestVersion(mvRoot)
    from >= 0 && head >= 0 &&
      TableFormat.readManifestFull(mvRoot, head).entries.nonEmpty
  }

  /** Fact rows → each dim's snapshot at `at(dim)`, joined on its keys →
    * the view's WHERE: the one fold every refresh path shares. The
    * predicate applies after the join because it may name dim columns;
    * with no dims this is exactly the WHERE filter.
    */
  private def dimImage(spark: SparkSession, d: MvDef, at: MvDim => Int)(
      df: DataFrame): DataFrame = {
    val joined = d.dims.foldLeft(df) { (acc, x) =>
      val dimDf = TableFormat.readSnapshot(spark, x.root, at(x))
      if (x.factKey == x.dimKey) acc.join(dimDf, Seq(x.factKey))
      else acc.join(dimDf, acc(x.factKey) === dimDf(x.dimKey))
        .drop(dimDf(x.dimKey))
    }
    d.where.map(w => joined.filter(expr(w))).getOrElse(joined)
  }

  // ---------------------------------------------------------- follow

  /** CONTINUOUS maintenance: [[refresh]] the view on every commit of
    * its inputs — its source and each of its dims — through ONE
    * [[TableFormatStreamSource.trigger]] over all of them (the
    * micro-batch rows are never read). Refresh stays the ONE maintainer
    * and following keeps no state of its own: the version markers riding
    * each refresh commit turn a replayed batch, a restart, a fresh
    * checkpoint and an interleaved batch refresh into no-ops past the
    * folded window, and a followed view goes back to batch refreshes
    * with no rebuild. Every view shape follows as refresh routes it
    * (min/max and approx_count_distinct included). A cascaded view
    * follows its PARENT view's commits. A dim commit alone wakes a
    * dim-joined view, and refresh re-attributes the moved dim.
    *
    * A dim-joined view's checkpoint holds one offset per input, so a
    * checkpoint from a follow that watched the source alone does not
    * resume (Spark refuses a checkpoint whose source count differs from
    * the query's): follow such a view on a fresh checkpoint, whose first
    * batch's refresh meets the markers and folds only what is new. A view
    * with no dims still watches one root, and its checkpoints resume.
    */
  def follow(spark: SparkSession, mvRoot: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val d = definition(mvRoot)
    TableFormatStreamSource.trigger(spark, d.source +: d.dims.map(_.root),
      checkpoint) { refresh(spark, mvRoot); () }
  }

  /** Per-group STATE aggregates over raw source rows (`sign` absent) —
    * the recompute/initial shape. Kept textually parallel to
    * [[deltaAggs]]: the two must agree or incremental ≠ recompute.
    */
  private def stateAggs(aggs: Seq[MvAgg]): Seq[Column] =
    count(lit(1)).as(NCol) +: aggs.flatMap { a =>
      a.fn match {
        case "count_star" => Nil // finalized from NCol
        case "count" => Seq(count(expr(a.in)).as(cCol(a.out)))
        case "sum" => Seq(sum(expr(a.in)).as(aCol(a.out)),
          count(expr(a.in)).as(cCol(a.out)))
        case "avg" => Seq(sum(expr(a.in).cast("double")).as(aCol(a.out)),
          count(expr(a.in)).as(cCol(a.out)))
        case "approx_count_distinct" =>
          Seq(hllUdaf(ndvHash(expr(a.in))).as(aCol(a.out)))
        case "min" => Seq(min(expr(a.in)).as(aCol(a.out)))
        case "max" => Seq(max(expr(a.in)).as(aCol(a.out)))
      }
    }

  /** Per-group DELTA aggregates over ±1-signed window rows. With
    * `appendOnly` (the router proved every sign is +1), min/max join
    * the mergeable set: the window's extremum folds into the standing
    * one with least/greatest — the append-mostly fast path (r17
    * VERDICT #5).
    */
  private def deltaAggs(aggs: Seq[MvAgg],
      appendOnly: Boolean = false): Seq[Column] = {
    val sign = col("__sign")
    sum(sign.cast("long")).as(NCol) +: aggs.flatMap { a =>
      def nn = expr(a.in).isNotNull
      a.fn match {
        case "count_star" => Nil
        case "count" => Seq(
          sum(when(nn, sign.cast("long")).otherwise(0L)).as(cCol(a.out)))
        case "sum" => Seq(
          sum(when(nn, expr(a.in) * sign).otherwise(lit(null))).as(aCol(a.out)),
          sum(when(nn, sign.cast("long")).otherwise(0L)).as(cCol(a.out)))
        case "avg" => Seq(
          sum(when(nn, expr(a.in).cast("double") * sign)
            .otherwise(lit(null))).as(aCol(a.out)),
          sum(when(nn, sign.cast("long")).otherwise(0L)).as(cCol(a.out)))
        // only reachable on an append-only window (the refresh router):
        // every sign is +1, so the window's registers are just its rows'
        case "approx_count_distinct" =>
          Seq(hllUdaf(ndvHash(expr(a.in))).as(aCol(a.out)))
        case "min" if appendOnly => Seq(min(expr(a.in)).as(aCol(a.out)))
        case "max" if appendOnly => Seq(max(expr(a.in)).as(aCol(a.out)))
        case other => throw new IllegalStateException(
          s"non-retractable $other reached the delta path with drops")
      }
    }
  }

  /** The state columns' land order — both refresh paths and the
    * initial materialization produce exactly this frame shape.
    */
  private def stateSelect(groupCols: Seq[String], aggs: Seq[MvAgg])
      : Seq[Column] =
    groupCols.map(col) ++ (col(KeyCol) +: col(NCol) +:
      aggs.flatMap { a =>
        a.fn match {
          case "count_star" => Nil
          case "count" => Seq(col(cCol(a.out)))
          case "sum" | "avg" => Seq(col(aCol(a.out)), col(cCol(a.out)))
          case _ => Seq(col(aCol(a.out)))
        }
      })

  /** RETRACTABLE merge: standing state ⋈ window delta on the group key
    * (full outer — births and deaths), state summed, dead groups (row
    * count 0) dropped. The join's delta side is one aggregation of the
    * changed rows — small — so Catalyst broadcast-plans it against the
    * view scan in the common case.
    */
  private def mergedState(spark: SparkSession, mvRoot: String,
      hasState: Boolean, groupCols: Seq[String], aggs: Seq[MvAgg],
      signed: DataFrame, appendOnly: Boolean = false): DataFrame = {
    val dAggs = deltaAggs(aggs, appendOnly)
    val delta = signed.groupBy(groupCols.map(col): _*)
      .agg(dAggs.head, dAggs.tail: _*)
      .withColumn(KeyCol, keyExpr(groupCols))
    val stateCols = stateSelect(groupCols, aggs)
    if (!hasState) {
      // first materialization (or standing state empty): delta IS state
      return delta.filter(col(NCol) > 0).select(stateCols: _*)
    }
    // standing state read PRUNED to the affected keys' dirs: rows of
    // untouched groups cannot join anything (the delta side holds only
    // affected keys), so dirs whose key bounds exclude them are skipped
    // — refresh I/O ∝ affected dirs, never view size (the delta
    // aggregation evaluates once more for the bounds probe; it is an
    // aggregate of the change window, bounded by changed files)
    val old = TableFormat.readTouchedForKeys(spark, mvRoot,
      delta.select(KeyCol), Seq(KeyCol))
    // disambiguate: every delta column except the join key gets a d_ name
    val d = delta.columns.filterNot(_ == KeyCol)
      .foldLeft(delta)((f, c) => f.withColumnRenamed(c, s"__d_$c"))
    def addLong(a: Column, b: Column): Column =
      coalesce(a, lit(0L)) + coalesce(b, lit(0L))
    // RIGHT join: the appended rows must cover exactly the AFFECTED
    // keys (the delta side) — standing rows the window never touched
    // stay in their dirs unmasked, and re-appending them (a full outer
    // join's left-only rows) would duplicate every untouched group
    val merged = old.join(d, Seq(KeyCol), "right")
      .withColumn(NCol, addLong(col(NCol), col(s"__d_$NCol")))
      .filter(col(NCol) > 0)
    val folded = aggs.foldLeft(merged) { (f, a) =>
      a.fn match {
        case "count_star" => f
        case "count" => f.withColumn(cCol(a.out),
          addLong(col(cCol(a.out)), col(s"__d_${cCol(a.out)}")))
        case "sum" | "avg" =>
          // raw sums may be NULL (all-null group on either side):
          // null+null stays null, value+null keeps the value
          f.withColumn(aCol(a.out),
              when(col(aCol(a.out)).isNull && col(s"__d_${aCol(a.out)}").isNull,
                lit(null))
                .otherwise(coalesce(col(aCol(a.out)), lit(0)) +
                  coalesce(col(s"__d_${aCol(a.out)}"), lit(0))))
            .withColumn(cCol(a.out),
              addLong(col(cCol(a.out)), col(s"__d_${cCol(a.out)}")))
        case "approx_count_distinct" =>
          // register max of standing ∥ window state; a birth has no
          // standing registers, an affected-but-hash-free window side
          // cannot occur (the group is in the delta because it has rows,
          // and the udaf always finishes a buffer)
          f.withColumn(aCol(a.out),
            when(col(aCol(a.out)).isNull, col(s"__d_${aCol(a.out)}"))
              .otherwise(when(col(s"__d_${aCol(a.out)}").isNull,
                col(aCol(a.out)))
                .otherwise(ColumnBridge.column(HllMergeExpr(
                  ColumnBridge.expression(col(aCol(a.out))),
                  ColumnBridge.expression(col(s"__d_${aCol(a.out)}")))))))
        // append-only windows only (the router's contract): the new
        // extremum is the least/greatest of standing and window —
        // least/greatest skip NULLs, exactly the birth semantics
        case "min" if appendOnly => f.withColumn(aCol(a.out),
          least(col(aCol(a.out)), col(s"__d_${aCol(a.out)}")))
        case "max" if appendOnly => f.withColumn(aCol(a.out),
          greatest(col(aCol(a.out)), col(s"__d_${aCol(a.out)}")))
        case other => throw new IllegalStateException(
          s"non-retractable $other reached the merge path with drops")
      }
    }
    // group columns: the standing row's values, else the delta's (birth)
    val withGroups = groupCols.foldLeft(folded)((f, g) =>
      f.withColumn(g, coalesce(col(g), col(s"__d_$g"))))
    withGroups.select(stateSelect(groupCols, aggs): _*)
  }

  /** NON-RETRACTABLE refresh: recompute the affected groups' state from
    * the source head, semi-joined to the window's group keys — cost ∝
    * the changed groups' rows, never the table. Groups that died are
    * absent here and handled by the caller's key mask.
    */
  private def recomputedState(spark: SparkSession, head: DataFrame,
      groupCols: Seq[String], aggs: Seq[MvAgg], signed: DataFrame)
      : DataFrame = {
    // semi-join on the computed KEY STRING, never raw group columns:
    // raw-column equality is null-unsafe, so a NULL-keyed group would
    // never match here and silently vanish from min/max (and
    // HLL-with-drops) views while the caller's keyExpr-based delete
    // mask (NULL → '∅') still dropped its standing row — GROUP BY
    // semantics demand the NULL group materialize like any other
    // (round-16 ADVICE, high)
    val affected = signed.select(keyExpr(groupCols).as(KeyCol)).distinct()
    head.withColumn(KeyCol, keyExpr(groupCols))
      .join(affected, Seq(KeyCol), "left_semi")
      .drop(KeyCol)
      .groupBy(groupCols.map(col): _*)
      .agg(stateAggs(aggs).head, stateAggs(aggs).tail: _*)
      .withColumn(KeyCol, keyExpr(groupCols))
      .select(stateSelect(groupCols, aggs): _*)
  }

  // -------------------------------------------------------------- read

  /** The finalized user-visible view: group columns + each aggregate
    * under its declared name, state resolved (count(*) from the group
    * row count; sum/avg NULL when no non-null input survives — the
    * count guard, matching SQL aggregate semantics exactly).
    */
  def read(spark: SparkSession, mvRoot: String): DataFrame = {
    val MvDef(_, groupCols, aggs, _, _) = definition(mvRoot)
    finalizeFrame(groupCols, aggs, TableFormat.readSnapshot(spark, mvRoot))
  }

  /** State rows → the user-visible frame — shared by [[read]] and the
    * CASCADE path (a view whose source is ITSELF a view consumes the
    * parent's change window through this projection: state rows are
    * one-per-group, so adding/dropping a state row IS adding/dropping
    * exactly one finalized row — the multiset delta survives the
    * projection untouched).
    */
  private def finalizeFrame(groupCols: Seq[String], aggs: Seq[MvAgg],
      state: DataFrame): DataFrame = {
    val outs = aggs.map { a =>
      a.fn match {
        case "count_star" => col(NCol).as(a.out)
        case "count" => col(cCol(a.out)).as(a.out)
        case "sum" => when(col(cCol(a.out)) > 0, col(aCol(a.out)))
          .as(a.out)
        case "avg" => when(col(cCol(a.out)) > 0,
          col(aCol(a.out)) / col(cCol(a.out))).as(a.out)
        case "approx_count_distinct" => ColumnBridge.column(
          HllEstimateExpr(ColumnBridge.expression(col(aCol(a.out)))))
          .as(a.out)
        case _ => col(aCol(a.out)).as(a.out)
      }
    }
    state.select(groupCols.map(col) ++ outs: _*)
  }

  /** The parent-view finalize projection when `source` is itself a
    * materialized view, identity otherwise — how every source read in
    * [[refresh]] sees finalized rows, making view-over-view cascades
    * (daily → monthly rollups) just work.
    */
  private def sourceView(source: String): Option[MvDef] =
    if (TableFormat.tableProps(source).contains(PropSource))
      Some(definition(source))
    else None

  // ------------------------------------------------- fixtures + queries

  /** Landed MV fixture — the full lifecycle against an orders-backed
    * source: create over the odd-key half, then append the even half,
    * merge-on-read delete every 13th key, append a synthetic tail
    * (key+hi+1, status 'N'), and refresh ONCE across all three source
    * commits. Key arithmetic only, so the oracle recomputes the same
    * aggregates from `orders` directly — a hash match proves
    * incremental == recompute end-to-end through the change window.
    */
  private def landedMv(s: SparkSession, dir: String)
      : (String, String, String, String, String, String) =
    Memo.session("mv_fixture", s, dir) {
      val src = Memo.tempRoot("mv_src")
      val orders = Sources.table(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderpriority",
          "o_custkey")
      val hi = orders.agg(max("o_orderkey")).head.getLong(0)
      TableFormat.append(orders.filter(col("o_orderkey") % 2 === 1), src,
        statsCol = Some("o_orderkey"))
      val mv = Memo.tempRoot("mv_view")
      create(s, mv, src, Seq("o_orderstatus"), Seq(
        MvAgg("count_star", "*", "n"),
        MvAgg("sum", "o_orderkey", "sum_key"),
        MvAgg("avg", "o_orderkey", "avg_key")))
      val mm = Memo.tempRoot("mv_view_mm")
      create(s, mm, src, Seq("o_orderstatus", "o_orderpriority"), Seq(
        MvAgg("count_star", "*", "n"),
        MvAgg("min", "o_orderkey", "min_key"),
        MvAgg("max", "o_orderkey", "max_key")))
      val nv = Memo.tempRoot("mv_view_ndv")
      create(s, nv, src, Seq("o_orderstatus"), Seq(
        MvAgg("count_star", "*", "n"),
        MvAgg("approx_count_distinct", "o_orderkey", "keys_est")))
      val fl = Memo.tempRoot("mv_view_flt")
      create(s, fl, src, Seq("o_orderpriority"), Seq(
        MvAgg("count_star", "*", "n"),
        MvAgg("sum", "o_orderkey % 100", "sum_mod")),
        where = Some("o_orderstatus <> 'O'"))
      // star-join view: orders ⋈ customer ⋈ nation, rolled up by nation
      // — the dims land ONCE as format tables and never move, so every
      // later refresh takes the fact-delta path against their pins
      val custD = Memo.tempRoot("mv_dim_cust")
      TableFormat.append(Sources.table(s, dir, "customer")
        .select("c_custkey", "c_nationkey"), custD,
        statsCol = Some("c_custkey"))
      val natD = Memo.tempRoot("mv_dim_nat")
      TableFormat.append(Sources.table(s, dir, "nation")
        .select("n_nationkey", "n_name"), natD,
        statsCol = Some("n_nationkey"))
      val jv = Memo.tempRoot("mv_view_join")
      create(s, jv, src, Seq("n_name"), Seq(
        MvAgg("count_star", "*", "n"),
        MvAgg("sum", "o_orderkey % 1000", "sum_mod")),
        dims = Seq(MvDim(custD, "o_custkey", "c_custkey"),
          MvDim(natD, "c_nationkey", "n_nationkey")))
      TableFormat.append(orders.filter(col("o_orderkey") % 2 === 0), src,
        statsCol = Some("o_orderkey"))
      refresh(s, nv) // append-only window: the register-MERGE path
      TableFormat.deleteKeysMor(s, src,
        orders.filter(col("o_orderkey") % 13 === 0).select("o_orderkey"),
        "o_orderkey")
      TableFormat.append(orders.filter(col("o_orderkey") % 97 === 0)
        .select((col("o_orderkey") + hi + 1).as("o_orderkey"),
          lit("N").as("o_orderstatus"), col("o_orderpriority"),
          col("o_custkey")), src,
        statsCol = Some("o_orderkey"))
      refresh(s, mv)
      refresh(s, mm)
      refresh(s, nv) // window with drops: the recompute path
      refresh(s, fl)
      refresh(s, jv) // dims unmoved: the fact-delta path through joins
      (src, mv, mm, nv, fl, jv)
    }

  private def qMvIncremental(s: SparkSession, dir: String): DataFrame = {
    val (_, mv, _, _, _, _) = landedMv(s, dir)
    read(s, mv).orderBy("o_orderstatus")
  }

  private def qMvMinmax(s: SparkSession, dir: String): DataFrame = {
    val (_, _, mm, _, _, _) = landedMv(s, dir)
    read(s, mm).orderBy("o_orderstatus", "o_orderpriority")
  }

  /** Approx-distinct view — APPROXIMATE by design, so rows-only at the
    * driver (no DuckDB oracle, the SURVEY §2 A3 convention); the spec
    * pins maintained == recompute register-for-register and the
    * estimate's tolerance, and the fixture exercises BOTH refresh paths
    * (append-only merge window, then a window with drops).
    */
  private def qMvNdv(s: SparkSession, dir: String): DataFrame = {
    val (_, _, _, nv, _, _) = landedMv(s, dir)
    read(s, nv).orderBy("o_orderstatus")
  }

  /** WHERE-scoped view with an EXPRESSION measure — the fixture's
    * update-free lifecycle still crosses the predicate boundary (the
    * synthetic 'N' tail fails it; the 13th-key delete retracts matching
    * rows), and the oracle restates filter + expression declaratively.
    */
  private def qMvFiltered(s: SparkSession, dir: String): DataFrame = {
    val (_, _, _, _, fl, _) = landedMv(s, dir)
    read(s, fl).orderBy("o_orderpriority")
  }

  /** Star-join view maintained from fact deltas against pinned dims —
    * the oracle restates the join + rollup declaratively over the
    * fixture's key arithmetic.
    */
  private def qMvJoin(s: SparkSession, dir: String): DataFrame = {
    val (_, _, _, _, _, jv) = landedMv(s, dir)
    read(s, jv).orderBy("n_name")
  }

  /** The same lifecycle driven ENTIRELY through SQL: CREATE
    * MATERIALIZED VIEW, source DML, REFRESH, and a `graft_mv` read.
    */
  private def landedSqlMv(s: SparkSession, dir: String): String =
    Memo.session("mv_sql", s, dir) {
      val src = Memo.tempRoot("mv_sqlsrc")
      val orders = Sources.table(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus")
      TableFormat.append(orders.filter(col("o_orderkey") % 2 === 1), src,
        statsCol = Some("o_orderkey"))
      val mv = Memo.tempRoot("mv_sqlview")
      s.sql(s"""CREATE MATERIALIZED VIEW '$mv' AS
        SELECT o_orderstatus, count(*) AS n, sum(o_orderkey) AS sum_key
        FROM '$src' GROUP BY o_orderstatus""")
      TableFormat.append(orders.filter(col("o_orderkey") % 2 === 0), src,
        statsCol = Some("o_orderkey"))
      s.sql(s"REFRESH MATERIALIZED VIEW '$mv'")
      mv
    }

  private def qMvSql(s: SparkSession, dir: String): DataFrame = {
    val mv = landedSqlMv(s, dir)
    s.sql(s"SELECT * FROM graft_mv('$mv') ORDER BY o_orderstatus")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q_mv_incremental" -> qMvIncremental,
      "q_mv_minmax" -> qMvMinmax,
      "q_mv_ndv" -> qMvNdv,
      "q_mv_filtered" -> qMvFiltered,
      "q_mv_join" -> qMvJoin,
      "q_mv_sql" -> qMvSql)

  val oracleSql: Map[String, String] = Map(
    // effective source after the fixture's three commits; avg over a
    // LONG column is hash-exact (integral partial sums < 2^53)
    "q_mv_incremental" ->
      """WITH b AS (SELECT max(o_orderkey) AS hi FROM orders),
        |eff AS (
        |  SELECT o_orderkey, o_orderstatus FROM orders
        |  WHERE o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + hi + 1, 'N' FROM orders, b
        |  WHERE o_orderkey % 97 = 0)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  avg(o_orderkey) AS avg_key
        |FROM eff GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_mv_filtered" ->
      """WITH b AS (SELECT max(o_orderkey) AS hi FROM orders),
        |eff AS (
        |  SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
        |  WHERE o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + hi + 1, 'N', o_orderpriority FROM orders, b
        |  WHERE o_orderkey % 97 = 0)
        |SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(o_orderkey % 100) AS BIGINT) AS sum_mod
        |FROM eff WHERE o_orderstatus <> 'O'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_mv_join" ->
      """WITH b AS (SELECT max(o_orderkey) AS hi FROM orders),
        |eff AS (
        |  SELECT o_orderkey, o_custkey FROM orders
        |  WHERE o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + hi + 1, o_custkey FROM orders, b
        |  WHERE o_orderkey % 97 = 0)
        |SELECT n_name, count(*) AS n,
        |  CAST(sum(o_orderkey % 1000) AS BIGINT) AS sum_mod
        |FROM eff
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_mv_minmax" ->
      """WITH b AS (SELECT max(o_orderkey) AS hi FROM orders),
        |eff AS (
        |  SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
        |  WHERE o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + hi + 1, 'N', o_orderpriority FROM orders, b
        |  WHERE o_orderkey % 97 = 0)
        |SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM eff GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "q_mv_sql" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""
        .stripMargin)
}
