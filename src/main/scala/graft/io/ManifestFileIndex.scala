package graft.io

import org.apache.hadoop.fs.{FileStatus, Path => HPath}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal, Or}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types._

/** A Catalyst [[FileIndex]] over one immutable [[TableFormat]] snapshot —
  * the piece that turns the manifest's typed zone maps into AUTOMATIC
  * file skipping (the public Delta-lake architecture: their log-backed
  * file index plays exactly this role over their commit log). Spark's
  * `FileSourceStrategy` hands every scan's data filters to
  * [[listFiles]]; conjuncts of the shape `col (=|<|<=|>|>=|IN) literal`
  * over long/string/date columns translate to inclusive ranges and
  * prune manifest entries against their typed bounds. Every snapshot
  * read builds on this index ([[TableFormat.entriesFrame]]), so the
  * Scala API's `readSnapshot(...).filter(...)` and a SQL WHERE prune
  * through one semantics. Everything else about the scan stays
  * Spark's own parquet path: pushed row-group filters, vectorized
  * reads, whole-stage codegen.
  *
  * Scale: pruning runs on the driver against the in-memory manifest
  * (KB–MB for a 100 TB table); file statuses are listed once per index
  * instance (entries are immutable dirs) and only surviving entries'
  * files reach the scan. Unknown predicate shapes or unstatted columns
  * prune nothing — sound-first, like every pruning path in the format.
  *
  * `notNull` names (physically) the columns the snapshot's recorded
  * schema declares NOT NULL: a snapshot read plans all-nullable, so the
  * planner rules that need the recorded nullability read it here.
  */
private[graft] final class ManifestFileIndex(
    spark: SparkSession, private[graft] val root: String,
    private[graft] val entries: Seq[TableFormat.Entry],
    private[graft] val writeOpts: Map[String, String] = Map.empty,
    private[graft] val maskPending: Boolean = false,
    private[graft] val notNull: Set[String] = Set.empty)
    extends FileIndex {

  /** A dv-bearing snapshot served through the one-relation doorway is
    * POISONED until [[GraftDvMaskRule]] swaps the masked composite
    * plan in: listing must be impossible, so a plan that somehow
    * escapes the injected rule (extensions not registered) fails
    * LOUDLY instead of silently resurrecting dv-deleted rows. Metadata
    * (schema, sizeInBytes, the DML root/writeOpts) stays readable —
    * resolution and the rewrite rules need it.
    */
  private def failIfMaskPending(): Unit =
    require(!maskPending,
      s"snapshot at $root carries deletion vectors or renamed columns " +
        "(column mapping); this relation must be read through " +
        "graft.GraftExtensions (the injected mask rule), " +
        "TableFormat.readSnapshot/registerSql, or after compact() " +
        "folds the vectors")

  /** LAZY per-dir listing memo: a pruned query lists ONLY its surviving
    * dirs (entries are immutable, so a listing never staleles) — at
    * 10⁵-10⁶ dirs an eager all-dirs listing would put the full-table
    * metadata cost on every plan, exactly what the manifest exists to
    * avoid.
    */
  private val listed =
    scala.collection.concurrent.TrieMap.empty[String, Seq[FileStatus]]

  private def filesOf(e: TableFormat.Entry): Seq[FileStatus] =
    listed.getOrElseUpdate(e.dir,
      TableFormat.listDataFiles(spark.sessionState.newHadoopConf(), e.dir))

  override def rootPaths: Seq[HPath] = Seq(new HPath(root))

  override def partitionSchema: StructType = StructType(Nil)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    failIfMaskPending()
    val kept = entries.filter(e =>
      dataFilters.forall(f => ManifestFileIndex.keeps(e.bounds, f)))
    Seq(PartitionDirectory(InternalRow.empty,
      kept.flatMap(filesOf).toArray))
  }

  override def inputFiles: Array[String] = {
    failIfMaskPending()
    entries.flatMap(e => filesOf(e).map(_.getPath.toString)).toArray
  }

  override def refresh(): Unit = () // snapshots are immutable

  /** Planner statistics from the MANIFEST's size account when every
    * entry carries one (commits record it since r16) — zero listing;
    * legacy entries fall back to listing only themselves.
    */
  override lazy val sizeInBytes: Long =
    entries.map { e =>
      if (e.bytes >= 0) e.bytes else filesOf(e).map(_.getLen).sum
    }.sum

  /** Exact row count of THIS relation from the manifest's row accounts,
    * when every entry carries one and none is dv-masked (a dv entry's
    * physical rows are still what this scan node produces, but the
    * account's consumers reason about the user-visible table — decline
    * and let the scan answer). Feeds the metadata-only `count(*)`
    * rewrite in [[graft.GraftExtensions]]: zero listings, zero jobs.
    */
  private[graft] lazy val metadataRowCount: Option[Long] =
    if (entries.forall(e => e.rows >= 0 && e.dv.isEmpty))
      Some(entries.map(_.rows).sum)
    else None
}

private[graft] object ManifestFileIndex {

  /** Can an entry with these bounds possibly hold a row satisfying the
    * filter? A sound Boolean EVALUATOR over the predicate tree — And
    * intersects, Or unions (so `k <= 5 OR k >= 900` prunes the middle
    * dirs, which a conjunct-flattening translation cannot express), IN
    * lists probe exactly per value (the optimizer's InSet form of a
    * long list too), leaf comparisons of the shape
    * `col (=|<|<=|>|>=) literal` check the recorded range, and ANY
    * unknown shape — casts, functions, Not, null predicates — answers
    * "maybe" (true). Unstatted columns answer "maybe" too. Pruning is
    * an I/O optimization, never a row-level guarantee: the filter still
    * runs on every surviving row.
    */
  private[graft] def keeps(bounds: Map[String, TableFormat.ColBounds],
      e: Expression): Boolean = e match {
    case And(l, r) => keeps(bounds, l) && keeps(bounds, r)
    case Or(l, r) => keeps(bounds, l) || keeps(bounds, r)
    case In(a: Attribute, vs) if vs.nonEmpty && vs.forall {
        case Literal(_, _) => true; case _ => false } =>
      keepsAnyOf(bounds, a, vs.collect { case Literal(v, t) => value(v, t) })
    case InSet(a: Attribute, hs) if hs.nonEmpty =>
      keepsAnyOf(bounds, a, hs.toSeq.map(value(_, a.dataType)))
    case cmp =>
      leafRange(cmp) match {
        case Some((c, lo, hi)) =>
          bounds.get(c).forall(b => survives(b, lo, hi))
        case None => true // unknown shape: maybe (sound)
      }
  }

  /** An IN list over `a`: can the entry hold any of the values? A value
    * outside the comparison domain answers "maybe".
    */
  private def keepsAnyOf(bounds: Map[String, TableFormat.ColBounds],
      a: Attribute, xs: Seq[Option[Any]]): Boolean =
    if (xs.exists(_.isEmpty)) true
    else bounds.get(a.name).forall(b =>
      xs.flatten.exists(x => survives(b, Some(x), Some(x))))

  /** The inclusive range a single comparison constrains `col` to, open
    * ends as None; None for shapes the evaluator cannot reason about
    * (e.g. comparisons against a CAST of the column, whose ordering may
    * differ from the recorded bounds domain).
    */
  private def leafRange(e: Expression)
      : Option[(String, Option[Any], Option[Any])] = e match {
    case EqualTo(a: Attribute, Literal(v, t)) =>
      value(v, t).map(x => (a.name, Some(x), Some(x)))
    case EqualTo(Literal(v, t), a: Attribute) =>
      value(v, t).map(x => (a.name, Some(x), Some(x)))
    case GreaterThan(a: Attribute, Literal(v, t)) =>
      value(v, t).map(x => (a.name, Some(x), None))
    case GreaterThanOrEqual(a: Attribute, Literal(v, t)) =>
      value(v, t).map(x => (a.name, Some(x), None))
    case LessThan(a: Attribute, Literal(v, t)) =>
      value(v, t).map(x => (a.name, None, Some(x)))
    case LessThanOrEqual(a: Attribute, Literal(v, t)) =>
      value(v, t).map(x => (a.name, None, Some(x)))
    case GreaterThan(Literal(v, t), a: Attribute) =>
      value(v, t).map(x => (a.name, None, Some(x)))
    case GreaterThanOrEqual(Literal(v, t), a: Attribute) =>
      value(v, t).map(x => (a.name, None, Some(x)))
    case LessThan(Literal(v, t), a: Attribute) =>
      value(v, t).map(x => (a.name, Some(x), None))
    case LessThanOrEqual(Literal(v, t), a: Attribute) =>
      value(v, t).map(x => (a.name, Some(x), None))
    case _ => None
  }

  /** Internal literal → the comparison-domain value [[TableFormat
    * .intersects]] understands: integral → Long, string → String
    * (UTF8String unwrapped), date → LocalDate. None = unsupported
    * domain, conjunct skipped.
    */
  private def value(v: Any, t: DataType): Option[Any] = (t, v) match {
    case (_, null) => None // a null comparison matches nothing anyway
    case (LongType | IntegerType | ShortType | ByteType, n: Number) =>
      Some(Long.box(n.longValue))
    case (StringType, s) => Some(s.toString)
    case (DateType, d: Integer) =>
      Some(java.time.LocalDate.ofEpochDay(d.longValue))
    case _ => None
  }

  /** Does bounds `b` intersect the (possibly open-ended) range? The
    * closed-ends case defers to [[TableFormat.intersects]] verbatim —
    * one comparison semantics for both the SQL and the Scala pruning
    * doorways; open ends check the single finite side in the same
    * domain. Type mismatches keep the entry.
    */
  private[graft] def survives(b: TableFormat.ColBounds,
      lo: Option[Any], hi: Option[Any]): Boolean = (lo, hi) match {
    case (Some(l), Some(h)) => TableFormat.intersects(b, l, h)
    case (Some(l), None) => // entry survives iff its hi >= l
      (b.typ, l) match {
        case ("long", n: Number) => b.hi.toLong >= n.longValue
        case ("string", s: String) => TableFormat.utf8Cmp(b.hi, s) >= 0
        case ("date", d: java.time.LocalDate) =>
          b.hi.toLong >= d.toEpochDay
        case _ => true
      }
    case (None, Some(h)) => // entry survives iff its lo <= h
      (b.typ, h) match {
        case ("long", n: Number) => b.lo.toLong <= n.longValue
        case ("string", s: String) => TableFormat.utf8Cmp(b.lo, s) <= 0
        case ("date", d: java.time.LocalDate) =>
          b.lo.toLong <= d.toEpochDay
        case _ => true
      }
    case (None, None) => true
  }

  /** The [[HadoopFsRelation]] over one entry set — ordinary parquet
    * `FileFormat` below, manifest pruning above. `writeOpts` (the
    * provider's statsCols/bloomCol parameters) ride on the index so an
    * `INSERT INTO` resolved against this relation
    * ([[graft.io.GraftDmlRule]]) lands commits with the same zone
    * maps and blooms the table was declared with.
    */
  private[graft] def relation(spark: SparkSession, root: String,
      entries: Seq[TableFormat.Entry], schema: StructType,
      writeOpts: Map[String, String] = Map.empty,
      maskPending: Boolean = false,
      notNull: Set[String] = Set.empty): BaseRelation =
    HadoopFsRelation(
      location = new ManifestFileIndex(spark, root, entries, writeOpts,
        maskPending, notNull),
      partitionSchema = StructType(Nil),
      dataSchema = schema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat(),
      options = Map.empty)(spark)

  private[graft] def frame(spark: SparkSession, root: String,
      entries: Seq[TableFormat.Entry], schema: StructType,
      notNull: Set[String]): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(relation(spark, root, entries, schema,
        notNull = notNull))
}
