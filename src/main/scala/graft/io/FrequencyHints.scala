package graft.io

import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, HintInfo, Join, JoinHint, LogicalPlan, Project, BROADCAST, NO_BROADCAST_HASH}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StringType

/** Steer JOIN BROADCAST decisions off the manifest's STRING frequency
  * summaries (r20 — the r19 VERDICT #4 consumer): Spark's own
  * estimation has no string-domain distribution — a skewed equality
  * (`lang = 'en'` at 95 % of the corpus) estimates rows/ndv under CBO
  * and the UNFILTERED relation size without it, so the planner either
  * broadcasts a side that is actually huge (executor OOM at 100 TB) or
  * ships a full shuffle for a side that is actually tiny. This rule
  * recognizes the one shape the summaries answer exactly — a string
  * equality filter directly over a manifest-backed scan feeding a join
  * — and sets the join-side hint ONLY when the summary's answer and
  * Spark's own would land on different sides of the broadcast
  * threshold, using the summary's sound ROW bounds in the safe
  * direction (bytes derive from the table-average row width — the
  * same approximation Spark's own estimates use — with extra headroom
  * on the broadcast side):
  *
  *   - BROADCAST when TWICE the upper count bound's bytes fit under
  *     the threshold (extra conjuncts only shrink the side further;
  *     the headroom guards per-value width skew) while Spark's
  *     estimate says it does not;
  *   - NO_BROADCAST_HASH when the LOWER bound alone overflows the
  *     threshold (sound only when the equality is the WHOLE filter)
  *     while Spark's estimate would have broadcast — the
  *     OOM-prevention direction.
  *
  * Declines on any gap: incomplete per-entry coverage, deletion-vector
  * debt, a missing row account, an existing user hint (user beats
  * derived), or a disabled auto-broadcast threshold. Estimates feed
  * PLANNING only — no correctness path reads them.
  */
object GraftFrequencyHints extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.autoBroadcastJoinThreshold <= 0) return plan
    plan.transform {
      case j: Join =>
        val lh = j.hint.leftHint.orElse(sideHint(j.left))
        val rh = j.hint.rightHint.orElse(sideHint(j.right))
        if (lh == j.hint.leftHint && rh == j.hint.rightHint) j
        else j.copy(hint = JoinHint(lh, rh))
    }
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** The side shape: [Project*] Filter(cond, [Project*] scan-of-manifest). */
  private def sideHint(side: LogicalPlan): Option[HintInfo] = {
    def stripToFilter(p: LogicalPlan): Option[Filter] = p match {
      case p2: Project => stripToFilter(p2.child)
      case f: Filter => Some(f)
      case _ => None
    }
    def stripToManifest(p: LogicalPlan): Option[ManifestFileIndex] =
      p match {
        case p2: Project => stripToManifest(p2.child)
        case l: LogicalRelation => l.relation match {
          case fs: HadoopFsRelation => fs.location match {
            case m: ManifestFileIndex => Some(m)
            case _ => None
          }
          case _ => None
        }
        case _ => None
      }
    for {
      f <- stripToFilter(side)
      m <- stripToManifest(f.child)
      hint <- hintFor(f, m)
    } yield hint
  }

  /** Resolve `a` through the Project chain under the Filter to the
    * RELATION's own column name — by exprId, never by spelling: a
    * Project may alias a different column (or a computed expression)
    * to a stats column's name, and consulting the manifest under that
    * spelling would read the WRONG column's summaries and hint a huge
    * side into a broadcast. Anything but a plain attribute chain
    * declines.
    */
  private def relationName(p: LogicalPlan, a: AttributeReference)
      : Option[String] = p match {
    case Project(list, child) => list.find(_.exprId == a.exprId) match {
      case Some(al: org.apache.spark.sql.catalyst.expressions.Alias) =>
        al.child match {
          case ar: AttributeReference => relationName(child, ar)
          case _ => None
        }
      case Some(ar: AttributeReference) => relationName(child, ar)
      case _ => None
    }
    case l: LogicalRelation =>
      l.output.find(_.exprId == a.exprId).map(_.name)
    case _ => None
  }

  private def hintFor(f: Filter, m: ManifestFileIndex)
      : Option[HintInfo] = {
    val cs = conjuncts(f.condition)
    def isEqLit(e: Expression): Boolean = e match {
      case EqualTo(_: AttributeReference, _: Literal) => true
      case EqualTo(_: Literal, _: AttributeReference) => true
      case _ => false
    }
    val eq = cs.collectFirst {
      case EqualTo(a: AttributeReference, Literal(v, StringType))
          if a.dataType == StringType && v != null => (a, v.toString)
      case EqualTo(Literal(v, StringType), a: AttributeReference)
          if a.dataType == StringType && v != null => (a, v.toString)
    }
    eq.flatMap { case (attr, value) =>
      relationName(f.child, attr).flatMap { colName =>
        val entries = m.entries
        val clean = entries.nonEmpty && entries.forall(_.dv.isEmpty)
        val covered = clean && entries.forall(e =>
          e.hist.get(colName).exists(FreqSketch.isFreq))
        val rowsOpt = m.metadataRowCount
        if (!covered || rowsOpt.isEmpty || rowsOpt.get <= 0) None
        else {
          val rows = rowsOpt.get
          val width = math.max(1.0, m.sizeInBytes.toDouble / rows)
          // decode failures DECLINE, never fail the query (r21 ADVICE
          // fix): a corrupt or future-format hist line inside an
          // optimizer rule must read as a stats gap — the same
          // decline-on-gap discipline every other consumer follows.
          // Narrowed + logged (r22 ADVICE): only the decode's own
          // parse/format failure classes decline (NumberFormat and the
          // require both surface as IllegalArgument; a truncated line as
          // IndexOutOfBounds) — a genuine caller bug (NPE, match error)
          // stays loud instead of silently degrading stats forever.
          val sketches =
            try Some(entries.map(e => FreqSketch.decode(e.hist(colName))))
            catch {
              case e @ (_: IllegalArgumentException |
                        _: IndexOutOfBoundsException) =>
                logDebug(s"declining frequency hint for $colName: " +
                  s"hist decode failed (${e.getMessage})")
                None
            }
          sketches.flatMap { sketches =>
          val (lo, hi) = FreqSketch.estimate(sketches, value)
          val thr = conf.autoBroadcastJoinThreshold
          // what Spark itself would estimate for this side: rows/ndv
          // uniformity under CBO (our ManifestStats feed), the
          // unfiltered relation size without it
          val sparkBytes =
            if (conf.cboEnabled) {
              val ndv =
                if (entries.forall(
                    _.ndv.get(colName).exists(NdvSketch.isCurrent)))
                  math.max(1L, NdvSketch.estimate(entries
                    .map(e => NdvSketch.fromHex(e.ndv(colName)))
                    .reduce(NdvSketch.merge)))
                else 1L
              rows.toDouble / ndv * width
            } else rows.toDouble * width
          // the lower bound is sound only when the filter is EXACTLY
          // one equality (this one) plus conjuncts it already implies
          // (its own IsNotNull — the analyzer's constraint inference —
          // and IsNotNull of a column the recorded schema declares NOT
          // NULL or every entry's null account proves null-free, such as
          // an inferred join-key guard over an all-nullable snapshot
          // view); any other conjunct — including a SECOND equality —
          // could shrink the side below the bound, so NO_BROADCAST
          // declines
          def nullFree(a: AttributeReference): Boolean =
            relationName(f.child, a).exists(c => m.notNull(c) ||
              entries.forall(_.nulls.get(c).contains(0L)))
          val onlyEq = cs.count(isEqLit) == 1 && cs.forall { c =>
            isEqLit(c) || (c match {
              case org.apache.spark.sql.catalyst.expressions.IsNotNull(
                a: AttributeReference) => a.semanticEquals(attr) ||
                nullFree(a)
              case _ => false
            })
          }
          // the ROW bounds are sound; the byte conversion uses the
          // table-average row width — the same approximation every
          // sizeInBytes estimate in Spark rides. The BROADCAST
          // direction (the one that could OOM if width skews: the
          // matched value's rows might be systematically wider than
          // average) takes a 2× headroom PLUS an absolute row cap (r21
          // ADVICE fix): the 2× multiplier is a guess about width skew,
          // and a forced broadcast is the one direction that can take
          // an executor down, so the override additionally refuses past
          // [[MaxForcedBroadcastRows]] — bounding the worst-case build
          // side to cap × true-row-width no matter how wrong the
          // average is. NO_BROADCAST errs toward a shuffle, which is
          // never unsafe, and needs no cap.
          if (hi * width * 2 <= thr && hi <= MaxForcedBroadcastRows &&
              sparkBytes > thr)
            Some(HintInfo(strategy = Some(BROADCAST)))
          else if (onlyEq && lo * width > thr && sparkBytes <= thr)
            Some(HintInfo(strategy = Some(NO_BROADCAST_HASH)))
          else None
          }
        }
      }
    }
  }

  /** Absolute row cap on the FORCED-broadcast side — the width-skew
    * backstop: the byte test above divides the threshold by the
    * table-average row width, so a hot value whose rows are
    * systematically much wider than average could still blow past the
    * threshold. 2²¹ rows keeps the forced build side small enough that
    * even an order-of-magnitude width skew stays in ordinary broadcast
    * territory (and far under Spark's 512M-row hard cap).
    */
  private val MaxForcedBroadcastRows: Long = 1L << 21
}
