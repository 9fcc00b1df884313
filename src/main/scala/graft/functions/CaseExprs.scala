package graft.functions

import com.ibm.icu.lang.UCharacter

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** graft's one case-mapping kernel, shared by the interpreted eval and the
  * generated code of [[CaseMapExpr]] (static forwarders `CaseFn.upper` /
  * `CaseFn.lower`).
  *
  * Byte-for-byte what Spark's own `upper`/`lower` return on a UTF8_BINARY
  * string. With `spark.sql.icu.caseMappings.enabled` (the default) that is
  * `CollationAwareUTF8String.toUpperCase`/`toLowerCase`: an all-ASCII
  * string maps byte-wise, anything else through ICU's full-string case
  * mapping of its valid-UTF-8 form. Without ICU it is the JVM mapping of
  * `UTF8String.toUpperCase`/`toLowerCase`. The difference is what the
  * kernel skips: `CollationAwareUTF8String`'s static initializer, which
  * title-cases all 1,114,112 code points with a fresh ICU word
  * `BreakIterator` each, once per JVM (every driver and executor), for a
  * table only its title-casing reads. A `graft.Migrate` run on a 4-vCPU
  * `local[4]` session paid about 1.4 s of task CPU for it, a third of the
  * migration's.
  */
object CaseFn {

  def upper(s: UTF8String, icu: Boolean): UTF8String =
    if (!icu) s.toUpperCase()
    else if (s.isFullAscii) s.toUpperCaseAscii()
    else UTF8String.fromString(UCharacter.toUpperCase(s.toValidString))

  def lower(s: UTF8String, icu: Boolean): UTF8String =
    if (!icu) s.toLowerCase()
    else if (s.isFullAscii) s.toLowerCaseAscii()
    else UTF8String.fromString(UCharacter.toLowerCase(s.toValidString))
}

/** Codegen'd upper- (`toUpper`) or lower-casing of a string through
  * [[CaseFn]] — a drop-in for Catalyst's `Upper`/`Lower` on UTF8_BINARY
  * strings: the same implicit cast to string, null in → null out, and the
  * ICU switch read the way `Upper.useICU` reads it (a lazy `SQLConf.get`
  * on first evaluation or code generation).
  */
case class CaseMapExpr(child: Expression, toUpper: Boolean)
    extends UnaryExpression with ImplicitCastInputTypes {

  private lazy val useICU: Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  private def fn: String = if (toUpper) "upper" else "lower"

  override def dataType: DataType = StringType

  override def inputTypes = Seq(StringType)

  override def nullIntolerant: Boolean = true

  override def prettyName: String = s"graft_$fn"

  // the direction is in the name; the child is the only argument
  override protected def flatArguments: Iterator[Any] = Iterator(child)

  override def nullSafeEval(s: Any): Any = {
    val u = s.asInstanceOf[UTF8String]
    if (toUpper) CaseFn.upper(u, useICU) else CaseFn.lower(u, useICU)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CaseFn.$fn($c, $useICU)")

  override protected def withNewChildInternal(
      newChild: Expression): CaseMapExpr = copy(child = newChild)
}

object CaseExprs {

  /** `c` upper-cased exactly as `functions.upper` would (see [[CaseFn]]). */
  def upper(c: Column): Column =
    ColumnBridge.column(CaseMapExpr(ColumnBridge.expression(c), toUpper = true))

  /** `c` lower-cased exactly as `functions.lower` would (see [[CaseFn]]). */
  def lower(c: Column): Column =
    ColumnBridge.column(CaseMapExpr(ColumnBridge.expression(c), toUpper = false))
}
