package graft.expressions

import java.nio.charset.StandardCharsets.UTF_8
import java.util.{HashMap => JHashMap}

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.UTF8StringBuilder
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Peptides

/** Static kernel shared by interpreted eval and generated code.
  *
  * One left-to-right pass over the UTF-8 bytes of a peptidoform:
  *  - `[body]` → `(Name)` when `body` is a [[Peptides.massForms]] rendering;
  *  - `(UniMod:N)` → `(Name)` when `N` is a [[Peptides.unimodNames]] id,
  *    written as exact decimal digits (no leading zeros); the tag folds
  *    case in ASCII only, as Java's `(?i)` does without `UNICODE_CASE`, so
  *    `UNIMOD` matches and a dotless `ı` does not;
  *  - a leading `(`, after an optional `^`, gets OpenMS's `.` prefix.
  *
  * Tags cannot overlap (a `[…]` body holds no brackets, a `(UniMod:N)`
  * holds no inner parentheses, and no replacement forms a new tag), so one
  * pass gives exactly what applying every table entry as its own
  * `regexp_replace` in turn gave. Every tag delimiter is ASCII, which never
  * occurs inside a multi-byte UTF-8 sequence, so other bytes are copied
  * verbatim. A string without a tag or leading-mod prefix is returned as is.
  */
object PeptidoformKernel {

  private def table(entries: Iterable[(String, String)]): JHashMap[UTF8String, UTF8String] = {
    val m = new JHashMap[UTF8String, UTF8String]()
    entries.foreach { case (key, name) =>
      m.put(UTF8String.fromString(key), UTF8String.fromString(s"($name)"))
    }
    m
  }

  /** Bracket body (`+57.02`) → `(Name)`. */
  private val massNames = table(Peptides.massForms)
  /** UniMod id digits (`35`) → `(Name)`. */
  private val unimodNames = table(Peptides.unimodNames.map { case (id, n) => id.toString -> n })
  private val unimodTag = "unimod:".getBytes(UTF_8)
  private val dot = UTF8String.fromString(".")

  private def slice(s: UTF8String, from: Int, until: Int): UTF8String =
    UTF8String.fromAddress(s.getBaseObject, s.getBaseOffset + from, until - from)

  private def appendSlice(out: UTF8StringBuilder, s: UTF8String, from: Int, until: Int): Unit =
    out.appendBytes(s.getBaseObject, s.getBaseOffset + from, until - from)

  /** `s[from..]` starts with `unimod:`, ASCII letters compared case-blind. */
  private def unimodAt(s: UTF8String, from: Int, n: Int): Boolean = {
    if (from + unimodTag.length > n) return false
    var k = 0
    while (k < unimodTag.length) {
      val b = s.getByte(from + k)
      val lower = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
      if (lower != unimodTag(k)) return false
      k += 1
    }
    true
  }

  def normalize(s: UTF8String): UTF8String = {
    val n = s.numBytes
    val lead = if (n > 0 && s.getByte(0) == '^') 1 else 0
    var out: UTF8StringBuilder = null // allocated once a rewrite happens
    var copied = 0 // s[0, copied) is already in `out`
    if (lead < n && s.getByte(lead) == '(') {
      out = new UTF8StringBuilder(n + 16)
      appendSlice(out, s, 0, lead)
      out.append(dot)
      copied = lead
    }
    var close = -1 // the next ']' at or after i; n once none is left
    var i = lead
    while (i < n) {
      val c = s.getByte(i)
      var rep: UTF8String = null
      var end = 0
      if (c == '[') {
        if (close < i) {
          close = i + 1
          while (close < n && s.getByte(close) != ']') close += 1
        }
        if (close < n) {
          rep = massNames.get(slice(s, i + 1, close))
          end = close + 1
        }
      } else if (c == '(' && unimodAt(s, i + 1, n)) {
        val digits = i + 1 + unimodTag.length
        var j = digits
        while (j < n && s.getByte(j) >= '0' && s.getByte(j) <= '9') j += 1
        if (j > digits && j < n && s.getByte(j) == ')') {
          rep = unimodNames.get(slice(s, digits, j))
          end = j + 1
        }
      }
      if (rep != null) {
        if (out == null) out = new UTF8StringBuilder(n + 16)
        appendSlice(out, s, copied, i)
        // a leading bracket mod becomes a leading `(`: dot it
        if (i == lead && c == '[') out.append(dot)
        out.append(rep)
        copied = end
        i = end
      } else i += 1
    }
    if (out == null) s
    else {
      appendSlice(out, s, copied, n)
      out.build()
    }
  }
}

/** Peptidoform canonicalization (see [[PeptidoformKernel]]) as one native
  * expression, replacing a chain of one `regexp_replace` per table entry.
  */
case class NormalizePeptidoform(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_normalize_peptidoform expects string, got ${child.dataType}")

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_normalize_peptidoform"

  override def nullSafeEval(a: Any): Any =
    PeptidoformKernel.normalize(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      a => s"${ev.value} = graft.expressions.PeptidoformKernel.normalize($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NormalizePeptidoform {
  def apply(c: Column): Column =
    GraftColumnShim.column(NormalizePeptidoform(GraftColumnShim.expression(c)))
}
