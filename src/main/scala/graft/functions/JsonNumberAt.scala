package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the value of member `key` of a small,
  * flat JSON object of integers, read by scanning the string's UTF-8
  * bytes in place — no parser, no reader, no map per row.
  *
  * It decides (returns a DOUBLE) only inside a strict, unambiguous
  * subset of JSON and returns NULL ("undecided") on anything else, so
  * it is meant to sit first in a `coalesce` with Spark's own parse as
  * the fallback ([[Scoring.jsonFeatureAt]]). The subset:
  *  - optional JSON whitespace (space, `\t`, `\n`, `\r`) around tokens;
  *  - one object of at most [[JsonNumberAt.MaxMembers]] members, no
  *    duplicate keys;
  *  - keys are `"…"` of printable ASCII without `\` or `"`;
  *  - values are JSON integer literals: optional `-`, no leading zero,
  *    at most [[JsonNumberAt.MaxDigits]] digits;
  *  - nothing but whitespace after the closing `}`.
  * On such input the result is the value of `key` as a double, or 0.0
  * when the key is absent — exactly what
  * `coalesce(element_at(from_json(json, map<string,double>), key), 0.0)`
  * gives, since Jackson reads an integer token of at most 18 digits as
  * a long and widens it (so `-0` is 0.0, not -0.0).
  *
  * `key` must be a constant string. Codegen calls the same scanner as
  * the interpreted path, so both agree bit for bit and the expression
  * stays inside the generated stage.
  */
case class JsonNumberAt(json: Expression, key: Expression) extends BinaryExpression {

  override def left: Expression = json
  override def right: Expression = key
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (!json.dataType.isInstanceOf[StringType] || !key.dataType.isInstanceOf[StringType])
      TypeCheckResult.TypeCheckFailure(
        s"json number lookup needs (string, string), got " +
          s"(${json.dataType.catalogString}, ${key.dataType.catalogString})")
    else if (!key.foldable)
      TypeCheckResult.TypeCheckFailure("json number lookup needs a constant key")
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val keyBytes: Array[Byte] =
    Option(key.eval()).map(_.asInstanceOf[UTF8String].getBytes).orNull

  override protected def nullSafeEval(j: Any, k: Any): Any = {
    val v = JsonNumberAt.scan(j.asInstanceOf[UTF8String], keyBytes)
    if (java.lang.Double.isNaN(v)) null else v
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val keyRef = ctx.addReferenceObj("jsonKey", keyBytes, "byte[]")
    val scanner = JsonNumberAt.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, (j, _) =>
      s"""
         |${ev.value} = $scanner.scan($j, $keyRef);
         |${ev.isNull} = java.lang.Double.isNaN(${ev.value});
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JsonNumberAt =
    copy(json = newLeft, key = newRight)

  override def prettyName: String = "graft_json_number"
}

object JsonNumberAt {

  /** Members an object may have for the scan to decide it; the
    * duplicate-key check is quadratic in this. */
  val MaxMembers = 8

  /** Digits an integer may have: every such value fits a long. */
  val MaxDigits = 18

  private val Undecided = Double.NaN

  /** The value of `key` in `s` when `s` is in the accepted subset (0.0
    * when absent), else NaN — no accepted input yields NaN. */
  def scan(s: UTF8String, key: Array[Byte]): Double = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    def at(i: Int): Int = Platform.getByte(base, off + i)
    def skipWs(from: Int): Int = {
      var i = from
      while (i < n && { val c = at(i); c == ' ' || c == '\t' || c == '\n' || c == '\r' }) i += 1
      i
    }
    def sameKey(a: Int, aEnd: Int, b: Int, bEnd: Int): Boolean =
      aEnd - a == bEnd - b && {
        var i = 0
        while (i < aEnd - a && at(a + i) == at(b + i)) i += 1
        i == aEnd - a
      }

    var i = skipWs(0)
    if (i >= n || at(i) != '{') return Undecided
    i = skipWs(i + 1)
    if (i < n && at(i) == '}') return if (skipWs(i + 1) == n) 0.0 else Undecided
    val firstKey = i
    var members = 0
    var result = 0.0
    while (true) {
      // key: printable ASCII, no escapes
      if (i >= n || at(i) != '"') return Undecided
      val ks = i + 1
      var ke = ks
      while (ke < n && at(ke) != '"') {
        val c = at(ke)
        if (c < 0x20 || c > 0x7e || c == '\\') return Undecided
        ke += 1
      }
      if (ke >= n) return Undecided
      // no earlier member may have the same key; the members before
      // `i` are already known to be well formed, so each earlier key
      // is the quoted run after the previous comma
      var p = firstKey
      while (p < i) {
        var pe = p + 1
        while (at(pe) != '"') pe += 1
        if (sameKey(p + 1, pe, ks, ke)) return Undecided
        p = pe + 1
        while (at(p) != ',') p += 1
        while (at(p) != '"') p += 1
      }
      members += 1
      if (members > MaxMembers) return Undecided
      i = skipWs(ke + 1)
      if (i >= n || at(i) != ':') return Undecided
      i = skipWs(i + 1)
      // value: an integer literal
      val neg = i < n && at(i) == '-'
      if (neg) i += 1
      val ds = i
      var v = 0L
      while (i < n && at(i) >= '0' && at(i) <= '9') { v = v * 10 + (at(i) - '0'); i += 1 }
      val digits = i - ds
      if (digits == 0 || digits > MaxDigits || (digits > 1 && at(ds) == '0')) return Undecided
      if (sameKeyBytes(base, off, ks, ke, key)) result = (if (neg) -v else v).toDouble
      i = skipWs(i)
      if (i >= n) return Undecided
      if (at(i) == '}') return if (skipWs(i + 1) == n) result else Undecided
      if (at(i) != ',') return Undecided
      i = skipWs(i + 1)
    }
    Undecided
  }

  private def sameKeyBytes(base: AnyRef, off: Long, ks: Int, ke: Int, key: Array[Byte]): Boolean =
    ke - ks == key.length && {
      var i = 0
      while (i < key.length && Platform.getByte(base, off + ks + i) == key(i)) i += 1
      i == key.length
    }
}
