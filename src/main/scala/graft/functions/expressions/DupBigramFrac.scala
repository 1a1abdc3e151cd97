package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** Duplicate word-2-gram fraction of a document in ONE pass — the
  * curation repetition gate's signal (the Gopher/MassiveText rule).
  *
  * Bit-identical to the composed form
  * {{{
  *   ws    = split(text, " ")
  *   grams = transform(sequence(1, greatest(size(ws) - 1, 1)),
  *             i -> concat(ws[i], ' ', ws[least(i + 1, size(ws))]))
  *   1.0 - size(array_distinct(grams)) / size(grams)
  * }}}
  * which is quadratic in practice: Catalyst inlines `split` into the
  * lambda, so every gram re-splits the whole document (three times),
  * and the transform itself runs twice, once per `size`.
  *
  * This expression splits once, on every single space exactly as
  * `split(text, " ")` does (limit -1: leading, trailing and doubled
  * spaces yield empty words), forms the `max(n-1, 1)` pairs
  * `(w(i), w(min(i+1, n-1)))`, and counts distinct pairs by word
  * identity — no gram strings are built. Words hold no space, so the
  * concatenated gram is unique per pair and distinct pairs ARE distinct
  * grams. Words are interned to dense ids through a byte-slice hash
  * table, and the packed id pairs are sorted and counted.
  *
  * `split` decodes through java.lang.String, which maps every malformed
  * UTF-8 sequence to U+FFFD; such input is re-encoded the same way
  * first, so two different malformed words still compare equal here as
  * they do in the composed form.
  *
  * Null text yields 0.0, not null: the composed form's
  * `greatest(size(null) - 1, 1)` forms one null gram, which is its own
  * only distinct value.
  */
case class DupBigramFrac(child: Expression) extends UnaryExpression {
  import DupBigramFrac.Space

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "dup_bigram_frac"

  def compute(text: UTF8String): Double = {
    val s = if (text.isValid) text else UTF8String.fromString(text.toString)
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val nBytes = s.numBytes()
    // word i spans bytes [starts(i), starts(i + 1) - 1); the sentinel
    // starts(n) = nBytes + 1 closes the last word
    var n = 1
    var b = 0
    while (b < nBytes) {
      if (s.getByte(b) == Space) n += 1
      b += 1
    }
    val starts = new Array[Int](n + 1)
    var w = 1
    b = 0
    while (b < nBytes) {
      if (s.getByte(b) == Space) { starts(w) = b + 1; w += 1 }
      b += 1
    }
    starts(n) = nBytes + 1

    // intern words: ids(i) = dense id of word i's first occurrence
    val ids = new Array[Int](n)
    val mask = Integer.highestOneBit(n) * 4 - 1
    val slots = Array.fill(mask + 1)(-1) // word index holding the slot
    var nextId = 0
    var i = 0
    while (i < n) {
      val start = starts(i)
      val len = starts(i + 1) - 1 - start
      val h = XXH64.hashUnsafeBytes(base, off + start, len, 42L)
      var slot = (h ^ (h >>> 32)).toInt & mask
      var found = -1
      while (found < 0 && slots(slot) >= 0) {
        val j = slots(slot)
        val jStart = starts(j)
        if (starts(j + 1) - 1 - jStart == len &&
            ByteArrayMethods.arrayEquals(base, off + jStart, base, off + start, len)) {
          found = ids(j)
        } else slot = (slot + 1) & mask
      }
      if (found >= 0) ids(i) = found
      else {
        slots(slot) = i
        ids(i) = nextId
        nextId += 1
      }
      i += 1
    }

    val total = math.max(n - 1, 1)
    val pairs = new Array[Long](total)
    i = 0
    while (i < total) {
      pairs(i) = (ids(i).toLong << 32) | ids(math.min(i + 1, n - 1))
      i += 1
    }
    java.util.Arrays.sort(pairs)
    var distinct = 1
    i = 1
    while (i < total) {
      if (pairs(i) != pairs(i - 1)) distinct += 1
      i += 1
    }
    1.0 - distinct.toDouble / total.toDouble
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0.0 else compute(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dupBigramFrac", this, classOf[DupBigramFrac].getName)
    val in = child.genCode(ctx)
    ev.copy(code = code"""
      ${in.code}
      double ${ev.value} = ${in.isNull} ? 0.0 : $ref.compute(${in.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): DupBigramFrac =
    copy(child = newChild)
}

object DupBigramFrac {
  private val Space: Byte = ' '.toByte

  def dupBigramFrac(text: Column): Column =
    ColumnBridge.column(DupBigramFrac(ColumnBridge.expression(text)))
}
