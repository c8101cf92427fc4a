package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native expression: all MinHash LSH band keys of a shingle set in ONE pass.
  *
  * Contract (identical strings to the built-in composition in
  * `Dedup.minhashLshPairs`):
  *   - minhash component `i` = lexicographic min over shingles of
  *     `md5Hex(i + "-" + shingle)`,
  *   - band key `b` = `md5Hex(m(b*rows) + "|" + ... + m(b*rows+rows-1))`,
  *   - empty shingle set: band key = `md5Hex("")` (matching `concat_ws`'s
  *     null-skipping on the all-null minhash columns).
  *
  * The HOF composition walks the shingle array `bands*rows` times building an
  * intermediate md5 array per component; this computes all `bands*rows`
  * minima in a single traversal. md5 cost itself is identical — the win is
  * array-walk and allocation count. `CodegenFallback`: md5 dominates, codegen
  * of the loop shell is not worth the complexity.
  */
case class MinHashBands(child: Expression, bands: Int, rows: Int)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType)
  override def prettyName: String = "minhash_bands"

  /** "0-", "1-", ... prefixes as UTF-8 bytes, computed once per expression. */
  @transient private lazy val prefixes: Array[Array[Byte]] =
    Array.tabulate(bands * rows)(i => s"$i-".getBytes(StandardCharsets.UTF_8))

  /** Unsigned byte-order compare of two 16-byte digests — the same order as
    * comparing their lowercase-hex encodings lexicographically (hex encoding
    * is monotone in unsigned byte value), so minima match the hex spec.
    */
  private def lessThan(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val ai = a(i) & 0xff
      val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    false
  }

  override protected def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val k = bands * rows
    val md = Md5Util.digests.get()
    // minima kept as raw digests; hex encoding deferred to the k winners
    val mins = new Array[Array[Byte]](k)
    var j = 0
    while (j < n) {
      val s = xs.getUTF8String(j).getBytes
      var i = 0
      while (i < k) {
        md.reset()
        md.update(prefixes(i))
        md.update(s)
        val h = md.digest()
        if (mins(i) == null || lessThan(h, mins(i))) mins(i) = h
        i += 1
      }
      j += 1
    }
    val keys = new Array[AnyRef](bands)
    var b = 0
    while (b < bands) {
      md.reset()
      if (n > 0) {
        // hex(min) joined with '|' — identical bytes to the string spec
        var r = 0
        while (r < rows) {
          if (r > 0) md.update('|'.toByte)
          md.update(Md5Util.hexBytes(mins(b * rows + r)))
          r += 1
        }
      }
      keys(b) = UTF8String.fromBytes(Md5Util.hexBytes(md.digest()))
      b += 1
    }
    new GenericArrayData(keys)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashBands {
  def apply(shingles: Column, bands: Int, rows: Int): Column =
    ColumnShim.column(MinHashBands(ColumnShim.expression(shingles), bands, rows))
}
