package graft.functions

import java.util.Arrays
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Sorted, de-duplicated 64-bit hashes of a string's character n-grams
  * in ONE native pass — the input side of the set-similarity kernel
  * ([[SortedIntersectCountExpr]]).
  *
  * The builtin spelling — `array_sort(array_distinct(transform(
  * transform(sequence(...), substr), xxhash64)))` — evaluates two
  * interpreted lambdas per gram and dominates n-gram Jaccard runtime;
  * this expression is one eval per document: slide a char window,
  * FNV-1a each gram, sort, dedup. Only hash equality matters
  * downstream, so the hash family is free to differ from xxhash64.
  */
case class NgramHashesExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    // code points, not UTF-16 units — `substr`/DuckDB count characters,
    // so supplementary-plane text (emoji) must shingle identically here
    val cps = s.codePoints().toArray
    val len = cps.length
    if (len < n) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](len - n + 1)
    var i = 0
    while (i <= len - n) {
      var h = 0xcbf29ce484222325L // FNV-1a 64
      var j = 0
      while (j < n) {
        h ^= cps(i + j).toLong
        h *= 0x100000001b3L
        j += 1
      }
      out(i) = h
      i += 1
    }
    Arrays.sort(out)
    var w = 0
    var r = 0
    while (r < out.length) { // dedup in place over the sorted run
      if (w == 0 || out(r) != out(w - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    new GenericArrayData(Arrays.copyOf(out, w))
  }

  override protected def withNewChildInternal(newChild: Expression): NgramHashesExpr =
    copy(child = newChild)
  override def prettyName: String = "ngram_hashes"
}

object NgramHashes {
  def ngram_hashes(c: Column, n: Int): Column =
    ColumnBridge.column(NgramHashesExpr(ColumnBridge.expression(c), n))
}
