package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** k-word shingles of a space-separated text column in one native pass.
  *
  * Equivalent to the builtin spelling
  * `transform(sequence(...), i -> concat_ws(' ', toks[i], …))` — which
  * interprets its lambda per shingle and re-materializes every word —
  * but a k-word shingle of single-space text IS a substring of the
  * original string (from word i's start to word i+k−1's end), so this
  * expression just records word-start byte offsets and emits substring
  * slices. Byte-identical output (ASCII space never splits a UTF-8
  * multibyte sequence), one eval per document.
  */
case class WordShinglesExpr(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val bytes = s.getBytes
    // word-start offsets (single-space separated, like the reference's
    // split(' ')); empty words from doubled spaces count as words too,
    // matching split semantics
    val starts = List.newBuilder[Int]
    starts += 0
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' '.toByte) starts += i + 1
      i += 1
    }
    val st = starts.result().toArray
    val nWords = st.length
    if (nWords < k) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](nWords - k + 1)
    var w = 0
    while (w <= nWords - k) {
      val from = st(w)
      val until = if (w + k < nWords) st(w + k) - 1 else bytes.length
      out(w) = UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, from, until))
      w += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WordShinglesExpr =
    copy(child = newChild)
  override def prettyName: String = "word_shingles"
}

object WordShingles {
  def word_shingles(c: Column, k: Int): Column =
    ColumnBridge.column(WordShinglesExpr(ColumnBridge.expression(c), k))
}
