package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native unigram-LM (SentencePiece-style) encoding with a trained piece
  * table ([[graft.llm.Unigram.trainVocab]]): whitespace-split (the exact
  * [[graft.llm.Bpe.wordCounts]] `\s+` contract — training and encoding
  * must segment words identically), then each word is segmented by
  * VITERBI — the segmentation maximizing the sum of piece log-probs over
  * ALL possible segmentations, not the greedy longest-match
  * approximation. A code point outside the piece table falls back to its
  * UTF-8 bytes (ids 0..255, the [[graft.llm.Bpe.vocabTotal]] id layout)
  * at the table's byte score — encoding is TOTAL on any input string.
  *
  * The piece table rides inside the expression as a reference object
  * (`addReferenceObj`, the [[BpeTokenizeExpr]] discipline): pieces shape
  * the computation, they are not data — interpreted eval and generated
  * code share one table and cannot drift. A narrow codegen'd projection:
  * zero shuffles, streaming-safe.
  *
  * Output is a STRUCT so one pass yields everything the caller and the
  * in-band verifier need:
  * `(pieces array<string>, ids array<bigint>, score double,
  * greedy_score double, n_fallback bigint)` where `score` is the Viterbi
  * log-prob, `greedy_score` the log-prob of the longest-match-first
  * segmentation of the same text under the same table, and `n_fallback`
  * the number of code points that took the byte route. Both scores are
  * summed the same way: a left fold per word from 0.0, then the word
  * totals left-folded in document order. IEEE-754 addition is monotone, so
  * `score >= greedy_score` holds EXACTLY (a word's Viterbi dp value is the
  * left fold of some segmentation and dominates the left fold of every
  * segmentation, including the greedy one; summing dominated word totals
  * in the same order keeps the order) — the q192 in-band invariant.
  */
case class UnigramEncodeExpr(child: Expression, pieces: Seq[(String, Double)],
    byteScore: Double) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"unigram_encode requires a string, got ${other.sql}")
    }

  override def dataType: DataType = UnigramEncodeExpr.outputType

  @transient private lazy val encoder = new UnigramEncoder(pieces, byteScore)

  override def nullSafeEval(s: Any): Any =
    encoder.encode(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unigramEncoder", encoder, classOf[UnigramEncoder].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.encode($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "unigram_encode"
}

object UnigramEncodeExpr {
  val outputType: StructType = StructType(Seq(
    StructField("pieces", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("ids", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("score", DoubleType, nullable = false),
    StructField("greedy_score", DoubleType, nullable = false),
    StructField("n_fallback", LongType, nullable = false)))

  /** Column-level constructor (classic-session bridge). */
  def unigram_encode(text: Column, pieces: Seq[(String, Double)],
      byteScore: Double): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      UnigramEncodeExpr(GraftColumnBridge.expression(text), pieces, byteScore))
  }
}

/** The encode kernel. Per word of n code points with piece lengths ≤ L the
  * dp is O(n·L) HashMap probes — the corpus never materializes more than
  * one word's dp arrays at a time. Ids follow the byte-fallback layout:
  * learned piece i (in the table's given order) is id 256+i, byte b is id
  * b. Fallback pieces render as the display-only `<0xNN>` markers
  * ([[graft.llm.Bpe.byteTokens]] convention — identified by id RANGE on
  * decode, never by string).
  */
final class UnigramEncoder(pieces: Seq[(String, Double)], byteScore: Double)
    extends Serializable {

  private val maxPieceLen: Int =
    if (pieces.isEmpty) 1 else pieces.iterator.map(p => p._1.codePointCount(0, p._1.length)).max.max(1)

  // piece -> (id ≥ 256, score); insertion order defines ids
  private val table: java.util.HashMap[String, Array[Double]] = {
    val m = new java.util.HashMap[String, Array[Double]]()
    pieces.zipWithIndex.foreach { case ((p, s), i) =>
      m.putIfAbsent(p, Array((256L + i).toDouble, s))
    }
    m
  }

  // THE whitespace definition — identical to training's split("\\s+")
  // (Java regex \s = [ \t\n\x0B\f\r]); see BpeApplier.isWs for why
  // Character.isWhitespace would desynchronize training and encoding.
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  private def utf8Len(cp: Int): Int =
    if (cp < 0x80) 1 else if (cp < 0x800) 2 else if (cp < 0x10000) 3 else 4

  /** Segment ONE word (no whitespace inside). Appends pieces/ids to the
    * buffers, returns (viterbiScore, greedyScore, nFallback) packed in the
    * out array. Tie-break: scanning candidate piece lengths LONGEST first
    * with strict-improvement replacement, byte fallback considered last —
    * equal-score ties keep the longer piece, deterministically.
    */
  private def segmentWord(word: String,
      outPieces: java.util.ArrayList[UTF8String],
      outIds: java.util.ArrayList[java.lang.Long],
      acc: Array[Double]): Unit = {
    // code points
    val n = word.codePointCount(0, word.length)
    val cps = new Array[Int](n)
    var ci = 0
    var k = 0
    while (ci < word.length) {
      val cp = word.codePointAt(ci)
      cps(k) = cp; k += 1
      ci += Character.charCount(cp)
    }
    // dp[i]: best score for prefix of i code points; back[i]: length of the
    // last piece (>0 = in-vocab piece of that cp length, -1 = byte fallback
    // of one code point)
    val dp = new Array[Double](n + 1)
    val back = new Array[Int](n + 1)
    var i = 1
    while (i <= n) {
      var best = Double.NegativeInfinity
      var bestLen = 0
      var len = math.min(maxPieceLen, i)
      while (len >= 1) {
        val piece = new String(cps, i - len, len)
        val e = table.get(piece)
        if (e != null) {
          val cand = dp(i - len) + e(1)
          if (cand > best) { best = cand; bestLen = len }
        }
        len -= 1
      }
      // single-code-point byte fallback — always available, so dp is total
      val fb = dp(i - 1) + utf8Len(cps(i - 1)) * byteScore
      if (fb > best) { best = fb; bestLen = -1 }
      dp(i) = best
      back(i) = bestLen
      i += 1
    }
    // backtrack (collect piece boundaries, then emit in order)
    val lens = new java.util.ArrayList[Integer]()
    var pos = n
    while (pos > 0) {
      lens.add(back(pos))
      pos -= (if (back(pos) == -1) 1 else back(pos))
    }
    pos = 0
    var li = lens.size() - 1
    while (li >= 0) {
      val l = lens.get(li).intValue()
      if (l == -1) {
        // byte fallback: one code point -> its UTF-8 bytes
        val bts = new String(cps, pos, 1).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var b = 0
        while (b < bts.length) {
          val bv = bts(b) & 0xFF
          outPieces.add(UTF8String.fromString(f"<0x$bv%02X>"))
          outIds.add(java.lang.Long.valueOf(bv.toLong))
          b += 1
        }
        acc(2) += 1.0 // n_fallback counts CODE POINTS that fell back
        pos += 1
      } else {
        val piece = new String(cps, pos, l)
        outPieces.add(UTF8String.fromString(piece))
        outIds.add(java.lang.Long.valueOf(table.get(piece)(0).toLong))
        pos += l
      }
      li -= 1
    }
    acc(0) += dp(n)
    // greedy longest-match-first left fold over the same table, from 0.0
    // like dp — so greedy <= dp(n) per word, and exactly so in the sums
    var greedy = 0.0
    var g = 0
    while (g < n) {
      var len = math.min(maxPieceLen, n - g)
      var matched = 0
      while (len >= 1 && matched == 0) {
        val e = table.get(new String(cps, g, len))
        if (e != null) { greedy += e(1); matched = len }
        len -= 1
      }
      if (matched == 0) { greedy += utf8Len(cps(g)) * byteScore; matched = 1 }
      g += matched
    }
    acc(1) += greedy
  }

  def encode(s: UTF8String): InternalRow = {
    val str = s.toString
    val outPieces = new java.util.ArrayList[UTF8String]()
    val outIds = new java.util.ArrayList[java.lang.Long]()
    val acc = new Array[Double](3) // viterbi, greedy, n_fallback
    val n = str.length
    var i = 0
    while (i < n) {
      while (i < n && isWs(str.charAt(i))) i += 1
      val start = i
      while (i < n && !isWs(str.charAt(i))) i += 1
      if (i > start) segmentWord(str.substring(start, i), outPieces, outIds, acc)
    }
    val ids = new Array[Long](outIds.size())
    var j = 0
    while (j < ids.length) { ids(j) = outIds.get(j).longValue(); j += 1 }
    val row = new GenericInternalRow(5)
    row.update(0, new GenericArrayData(outPieces.toArray(new Array[AnyRef](outPieces.size()))))
    row.update(1, org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(ids))
    row.setDouble(2, acc(0))
    row.setDouble(3, acc(1))
    row.setLong(4, acc(2).toLong)
    row
  }

  /** Driver-side segmentation for the hard-EM trainer: pieces of ONE word
    * (no fallback markers — training keeps every corpus code point in the
    * table, so fallback cannot fire on training words; if it somehow does,
    * the code point is returned as itself and ignored by the counter). */
  def segmentForTraining(word: String): Array[String] = {
    val outPieces = new java.util.ArrayList[UTF8String]()
    val outIds = new java.util.ArrayList[java.lang.Long]()
    segmentWord(word, outPieces, outIds, new Array[Double](3))
    val out = new Array[String](outPieces.size())
    var i = 0
    while (i < out.length) { out(i) = outPieces.get(i).toString; i += 1 }
    out
  }
}
