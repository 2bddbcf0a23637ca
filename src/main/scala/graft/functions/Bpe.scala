package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** One learned BPE merge: the adjacent symbol pair that fuses into
  * `sym + nxt`. A named case class so the trainer's output surfaces as
  * `array<struct<sym:string, nxt:string>>`. */
case class BpeMerge(sym: String, nxt: String)

/** Byte-pair-encoding training as ONE aggregate over the (word, freq)
  * vocab (Sennrich et al.): the buffer is the vocab itself (vocab-sized
  * at any corpus size — BPE never touches the corpus after the word
  * count), and `finish` learns all `rounds` merges in memory. Returns the
  * merges in learned order; fewer than `rounds` when the vocab runs out
  * of adjacent pairs (callers treat that as "no tokenizer").
  *
  * Semantics (shared with [[BpeApply]] through [[Bpe]]):
  *  - words split into code points, as Spark's `substring(word, i, 1)`;
  *  - pair counts are weighted by `freq` and count overlapping
  *    occurrences (`aaa` holds `a+a` twice);
  *  - the winner is count DESC, then `sym`, then `nxt` in binary UTF-8
  *    order (Spark's string order — code point order, not Java's UTF-16
  *    `compareTo`);
  *  - a merge applies greedily, left to right, without overlap.
  */
class BpeTrainer(rounds: Int)
    extends Aggregator[(String, Long), Map[String, Long], Seq[BpeMerge]] {

  override def zero: Map[String, Long] = Map.empty

  override def reduce(b: Map[String, Long], in: (String, Long)): Map[String, Long] =
    if (in._1 == null) b else b.updated(in._1, b.getOrElse(in._1, 0L) + in._2)

  override def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.foldLeft(a) { case (m, (w, f)) => m.updated(w, m.getOrElse(w, 0L) + f) }

  override def finish(b: Map[String, Long]): Seq[BpeMerge] = Bpe.train(b, rounds)

  override def bufferEncoder: Encoder[Map[String, Long]] = Encoders.kryo[Map[String, Long]]
  override def outputEncoder: Encoder[Seq[BpeMerge]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[BpeMerge]]()
}

/** A word's symbols after replaying a learned merge list in order —
  * exactly the symbolization training ends with for a vocab word. `merges`
  * is the trainer's `array<struct<sym, nxt>>`; it is the same value on
  * every row (a broadcast 1-row artifact), so its pair → ranks index is
  * built once and reused while the value stays byte-equal. */
case class BpeApply(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_apply"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(s: StructType, _))
          if s.fields.length == 2 && s.fields.forall(_.dataType == StringType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"bpe_apply requires (string, array<struct<string, string>>), got " +
          s"${l.simpleString(10)} and ${r.simpleString(10)}")
    }
  }

  // (merges value, its index) — replaced as one reference, so a reader
  // never sees an index of another value
  @transient @volatile private var cached: (ArrayData, Map[(String, String), Array[Int]]) = _

  private def index(merges: ArrayData): Map[(String, String), Array[Int]] = {
    val c = cached
    if (c != null && c._1 == merges) c._2
    else {
      val idx = Bpe.rankIndex(Array.tabulate(merges.numElements()) { i =>
        val m = merges.getStruct(i, 2)
        (m.getUTF8String(0).toString, m.getUTF8String(1).toString)
      })
      // the row's array may live in a reused buffer: keep a copy
      cached = (merges.copy(), idx)
      idx
    }
  }

  override def nullSafeEval(w: Any, m: Any): Any = compute(w.asInstanceOf[UTF8String], m.asInstanceOf[ArrayData])

  /** Also the entry point for generated code. */
  def compute(w: UTF8String, merges: ArrayData): ArrayData = {
    val syms = Bpe.applyAll(Bpe.codePoints(w.toString), index(merges))
    new GenericArrayData(syms.map(s => UTF8String.fromString(s): AnyRef))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeApply", this, classOf[BpeApply].getName)
    nullSafeCodeGen(ctx, ev, (w, m) => s"${ev.value} = $ref.compute($w, $m);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeApply =
    copy(left = newLeft, right = newRight)
}

object BpeApply {
  /** Column API: `word`'s symbols under the merge list `merges`. */
  def bpeApply(word: Column, merges: Column): Column =
    GraftColumnBridge.column(BpeApply(
      GraftColumnBridge.expression(word), GraftColumnBridge.expression(merges)))
}

/** The BPE core shared by [[BpeTrainer]] and [[BpeApply]]. */
object Bpe {

  /** `w` split into code points (one String each). */
  def codePoints(w: String): Array[String] =
    w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))

  /** Binary UTF-8 order, which is code point order. */
  def compareUtf8(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val x = a.codePointAt(i)
      val y = b.codePointAt(j)
      if (x != y) return Integer.compare(x, y)
      i += Character.charCount(x)
      j += Character.charCount(y)
    }
    java.lang.Boolean.compare(i < a.length, j < b.length)
  }

  /** `syms` with every (a, b) occurrence fused, greedily left to right
    * without overlap; `syms` itself when the pair does not occur. */
  def mergePair(syms: Array[String], a: String, b: String): Array[String] = {
    var out: mutable.ArrayBuilder[String] = null
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        if (out == null) { out = mutable.ArrayBuilder.make[String]; out ++= syms.take(i) }
        out += a + b
        i += 2
      } else {
        if (out != null) out += syms(i)
        i += 1
      }
    }
    if (out == null) syms else out.result()
  }

  /** Learn up to `rounds` merges on a (word → freq) vocab. Pair counts
    * are kept incrementally: a round re-counts only the words that hold
    * the winning pair. */
  def train(vocab: Map[String, Long], rounds: Int): Seq[BpeMerge] = {
    val words = vocab.toArray
    val syms = words.map { case (w, _) => codePoints(w) }
    val counts = mutable.HashMap.empty[(String, String), Long]
    val holders = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    def recount(i: Int, sign: Int): Unit = {
      val s = syms(i)
      var j = 0
      while (j + 1 < s.length) {
        val p = (s(j), s(j + 1))
        val c = counts.getOrElse(p, 0L) + sign * words(i)._2
        if (c == 0L) counts.remove(p) else counts.update(p, c)
        if (sign > 0) holders.getOrElseUpdate(p, mutable.Set.empty[Int]) += i
        j += 1
      }
    }
    syms.indices.foreach(recount(_, 1))
    def before(x: ((String, String), Long), y: ((String, String), Long)): Boolean =
      if (x._2 != y._2) x._2 > y._2
      else {
        val c = compareUtf8(x._1._1, y._1._1)
        if (c != 0) c < 0 else compareUtf8(x._1._2, y._1._2) < 0
      }
    val merges = Seq.newBuilder[BpeMerge]
    var r = 0
    while (r < rounds && counts.nonEmpty) {
      val ((a, b), _) = counts.reduce((x, y) => if (before(y, x)) y else x)
      merges += BpeMerge(a, b)
      holders.remove((a, b)).foreach(_.foreach { i =>
        val s2 = mergePair(syms(i), a, b)
        if (s2 ne syms(i)) { recount(i, -1); syms(i) = s2; recount(i, 1) }
      })
      r += 1
    }
    merges.result()
  }

  /** Pair → the ranks (ascending) at which the merge list fuses it; a
    * pair can be learned again once a later merge rebuilds its symbols. */
  def rankIndex(merges: Array[(String, String)]): Map[(String, String), Array[Int]] =
    merges.indices.groupBy(merges(_)).view.mapValues(_.toArray).toMap

  /** Replay the merge list on one word's symbols. Equivalent to applying
    * every merge in rank order, but each step jumps straight to the next
    * rank whose pair occurs, so the cost follows the word, not the list. */
  def applyAll(start: Array[String], idx: Map[(String, String), Array[Int]]): Array[String] = {
    var syms = start
    var last = -1
    var more = true
    while (more) {
      var next = Int.MaxValue
      var pair: (String, String) = null
      var j = 0
      while (j + 1 < syms.length) {
        val p = (syms(j), syms(j + 1))
        idx.get(p).foreach { ranks =>
          val k = java.util.Arrays.binarySearch(ranks, last + 1)
          val at = if (k >= 0) k else -k - 1
          if (at < ranks.length && ranks(at) < next) { next = ranks(at); pair = p }
        }
        j += 1
      }
      if (pair == null) more = false
      else {
        syms = mergePair(syms, pair._1, pair._2)
        last = next
      }
    }
    syms
  }
}
