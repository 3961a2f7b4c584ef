package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** SimHash bit votes as a native imperative aggregate (r22; the
  * minhash_sketch precedent from r17): folds a column of 64-bit token
  * hashes into the per-group 64-bit simhash with one primitive long[65]
  * buffer — 64 bit-count lanes plus the row count.
  *
  * Replaces the 65-aggregate expression form (`sum(shiftright(h, b) & 1)`
  * × 64 + count): that HashAggregate updates 65 separate sum buffers
  * per row through codegen'd per-aggregate paths, measured ~0.6 s of the
  * l5c sketch at sf0.1; this update is a 64-iteration shift/add loop on a
  * primitive array. The EVAL reproduces the expression form's vote
  * exactly — bit b set iff 2·s_b > n (integer compare, no floats) — so
  * the resulting simhash long is bit-identical (pinned in ApproxOpsSpec).
  *
  * Map-side partials mean only 65·8 bytes per group cross the shuffle,
  * identical to the 65-column form; counts are exact longs at any corpus
  * size (no packed-lane overflow trick — a lane per counter).
  *
  * Nulls: the aggregate counts only NON-NULL inputs — a null hash adds
  * to neither the bit lanes nor n. That differs from the expression
  * form on a nullable child, whose n = count(lit(1)) counted null rows
  * while its sums skipped them, so the bit-identical claim holds for
  * non-null inputs only. Every caller feeds xxhash64, which is never
  * null.
  */
case class SimhashVotes(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash_votes expects BIGINT (a pre-hashed token), got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "simhash_votes"
  override def children: Seq[Expression] = Seq(child)

  // 64 bit-sum lanes + the non-null row count in slot 64 (see Nulls above)
  override def createAggregationBuffer(): Array[Long] = new Array[Long](65)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var b = 0
      while (b < 64) {
        buf(b) += (h >>> b) & 1L
        b += 1
      }
      buf(64) += 1L
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < 65) { a(i) += b(i); i += 1 }
    a
  }

  /** Majority vote per bit: set iff 2·s_b > n — the exact integer compare
    * the expression form used (`when(s_b * 2 > n, 1L << b)`). */
  override def eval(buf: Array[Long]): Any = {
    val n = buf(64)
    var sim = 0L
    var b = 0
    while (b < 64) {
      if (buf(b) * 2 > n) sim |= 1L << b
      b += 1
    }
    sim
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length)
    buf.foreach(bb.putLong)
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(offset: Int): SimhashVotes =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): SimhashVotes =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SimhashVotes =
    copy(child = newChildren.head)
}

object SimhashVotes {
  /** Register `simhash_votes(hash_col)` for call_function use. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash_votes",
      {
        case Seq(child) => SimhashVotes(child).toAggregateExpression()
        case exprs => throw new IllegalArgumentException(
          s"simhash_votes expects 1 argument, got ${exprs.length}")
      },
      "scala_udf")
}
