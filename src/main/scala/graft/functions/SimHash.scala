package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** 64-bit SimHash (Charikar) over a token array, as a native Catalyst
  * expression with whole-stage codegen support.
  *
  * SimHash is the near-dup sketch the reference domain lacks entirely and
  * Spark has no built-in for; per the extension preference order (compose >
  * Expression > LogicalPlan > mapPartitions) a scalar Expression is the right
  * altitude: it fuses into the surrounding projection, costs one pass over
  * the tokens, and needs no shuffle.
  *
  * Bucketing/distance need no further custom code: band extraction is
  * `shiftright + bitwise and`, and hamming distance is the built-in
  * `bit_count(a ^ b)`.
  */
object SimHash {

  /** Portable per-token hash: big-endian long of the first 8 bytes of
    * md5(token). Any engine with an md5 function reproduces it bit-for-bit,
    * so the oracle rebuilds the identical signature in SQL. */
  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def md5hash64(bytes: Array[Byte]): Long = {
    val md = md5Digest.get()
    md.reset()
    val d = md.digest(bytes)
    var out = 0L
    var i = 0
    while (i < 8) { out = (out << 8) | (d(i) & 0xffL); i += 1 }
    out
  }

  /** SimHash of a token array: per-bit vote of each token's 64-bit md5
    * hash, sign of the vote becomes the output bit. Called from generated
    * code. */
  def computeMd5(tokens: ArrayData): Long = {
    val acc = new Array[Int](64)
    var t = 0
    val n = tokens.numElements()
    while (t < n) {
      if (!tokens.isNullAt(t)) {
        val bytes = tokens.getUTF8String(t).getBytes
        val h = md5hash64(bytes)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
          b += 1
        }
      }
      t += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (acc(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** The 64-bit SimHash of a token array column, md5 token hash. */
  def simhash64Md5(tokens: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(SimHash64Expr(ColumnBridge.expression(tokens)))
  }
}

case class SimHash64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64_md5"

  override def nullSafeEval(input: Any): Any =
    SimHash.computeMd5(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash.computeMd5($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}
