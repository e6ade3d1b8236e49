package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Pearson hashing (Pearson, CACM 33(6), 1990) — cassabon routes each metric
  * path to its owning peer by `Hash8(path) % N` (reference pearson/pearson.go:30-41,
  * listener/peerlist.go:112-119).
  *
  * The 256-byte permutation table is the reference's (pearson/pearson.go:9-27);
  * it has closed form `T[i] = (15 - (i >> 4)) | ((i & 15) << 4)` and is
  * generated from it rather than transcribed.
  */
object Pearson {
  val T: Array[Int] = Array.tabulate(256)(i => (15 - (i >> 4)) | ((i & 15) << 4))

  /** 8-bit Pearson hash; empty string hashes to 0 (pearson.go:30-41). */
  def hash8(s: UTF8String): Int = {
    val b = s.getBytes
    if (b.length == 0) return 0
    var h = T(b(0) & 0xff)
    var i = 1
    while (i < b.length) { h = T(h ^ (b(i) & 0xff)); i += 1 }
    h
  }

  /** 64-bit extended hash: 8 segment-seeded 8-bit hashes (pearson.go:44-59),
    * packed big-endian (segment 0 in the high byte).
    */
  def hash64(s: UTF8String): Long = {
    val b = s.getBytes
    if (b.length == 0) return 0L
    var out = 0L
    var seg = 0
    while (seg < 8) {
      var h = T(((b(0) & 0xff) + seg) % 256)
      var i = 1
      while (i < b.length) { h = T(h ^ (b(i) & 0xff)); i += 1 }
      out = (out << 8) | h
      seg += 1
    }
    out
  }

  /** DuckDB rendering of hash8 (for oracle SQL): same table, same fold.
    *
    * PRECONDITION: ASCII input — `ascii()` yields Unicode code points while
    * [[hash8]] folds UTF-8 bytes, so the two agree only on single-byte
    * characters (true for every carbon path this engine generates; carbon
    * path names are ASCII by protocol). The empty string is special-cased
    * to 0 to match hash8/the Go reference (the bare list_reduce would
    * otherwise fold the seed row alone and yield T[0]).
    */
  def hash8Sql(col: String): String = {
    val tl = T.mkString("[", ",", "]")
    s"""CASE WHEN len($col) = 0 THEN 0 ELSE list_reduce(
       |  list_concat(
       |    [list_extract($tl, ascii(substr($col, 1, 1)) + 1)],
       |    [ascii(substr($col, i, 1)) for i in generate_series(2, len($col))]
       |  ),
       |  (h, c) -> list_extract($tl, xor(h, c) + 1)
       |) END""".stripMargin
  }

  /** DuckDB rendering of [[hash64]] (same ASCII/empty-string handling):
    * each of the 8 segment-seeded folds is an independent list_reduce —
    * seed `T[(c0 + seg) % 256]`, same per-byte fold — packed big-endian by
    * HUGEINT arithmetic (the full 64-bit pattern overflows a signed BIGINT
    * halfway through the shifts) and wrapped back to Spark's signed Long
    * via `((x + 2^63) % 2^64) - 2^63`.
    */
  def hash64Sql(col: String): String = {
    val tl = T.mkString("[", ",", "]")
    def seg(j: Int): String =
      s"""list_reduce(
         |  list_concat(
         |    [list_extract($tl, (ascii(substr($col, 1, 1)) + $j) % 256 + 1)],
         |    [ascii(substr($col, i, 1)) for i in generate_series(2, len($col))]
         |  ),
         |  (h, c) -> list_extract($tl, xor(h, c) + 1)
         |)""".stripMargin
    val packed = (0 until 8)
      .map(j => s"CAST(${seg(j)} AS HUGEINT) * ${java.math.BigInteger.ONE.shiftLeft(8 * (7 - j))}")
      .mkString("(", "\n + ", ")")
    s"""CASE WHEN len($col) = 0 THEN 0 ELSE CAST(
       |  ($packed + CAST(9223372036854775808 AS HUGEINT)) % CAST(18446744073709551616 AS HUGEINT)
       |    - CAST(9223372036854775808 AS HUGEINT)
       |AS BIGINT) END""".stripMargin
  }
}

/** Native Catalyst expression with codegen: stays inside whole-stage codegen
  * (an iterative table-lookup hash is not expressible with built-in column
  * functions; a Scala UDF would box every row).
  */
case class PearsonHash8(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(input: Any): Any =
    Pearson.hash8(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Pearson.hash8($c)")
  override protected def withNewChildInternal(newChild: Expression): PearsonHash8 =
    copy(child = newChild)
  override def prettyName: String = "pearson_hash8"
}

case class PearsonHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    Pearson.hash64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Pearson.hash64($c)")
  override protected def withNewChildInternal(newChild: Expression): PearsonHash64 =
    copy(child = newChild)
  override def prettyName: String = "pearson_hash64"
}
