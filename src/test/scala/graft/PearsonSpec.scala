package graft

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Pearson

/** Reference test vectors from pearson/pearson_test.go. */
class PearsonSpec extends AnyFunSuite with TestSpark {
  private def h8(s: String): Int = Pearson.hash8(UTF8String.fromString(s))
  private def h64(s: String): Long = Pearson.hash64(UTF8String.fromString(s))

  private def pack(bytes: Seq[Int]): Long =
    bytes.foldLeft(0L)((acc, b) => (acc << 8) | b)

  test("hash8 matches reference vectors") {
    assert(h8("") === 0)
    assert(h8("sample string to be hashed") === 47)
    assert(h8("another sample string to be hashed") === 206)
  }

  test("hash64 matches reference vectors (big-endian packed)") {
    assert(h64("") === 0L)
    assert(h64("sample string to be hashed") === pack(Seq(47, 40, 41, 42, 43, 36, 37, 38)))
    assert(h64("another sample string to be hashed") === pack(Seq(206, 205, 204, 203, 202, 201, 200, 199)))
  }

  test("table is a permutation of 0..255") {
    assert(Pearson.T.sorted.toSeq === (0 until 256))
  }

  test("catalyst expression evaluates through codegen in a DataFrame") {
    import spark.implicits._
    graft.functions.GraftExtensions.register(spark)
    val out = Seq("sample string to be hashed", "another sample string to be hashed", "")
      .toDF("s")
      .selectExpr("pearson_hash8(s) AS h8", "pearson_hash64(s) AS h64")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(out(0) === ((47, pack(Seq(47, 40, 41, 42, 43, 36, 37, 38)))))
    assert(out(1)._1 === 206)
    assert(out(2) === ((0, 0L)))
  }
}
