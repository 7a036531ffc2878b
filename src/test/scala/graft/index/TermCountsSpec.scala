package graft.index

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.index.expr.TermCountsKernel

class TermCountsSpec extends AnyFunSuite {

  test("term counts own their keys: output survives reuse of the token buffer") {
    // tokens as views over ONE shared byte array, the way a reused input
    // row buffer hands them to the expression
    val buf = "foobarfoo".getBytes("UTF-8")
    val tokens = new GenericArrayData(Array[Any](
      UTF8String.fromBytes(buf, 0, 3), UTF8String.fromBytes(buf, 3, 3),
      UTF8String.fromBytes(buf, 6, 3)))
    val out = TermCountsKernel.termCounts(tokens)
    java.util.Arrays.fill(buf, 'x'.toByte)
    val got = (0 until out.numElements()).map { i =>
      val r = out.getStruct(i, 2)
      (r.getUTF8String(0).toString, r.getLong(1))
    }
    assert(got == Seq(("foo", 2L), ("bar", 1L)))
  }
}
