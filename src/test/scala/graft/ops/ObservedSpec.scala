package graft.ops

import org.scalatest.funsuite.AnyFunSuite

class ObservedSpec extends AnyFunSuite {

  test("ints reads a Seq or an Array of any numeric boxes") {
    assert(Observed.ints(Seq(3, 1, 2), "m") == Seq(3, 1, 2))
    assert(Observed.ints(Array[Any](1L, 2.toShort, 7), "m") == Seq(1, 2, 7))
    assert(Observed.ints(scala.collection.mutable.ArrayBuffer(5), "m") == Seq(5))
    assert(Observed.ints(Seq.empty[Int], "m").isEmpty)
  }

  test("ints names the metric on any other shape") {
    val notSeq = intercept[IllegalStateException](Observed.ints(Set(1), "cells"))
    assert(notSeq.getMessage.contains("'cells'"))
    assert(notSeq.getMessage.contains("Seq or Array"))
    val nul = intercept[IllegalStateException](Observed.ints(null, "cells"))
    assert(nul.getMessage.contains("null"))
    val elem = intercept[IllegalStateException](Observed.ints(Seq("x"), "buckets"))
    assert(elem.getMessage.contains("'buckets'"))
  }
}
