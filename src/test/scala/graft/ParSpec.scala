package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Par

/** `Par.both` failure reporting: a branch's exception reaches the caller
  * as that branch threw it.
  */
class ParSpec extends AnyFunSuite {

  test("helper-branch failure surfaces as its original exception, not wrapped") {
    val boom = new IllegalStateException("helper failed")
    val got = intercept[IllegalStateException] {
      Par.both[Int, Int](1, throw boom)
    }
    assert(got eq boom)
  }

  test("calling-branch failure propagates; the helper's outcome is not observed") {
    val boom = new IllegalArgumentException("caller failed")
    val got = intercept[IllegalArgumentException] {
      Par.both[Int, Int](throw boom, throw new IllegalStateException("helper failed"))
    }
    assert(got eq boom)
  }
}
