package graft

import org.scalatest.funsuite.AnyFunSuite

/** What `GraftSession.builder` accepts from the environment: a bad
  * value fails the session build, not every query planned later. */
class GraftSessionSpec extends AnyFunSuite {
  test("SPARK_GRAFT_FAST_MONEY accepts true or false in any case") {
    assert(GraftSession.fastMoneySums(None) === "true")
    for (v <- Seq("true", "TRUE", "True", "false", "FALSE", "fAlSe"))
      assert(GraftSession.fastMoneySums(Some(v)) === v.toLowerCase)
  }

  test("SPARK_GRAFT_FAST_MONEY rejects any other value, naming it") {
    for (v <- Seq("0", "1", "yes", "no", "", " true")) {
      val e = intercept[IllegalArgumentException](
        GraftSession.fastMoneySums(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_FAST_MONEY"), v)
    }
  }
}
