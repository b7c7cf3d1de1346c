package graft

import org.scalatest.funsuite.AnyFunSuite

class MainsSpec extends AnyFunSuite {
  test("an env integer that is not a number fails naming the variable") {
    val e = intercept[IllegalArgumentException](
      Mains.parseInt("SPARK_GRAFT_BENCH_REPS", Some("four"), 2))
    assert(e.getMessage.contains("SPARK_GRAFT_BENCH_REPS"))
    assert(e.getMessage.contains("'four'"))
  }
}
