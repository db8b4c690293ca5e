package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Session.positiveIntEnv`, the reader of `SPARK_GRAFT_CPUS` and
  * `SPARK_GRAFT_BENCH_REPS`: a bad value fails naming its key instead of
  * benching nothing or throwing a bare NumberFormatException. No Spark. */
class SessionEnvSpec extends AnyFunSuite {

  private def read(v: Option[String]): Int =
    Session.positiveIntEnv("SPARK_GRAFT_BENCH_REPS", 3,
      env = v.map("SPARK_GRAFT_BENCH_REPS" -> _).toMap)

  test("positiveIntEnv: default when unset, the value when a positive int") {
    assert(read(None) === 3)
    assert(read(Some("8")) === 8)
    assert(read(Some(" 2 ")) === 2)
  }

  test("positiveIntEnv: zero, negative and non-integer values fail naming the key") {
    for (bad <- Seq("0", "-1", "abc", "3.5", "", "99999999999")) {
      val e = intercept[IllegalArgumentException](read(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_BENCH_REPS"), bad)
      assert(e.getMessage.contains(s"'$bad'"), bad)
    }
  }
}
