package graft

import scala.collection.mutable

/** The bench harness's own failure paths: a throwing steady rerun, the page
  * warm's hash sum, and named warm-step failures. */
class BenchSpec extends SparkSpec {

  test("a steady rerun that throws keeps the first-run time and lands in errors") {
    val errors = mutable.LinkedHashMap.empty[String, String]
    val t = Bench.steadyRerun("q", 5.0, errors)(throw new IllegalStateException("boom\nmore"))
    assert(t == 5.0, "time-to-exception must not replace the first-run time")
    assert(errors.toMap == Map("steady:q" -> "IllegalStateException: boom"))
  }

  test("a steady rerun that succeeds keeps min(first, rerun)") {
    val errors = mutable.LinkedHashMap.empty[String, String]
    assert(Bench.steadyRerun("q", 1e6, errors)(()) < 1e6)
    assert(Bench.steadyRerun("q", 0.0, errors)(()) == 0.0)
    assert(errors.isEmpty)
  }

  test("the page warm's hash sum does not overflow on the real tables") {
    Seq("lineitem", "events", "documents", "embeddings").foreach { t =>
      Bench.pageWarm(Tables.load(spark, "/root/testdata/sf0.001", t))
    }
  }

  test("warm failures are recorded by step name, artifact failures per label") {
    val warm = new Bench.Warm
    warm.step("page:x")(throw new RuntimeException("bad page"))
    warm.step("artifact")(throw new Artifacts.WarmFailed(Seq(
      "a" -> new IllegalStateException("x"), "b" -> new ArithmeticException("y"))))
    warm.step("streaming")(())
    assert(warm.failures.toSeq == Seq(
      "page:x" -> "RuntimeException: bad page",
      "artifact:a" -> "IllegalStateException: x",
      "artifact:b" -> "ArithmeticException: y"))
  }
}
