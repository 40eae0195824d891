package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one timing loop every bench main shares: min per query across
  * interleaved passes, -1 plus the error text for a failed query, a
  * canary before each pass and one after the last. */
class BenchSessionSpec extends AnyFunSuite {

  test("timePasses keeps the min per query, records failures as -1 " +
      "and carries on after them") {
    val spark = TestSpark.spark
    var calls = Vector.empty[String]
    var okBuilds = 0
    val t = BenchSession.timePasses(spark, "unused", 3, Seq(
      ("boom", { (_, _) =>
        calls :+= "boom"
        throw new IllegalStateException("planted failure")
      }),
      ("ok", { (s, _) =>
        calls :+= "ok"
        okBuilds += 1
        // the first pass is the slow one: the min must come from a later one
        if (okBuilds == 1) Thread.sleep(3000)
        s.range(10).toDF()
      })))
    assert(calls == Vector.fill(3)(Seq("boom", "ok")).flatten,
      "every pass visits every query, in order, past the failure")
    assert(t.canaries.size == 3 + 1)
    assert(t.canaries.forall(_ > 0))
    assert(t.mins.map(_._1) == Seq("boom", "ok"))
    val mins = t.mins.toMap
    assert(mins("boom") == -1.0)
    assert(mins("ok") >= 0 && mins("ok") < 3.0)
    assert(t.errors.keySet == Set("boom"))
    assert(t.errors("boom").contains("planted failure"))
  }
}
