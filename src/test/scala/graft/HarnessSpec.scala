package graft

import com.fasterxml.jackson.databind.ObjectMapper

class HarnessSpec extends SparkSpec {

  test("json escapes every control character, quote and backslash") {
    val s = (0 until 0x20).map(_.toChar).mkString + "\"\\ plain é"
    assert(new ObjectMapper().readValue(Harness.json(s), classOf[String]) == s)
  }

  test("time: a failed cell keeps no samples and spoils no other cell") {
    var lateCalls = 0
    val queries: Map[String, Harness.Query] = Map(
      "ok" -> ((s, _) => s.range(10).toDF()),
      // throws on dir "b" only
      "split" -> ((s, dir) =>
        if (dir == "b") throw new IllegalStateException("boom\nsecond line")
        else s.range(5).toDF()),
      // succeeds on its first rep, then throws
      "late" -> ((s, _) => {
        lateCalls += 1
        require(lateCalls == 1, "late failure")
        s.range(3).toDF()
      }))
    val cells = for (d <- Seq("a", "b"); q <- Seq("ok", "split")) yield (q, d)
    val t = Harness.time(spark, queries, cells :+ ("late" -> "a"), reps = 3)
    assert(t.samples.keySet == Set("ok" -> "a", "split" -> "a", "ok" -> "b"))
    assert(t.samples.values.forall(_.size == 3))
    assert(t.errors == Map(
      ("split", "b") -> "IllegalStateException: boom",
      ("late", "a") -> "IllegalArgumentException: requirement failed: late failure"))
    assert(lateCalls == 2, "a failed cell is not run again")
    assert(t.exit == 1)
    assert(Harness.time(spark, queries, Seq("ok" -> "a"), reps = 1).exit == 0)
  }
}
