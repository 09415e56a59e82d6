package graft

import org.apache.spark.sql.Row

/** The two measurement tools that ship with the library: Lab (conf A/B
  * with an output-identity check) and Explain (pinned-round, initial
  * and final adaptive plans of a registered query). */
class LabExplainSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("Lab runs a shuffle-width A/B, checks outputs identical, restores the conf") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val r = Lab.run(spark, key, Seq("1", "4"), reps = 1,
      Seq("q1_agg"), sf)
    assert(r.rows("q1_agg") > 0)
    for (v <- Seq("1", "4")) assert(r.times(("q1_agg", v)).size == 1)
    assert(r.hostcalParMsStart > 0 && r.hostcalParMsEnd > 0)
    assert(spark.conf.get(key) == before)
  }

  test("Lab parses one conf key with two or more values") {
    assert(Lab.parseArms("k=a|b|c") == ("k", Seq("a", "b", "c")))
    assert(Lab.parseArms("k.x=1|") == ("k.x", Seq("1", "")))
    intercept[IllegalArgumentException](Lab.parseArms("k=a"))
    intercept[IllegalArgumentException](Lab.parseArms("=a|b"))
  }

  test("Lab's identity check is order-insensitive and rejects differing rows") {
    val a = Seq(Row(1L, "x"), Row(2L, "y"), Row(2L, "y"))
    Lab.requireIdentical("q", "k", Seq("1" -> a, "2" -> a.reverse))
    val e = intercept[IllegalArgumentException](
      Lab.requireIdentical("q", "k",
        Seq("1" -> a, "2" -> Seq(Row(1L, "x"), Row(2L, "y")))))
    assert(e.getMessage.contains("k=2 returns different rows"))
    intercept[IllegalArgumentException](
      Lab.requireIdentical("q", "k",
        Seq("1" -> a, "2" -> a, "3" -> a.updated(0, Row(1L, "z")))))
  }

  test("Explain on q113_pagerank emits pinned-round and final adaptive plans") {
    val text = Explain.explain(spark, "q113_pagerank", sf, reps = 1)
    assert(text.contains("== Pinned round 1 "), text.take(2000))
    assert(text.contains("== Initial plan =="))
    val fin = text.indexOf("== Final adaptive plan")
    assert(fin > 0 && text.indexOf("isFinalPlan=true", fin) > fin,
      text.drop(fin).take(2000))
    assert(text.contains("[explain] rep=1 rows="))
  }
}
