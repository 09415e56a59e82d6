package graft

import org.apache.spark.sql.{Row, SparkSession}

/** In-session conf A/B over registered queries: ONE conf key, two or
  * more values, all arms run interleaved in one JVM (pass 1: v1, v2,
  * ...; pass 2: v1, v2, ...) so a host phase cannot masquerade as a
  * conf effect. Any data dir works, so a StageScale twin is measured
  * the same way as the base corpus.
  *
  * Before any timing, each query runs once per arm (collect, untimed)
  * and every arm's rows must equal the first arm's as a multiset — a
  * conf may change how fast a query runs, never what it computes.
  * That pass also warms every arm. Each timed execution builds the
  * query and drains it into a `noop` sink; Bench's hygiene
  * (clearCache + state-store unload + GC) runs between executions
  * with the clock stopped, and the parallel host calibration is
  * stamped before and after the timed window (compare
  * `hostcal_par_ms_start/_end` before trusting the medians).
  *
  * Usage: runMain graft.Lab <confKey=v1|v2[|v3...]> <reps> <q1,q2,...>
  *        <sfDir>
  */
object Lab {

  /** One run's evidence: wall samples in seconds per (query, value),
    * the row count each query was checked identical at, and the
    * parallel host calibration around the timed window. */
  final case class Report(rows: Map[String, Int],
                          times: Map[(String, String), Seq[Double]],
                          hostcalParMsStart: Double,
                          hostcalParMsEnd: Double)

  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: Lab <confKey=v1|v2[|v3...]> <reps> <q1,q2,...> <sfDir>")
    val (confKey, values) = parseArms(args(0))
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    val r =
      try run(spark, confKey, values, args(1).toInt, names, args(3))
      finally spark.stop()
    def med(xs: Seq[Double]) = { val s = xs.sorted; s(s.length / 2) }
    println(s"conf=$confKey values=${values.mkString("|")} " +
      s"hostcal_par_ms_start=${r.hostcalParMsStart} " +
      s"hostcal_par_ms_end=${r.hostcalParMsEnd}")
    names.foreach { n =>
      val meds = values.map(v => med(r.times((n, v))))
      val cols = values.zip(meds).map { case (v, m) => f"$v=$m%.3f" }
      val ratios = meds.tail.map(m => f"${m / meds.head}%.2f")
      val raw = values.map(v => s"$v:${r.times((n, v)).map(Bench.fmt4)}")
      println(f"$n%-32s ${cols.mkString("  ")}  " +
        s"vs_first=${ratios.mkString(",")} rows=${r.rows(n)} identical " +
        s"raw=${raw.mkString(" ")}")
    }
  }

  /** `key=v1|v2[|...]` → (key, values); at least two values. */
  private[graft] def parseArms(spec: String): (String, Seq[String]) = {
    val kv = spec.split("=", 2)
    require(kv.length == 2 && kv(0).nonEmpty, s"not confKey=v1|v2: $spec")
    val values = kv(1).split("\\|", -1).toSeq
    require(values.length >= 2, s"need two or more |-separated values: $spec")
    (kv(0), values)
  }

  /** Run the A/B on `spark`, restoring the conf key's prior value
    * afterwards. Throws if any arm's rows differ from the first's. */
  def run(spark: SparkSession, confKey: String, values: Seq[String],
          reps: Int, names: Seq[String], sfDir: String): Report = {
    require(values.length >= 2, "need two or more values")
    require(reps >= 1, "reps must be >= 1")
    val fns = names.map(n => n -> SparkEntry.queries.getOrElse(n,
      sys.error(s"unknown query $n")))
    def hygiene(): Unit = {
      spark.catalog.clearCache()
      org.apache.spark.sql.GraftSqlBridge.unloadStateStores()
      System.gc()
    }
    val prior = spark.conf.getOption(confKey)
    try {
      val rows = fns.map { case (n, fn) =>
        val arms = values.map { v =>
          spark.conf.set(confKey, v)
          val out = fn(spark, sfDir).collect().toSeq
          hygiene()
          v -> out
        }
        requireIdentical(n, confKey, arms)
        System.err.println(s"[lab] $n rows=${arms.head._2.size} " +
          s"identical across ${values.mkString("|")}")
        n -> arms.head._2.size
      }.toMap
      val calStart = HostCal.hostcalParMs(spark)
      val times = scala.collection.mutable.Map[(String, String), Seq[Double]]()
        .withDefaultValue(Seq.empty)
      for (pass <- 1 to reps; v <- values) {
        spark.conf.set(confKey, v)
        fns.foreach { case (n, fn) =>
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val t = (System.nanoTime() - t0) / 1e9
          times((n, v)) = times((n, v)) :+ t
          System.err.println(f"[lab] pass=$pass $confKey=$v $n t=$t%.3f")
          hygiene()
        }
      }
      val calEnd = HostCal.hostcalParMs(spark)
      Report(rows, times.toMap, calStart, calEnd)
    } finally prior match {
      case Some(p) => spark.conf.set(confKey, p)
      case None => spark.conf.unset(confKey)
    }
  }

  /** Every arm's rows must equal the first arm's as a multiset (row
    * order is not part of a query's result). */
  private[graft] def requireIdentical(name: String, confKey: String,
                                     arms: Seq[(String, Seq[Row])]): Unit = {
    def counts(rows: Seq[Row]) = rows.groupMapReduce(identity)(_ => 1)(_ + _)
    val (v0, rows0) = arms.head
    val want = counts(rows0)
    arms.tail.foreach { case (v, rows) =>
      require(counts(rows) == want,
        s"$name: $confKey=$v returns different rows than $confKey=$v0 " +
          s"(${rows.size} vs ${rows0.size} rows) — the conf changes what " +
          "the query computes")
    }
  }
}
