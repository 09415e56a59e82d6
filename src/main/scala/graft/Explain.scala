package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.operators.Components.PinPlanCapture

/** Plan evidence for registered queries, all from ONE session. For each
  * query, in order:
  *  1. the executed plan of every frame the query PINS while it is
  *     built — Components.pin runs those plans at construction, so the
  *     returned frame's explain shows only a `Scan ExistingRDD` there;
  *  2. the formatted initial plan (`isFinalPlan=false` under AQE);
  *  3. the final adaptive plan, read after `collect()`: materialized
  *     AQE stages, runtime join strategies and stage reuse, which no
  *     pre-execution explain can show (the UI, and with it the SQL
  *     tab, is disabled). collect, not a noop write: the write path
  *     builds its own QueryExecution and leaves the frame's unexecuted;
  *  4. `reps` timed executions (collect; 0 skips them).
  * A plan can differ by scale point (AQE decisions, broadcast flips),
  * so run it on the data dir the question is about.
  *
  * Usage: runMain graft.Explain <sfDir> <q1,q2,...> [reps]
  *        [outDir suffix]
  * With `outDir suffix` it writes `<outDir>/<query>_<suffix>.txt` per
  * query (the `plans/rNN/<q>_{before,after}.txt` convention); without,
  * it prints to stdout.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(Set(2, 3, 5).contains(args.length),
      "usage: Explain <sfDir> <q1,q2,...> [reps] [outDir suffix]")
    val sf = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 2) args(2).toInt else 0
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    try names.foreach { name =>
      val text = explain(spark, name, sf, reps)
      if (args.length == 5) {
        val dir = Files.createDirectories(Paths.get(args(3)))
        val f = dir.resolve(s"${name}_${args(4)}.txt")
        Files.write(f, text.getBytes(UTF_8))
        System.err.println(s"[explain] wrote $f")
      } else println(text)
      // a query may leave persisted intermediates or loaded state-store
      // providers behind (streaming drains execute at construction)
      spark.catalog.clearCache()
      org.apache.spark.sql.GraftSqlBridge.unloadStateStores()
    } finally spark.stop()
  }

  /** The four sections above for one registered query, as text. */
  def explain(spark: SparkSession, name: String, sfDir: String,
              reps: Int): String = {
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name"))
    PinPlanCapture.start()
    val (df, pins) =
      try { val d = fn(spark, sfDir); (d, PinPlanCapture.stop()) }
      finally PinPlanCapture.stop()
    val sb = new StringBuilder(s"==== $name ====\n")
    pins.zipWithIndex.foreach { case (p, i) =>
      sb ++= s"== Pinned round ${i + 1} (executed plan at construction) ==\n"
      sb ++= s"$p\n"
    }
    sb ++= "== Initial plan ==\n"
    sb ++= df.queryExecution.explainString(FormattedMode) + "\n"
    val rows = df.collect().length
    sb ++= s"== Final adaptive plan (after collect, rows=$rows) ==\n"
    sb ++= s"${df.queryExecution.executedPlan}\n"
    for (i <- 1 to reps) {
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).collect().length
      sb ++= f"[explain] rep=$i rows=$n wall=${(System.nanoTime() - t0) / 1e9}%.3f\n"
    }
    sb.toString
  }
}
