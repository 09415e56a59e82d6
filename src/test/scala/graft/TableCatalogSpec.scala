package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** The session's table catalog resolves each table's schema once: later
  * opens launch no Spark job, yet read exactly what `spark.read.parquet`
  * reads, pick up a file rewritten at the same path, and return fresh
  * relations that self-join without ambiguity.
  */
class TableCatalogSpec extends SparkTestBase {

  // the sf0.01 corpus committed with the benchmark: the driver's tables
  // and encodings, present in every checkout
  private val sf = new java.io.File("perfbench/data/sf0.01").getAbsolutePath
  private val sfTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** `f`'s result and the number of Spark jobs started while it ran. */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    GraftTestBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val r = f
      GraftTestBus.drain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }

  private def resolves: Long = GraftSession.catalogStats(spark)._1

  private def rows(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).map { case (r, rs) => r -> rs.length }

  /** The cached read must be indistinguishable from an uncached one. */
  private def assertSameRead(dir: String, name: String): Unit = {
    val plain = spark.read.parquet(s"$dir/$name.parquet")
    GraftSession.rawTable(spark, dir, name) // resolve
    val cached = GraftSession.rawTable(spark, dir, name)
    assert(cached.schema == plain.schema, s"$name schema")
    assert(rows(cached) == rows(plain), s"$name rows")
    assert(GraftSession.table(spark, dir, name).schema ==
      GraftSession.normalizeEventTime(plain).schema, s"$name normalized")
  }

  test("a second open of the same table starts no Spark job") {
    withTempDir("graft_catalog_jobs") { dir =>
      spark.range(100).toDF("a").write.parquet(s"$dir/t.parquet")
      val r0 = resolves
      val (_, first) = jobsDuring(GraftSession.table(spark, dir.getPath, "t"))
      val (_, second) = jobsDuring(GraftSession.table(spark, dir.getPath, "t"))
      assert(first >= 1, "the first open infers the schema with a job")
      assert(second == 0, s"second open started $second job(s)")
      assert(resolves - r0 == 1)
    }
  }

  test("cached reads of every corpus table equal spark.read.parquet") {
    sfTables.foreach(assertSameRead(sf, _))
  }

  test("cached reads of long-nanos and timestamp[us] event times equal " +
      "spark.read.parquet") {
    withTempDir("graft_catalog_ts") { dir =>
      import spark.implicits._
      val ns = Seq((1L, 1704067200L * 1000000000L + 123456000L),
        (2L, 1704070800L * 1000000000L)).toDF("user_id", "ts")
      ns.write.parquet(s"$dir/ns.parquet")
      ns.select(col("user_id"),
          timestamp_micros(expr("ts DIV 1000")).cast("timestamp_ntz")
            .as("ts"))
        .write.parquet(s"$dir/us.parquet")
      assert(GraftSession.tableSchema(spark, dir.getPath, "ns")("ts")
        .dataType == LongType)
      assert(GraftSession.tableSchema(spark, dir.getPath, "us")("ts")
        .dataType == TimestampNTZType)
      assertSameRead(dir.getPath, "ns")
      assertSameRead(dir.getPath, "us")
      assert(rows(GraftSession.table(spark, dir.getPath, "ns")) ==
        rows(GraftSession.table(spark, dir.getPath, "us")))
    }
  }

  test("a Parquet read conf change resolves the schema again") {
    // the driver's events.ts carries no Spark schema metadata, so the
    // NTZ inference conf decides its type
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val tsType = () => GraftSession.tableSchema(spark, sf, "events")("ts")
      .dataType
    val inferred = () => spark.read.parquet(s"$sf/events.parquet")
      .schema("ts").dataType
    val before = tsType()
    assert(before == inferred())
    try {
      spark.conf.set(key, "false")
      assert(tsType() == inferred())
      assert(tsType() != before, "the conf must change the inferred type")
    } finally spark.conf.unset(key)
    assert(tsType() == before)
  }

  test("a file overwritten at the same path is resolved again") {
    withTempDir("graft_catalog_rewrite") { dir =>
      val path = s"$dir/t.parquet"
      spark.range(5).toDF("a").write.parquet(path)
      assert(GraftSession.rawTable(spark, dir.getPath, "t").columns
        .toSeq == Seq("a"))
      spark.range(5).select(col("id").as("a"), col("id").cast("string")
          .as("b"))
        .write.mode("overwrite").parquet(path)
      val again = GraftSession.rawTable(spark, dir.getPath, "t")
      assert(again.schema == spark.read.parquet(path).schema)
      assert(again.where(col("b") === "4").count() == 1L)
    }
  }

  test("two opens of lineitem self-join without ambiguity") {
    val a = GraftSession.table(spark, sf, "lineitem")
    val b = GraftSession.table(spark, sf, "lineitem")
    val ids = (df: DataFrame) =>
      df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert((ids(a) & ids(b)).isEmpty, "opens must not share attribute ids")
    val cond = a("l_orderkey") === b("l_orderkey") &&
      a("l_linenumber") < b("l_linenumber")
    val plain = spark.read.parquet(s"$sf/lineitem.parquet")
    val plain2 = spark.read.parquet(s"$sf/lineitem.parquet")
    assert(a.join(b, cond).count() == plain.join(plain2,
      plain("l_orderkey") === plain2("l_orderkey") &&
        plain("l_linenumber") < plain2("l_linenumber")).count())
  }

  test("8 threads opening one table at once resolve it once, correctly") {
    withTempDir("graft_catalog_threads") { dir =>
      spark.range(10).select(col("id"), col("id").cast("double").as("x"))
        .write.parquet(s"$dir/t.parquet")
      val expected = spark.read.parquet(s"$dir/t.parquet").schema
      val r0 = resolves
      val gate = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(8)
      try {
        val futures = (1 to 8).map(_ => pool.submit(() => {
          gate.await()
          GraftSession.rawTable(spark, dir.getPath, "t").schema
        }))
        gate.countDown()
        futures.foreach(f => assert(f.get(120, TimeUnit.SECONDS) == expected))
      } finally pool.shutdownNow()
      assert(resolves - r0 == 1, "concurrent opens must share one resolve")
    }
  }
}
