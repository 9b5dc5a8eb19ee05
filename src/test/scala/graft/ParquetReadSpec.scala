package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Tables.readParquet]] reads what `spark.read.parquet` reads, with the
  * schema taken from a footer on the driver instead of a Spark job. */
class ParquetReadSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Run `body` and count the Spark jobs it started on this thread (the
    * job group keeps jobs of other threads out of the count). */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = "ParquetReadSpec"
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val r = body
      ListenerBusDrain.drain(sc)
      (r, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** A flat directory as Spark writes it: three part files, `_SUCCESS`
    * and a `.crc` file beside each. */
  private lazy val sparkDir: String = {
    val dir = Files.createTempDirectory("graft_parquet_read").resolve("t").toString
    spark.range(0, 300, 1, 3).select(
      col("id"),
      col("id").cast("int").as("i"),
      concat(lit("s"), col("id").cast("string")).as("s"),
      (col("id") / 7).cast("decimal(12,2)").as("d"),
      timestamp_micros(col("id") * 1000000L).as("ts"),
      timestamp_micros(col("id") * 1000000L).cast("timestamp_ntz").as("ntz"),
      date_add(lit(java.sql.Date.valueOf("2024-01-01")), col("id").cast("int")).as("day"),
      array(col("id").cast("double"), lit(0.5)).as("vec"),
      struct(col("id").as("a"), lit("x").as("b")).as("st"),
      when(col("id") % 5 === 0, lit(null)).otherwise(col("id")).as("maybe"))
      .write.parquet(dir)
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")) &&
      names.count(_.startsWith("part-")) == 3, names)
    dir
  }

  private def fixturePath(n: String) = s"${sf()}/$n.parquet"

  test("readParquet reads every fixture table and a Spark-written directory as spark.read.parquet does") {
    for (p <- Tables.names.map(fixturePath) :+ sparkDir) {
      val df = Tables.readParquet(spark, p)
      val inferred = spark.read.parquet(p)
      assert(df.schema == inferred.schema, p)
      assert(rows(df) == rows(inferred), p)
    }
  }

  test("Tables.load defines every fixture table without a Spark job") {
    // the counter sees the inference job a plain read runs
    assert(jobsOf(spark.read.parquet(fixturePath("lineitem")).schema)._2 > 0)
    for (n <- Tables.names)
      assert(jobsOf(Tables.load(spark, sf(), n).schema)._2 == 0, n)
  }

  test("readParquet defines a Spark-written directory without a Spark job") {
    val dir = sparkDir
    assert(jobsOf(Tables.readParquet(spark, dir).schema)._2 == 0)
  }

  test("a partitioned directory falls back to inference and keeps its partition column") {
    val dir = Files.createTempDirectory("graft_parquet_read").resolve("p").toString
    spark.range(20).select(col("id"), (col("id") % 3).as("k"))
      .write.partitionBy("k").parquet(dir)
    val df = Tables.readParquet(spark, dir)
    assert(df.schema == spark.read.parquet(dir).schema)
    assert(df.columns.toSeq == Seq("id", "k"))
    assert(rows(df) == rows(spark.read.parquet(dir)))
  }

  test("with mergeSchema on, readParquet merges the schemas of every file") {
    val dir = Files.createTempDirectory("graft_parquet_read").resolve("m").toString
    spark.range(3).select(col("id")).write.parquet(dir)
    spark.range(3).select(col("id"), lit("x").as("extra")).write.mode("append").parquet(dir)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try assert(Tables.readParquet(spark, dir).columns.toSeq == Seq("id", "extra"))
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("a missing path or a directory without data fails as spark.read.parquet does") {
    val base = Files.createTempDirectory("graft_parquet_read")
    val empty = Files.createDirectory(base.resolve("empty"))
    Files.createFile(empty.resolve("_SUCCESS"))
    for (p <- Seq(base.resolve("missing").toString, empty.toString)) {
      val expected = intercept[Exception](spark.read.parquet(p))
      val got = intercept[Exception](Tables.readParquet(spark, p))
      assert(got.getClass == expected.getClass && got.getMessage == expected.getMessage, p)
    }
  }
}
