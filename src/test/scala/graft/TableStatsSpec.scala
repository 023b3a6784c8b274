package graft

import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.datasources.parquet.ParquetUtils

/** TableStats stands in for Spark's schema inference and scan planning
  * on every table load, so it must give what they give, and see a file
  * rewritten in place. */
class TableStatsSpec extends GraftSuite {

  /** Schema and planned splits against inference's and the scan's,
    * under `nanosAsLong` as `Tables.load` reads. */
  private def assertLikeInference(path: String): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val stats = TableStats(spark, path)
    assert(stats.schema == ParquetUtils.inferSchema(spark, Map.empty, stats.files), path)
    val inferred = spark.read.parquet(path)
    assert(spark.read.schema(stats.schema.get).parquet(path).schema == inferred.schema, path)
    assert(stats.scanSplits == inferred.rdd.getNumPartitions, path)
  }

  test("the ten tables: the schema and splits that inference and the " +
      "scan give") {
    for (name <- Tables.names) {
      val path = s"$sf/$name.parquet"
      assertLikeInference(path)
      assert(TableStats(spark, path).bytes == new java.io.File(path).length, path)
    }
    // several splits per file
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16k")
    try for (name <- Seq("documents", "embeddings", "lineitem"))
      assertLikeInference(s"$sf/$name.parquet")
    finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("a multi-file directory written by Spark") {
    val dir = Files.createTempDirectory("tablestats").resolve("t").toString
    spark.range(0, 300, 1, 3)
      .selectExpr("id", "cast(id AS string) AS s", "timestamp_seconds(id) AS ts",
        "named_struct('a', id, 'b', array(id)) AS nested")
      .write.parquet(dir)
    val stats = TableStats(spark, dir)
    assert(stats.files.length == 3, stats.files)
    assertLikeInference(dir)
    val conf = spark.sessionState.newHadoopConf()
    assert(stats.files.map(TableStats.rows(_, conf)).sum == 300)
  }

  test("a file rewritten at the same path gives fresh stats") {
    val tmp = Files.createTempDirectory("tablestats")
    def partFile(rows: Int, cols: String*): java.nio.file.Path = {
      val d = tmp.resolve(s"w$rows").toString
      spark.range(rows).coalesce(1).selectExpr(cols: _*).write.parquet(d)
      Files.list(java.nio.file.Paths.get(d)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
    }
    val path = tmp.resolve("t.parquet")
    val conf = spark.sessionState.newHadoopConf()
    def rows = TableStats(spark, path.toString).files.map(TableStats.rows(_, conf)).sum
    Files.copy(partFile(10, "id"), path)
    assert(rows == 10)
    assert(TableStats(spark, path.toString).schema.get.fieldNames.toSeq == Seq("id"))
    Files.copy(partFile(25, "id", "id * 2 AS twice"), path, StandardCopyOption.REPLACE_EXISTING)
    assert(rows == 25)
    assert(TableStats(spark, path.toString).schema.get.fieldNames.toSeq == Seq("id", "twice"))
  }

  test("loading the ten tables runs no Spark job") {
    val group = "tablestats-" + java.util.UUID.randomUUID()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "Tables.load")
    try {
      val loaded = Tables.names.map(Tables.load(spark, sf, _))
      assert(loaded.forall(_.columns.nonEmpty))
      org.apache.spark.graft.ListenerDrain.waitUntilEmpty(spark.sparkContext)
      assert(jobs.get == 0, s"${jobs.get} jobs while loading ${Tables.names.length} tables")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
