package graft

import graft.core.Fanout
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression

/** [[Fanout.maybeFanout]]'s trigger: repartition only when the backing
  * files' byte estimate cannot fill the session's default parallelism. */
class FanoutSpec extends SparkSpec {

  private lazy val tmp = java.nio.file.Files.createTempDirectory("graft_fanout")
  private lazy val path: String = {
    val p = tmp.resolve("t").toString
    spark.range(2000).selectExpr("id", "cast(id as string) as s")
      .coalesce(1).write.parquet(p)
    p
  }

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    finally super.afterAll()

  private def repartitioned(df: org.apache.spark.sql.DataFrame): Option[Int] =
    df.queryExecution.logical match {
      case r: RepartitionByExpression => r.optNumPartitions
      case _ => None
    }

  test("one-row-group parquet at default maxPartitionBytes: repartitioned to defaultParallelism") {
    val df = spark.read.parquet(path)
    assert(df.inputFiles.length == 1)
    val out = Fanout.maybeFanout(df, df("id"))
    assert(repartitioned(out) == Some(spark.sparkContext.defaultParallelism))
    assert(out.count() == 2000)
  }

  test("the same file split just small enough to fill defaultParallelism passes through") {
    val s = spark.newSession()
    val df = s.read.parquet(path)
    val bytes = java.nio.file.Files.size(
      java.nio.file.Paths.get(new java.net.URI(df.inputFiles.head)))
    val parallelism = s.sparkContext.defaultParallelism
    // split size ceil(bytes / parallelism) gives exactly `parallelism`
    // estimated scan tasks once bytes > parallelism * (parallelism - 1):
    // the boundary where the fan-out must stop
    assert(bytes > parallelism.toLong * (parallelism - 1))
    val split = (bytes + parallelism - 1) / parallelism
    s.conf.set("spark.sql.files.maxPartitionBytes", split.toString)
    assert(Fanout.maybeFanout(df, df("id")) eq df)
  }

  test("an in-memory frame passes through") {
    val df = spark.range(2000).toDF("id")
    assert(Fanout.maybeFanout(df, df("id")) eq df)
  }
}
