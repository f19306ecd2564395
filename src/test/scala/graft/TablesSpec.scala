package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec

/** The resolve-once loader: [[Tables.load]] infers a file's schema on
  * the first read of a session and reads with it given afterwards. The
  * cached read must be indistinguishable from a bare `spark.read.parquet`
  * except for the inference job it skips, and must notice a file that
  * was rewritten at the same path. */
class TablesSpec extends SparkSpecBase {

  /** Spark jobs `body` submits from this thread. Jobs are counted by a
    * local property; a marker job submitted after `body` flushes the
    * listener bus, whose events arrive in order. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.tables-spec.tag"
    val count = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)) match {
          case Some("body") => count.incrementAndGet()
          case Some("marker") => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "body")
      body
      sc.setLocalProperty(key, "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus did not flush")
      count.get
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  private def stage(tables: String*): String = {
    val dir = Files.createTempDirectory("graft_tables")
    tables.foreach(t => Files.copy(Paths.get(s"$sf/$t.parquet"), dir.resolve(s"$t.parquet")))
    dir.toString
  }

  private def readSchema(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s.metadata("ReadSchema") }

  test("the second load of a table in a session runs zero Spark jobs") {
    val dir = stage("lineitem")
    assert(jobsOf(Tables.load(spark, dir, "lineitem")) >= 1,
      "the first load of a fresh path infers its schema with a job")
    assert(jobsOf(Tables.load(spark, dir, "lineitem")) == 0)
    assert(jobsOf(Tables.lineitem(spark, dir).schema) == 0)
  }

  test("a cached load has the bare read's analyzed output and FileScan ReadSchema") {
    for (t <- Tables.names) {
      Tables.load(spark, sf, t)
      val ours = Tables.load(spark, sf, t)
      val bare = spark.read.parquet(s"$sf/$t.parquet")
      assert(ours.schema == bare.schema, t)
      def out(df: DataFrame) = df.queryExecution.analyzed.output.map(a => (a.name, a.dataType, a.nullable))
      assert(out(ours) == out(bare), t)
      assert(readSchema(ours) == readSchema(bare), t)
      val first = bare.columns.head
      assert(readSchema(ours.select(first)) == readSchema(bare.select(first)), t)
    }
  }

  test("a file rewritten at the same path is inferred again") {
    import spark.implicits._
    // a single parquet file, replaced in place (the corpus layout)
    val dir = stage("region")
    assert(Tables.load(spark, dir, "region").columns.toSeq == Seq("r_regionkey", "r_name"))
    Files.copy(Paths.get(s"$sf/nation.parquet"), Paths.get(s"$dir/region.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val swapped = Tables.load(spark, dir, "region")
    assert(swapped.columns.toSeq == Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(swapped.count() == 25)

    // a directory of part files, overwritten by a Spark writer
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").schema.fieldNames.toSeq == Seq("id", "s"))
    Seq((2L, 3, 4.5)).toDF("id", "n", "x").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val rewritten = Tables.load(spark, dir, "t")
    assert(rewritten.schema.fieldNames.toSeq == Seq("id", "n", "x"))
    assert(rewritten.as[(Long, Int, Double)].collect().toSeq == Seq((2L, 3, 4.5)))
  }
}
