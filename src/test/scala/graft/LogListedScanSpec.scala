package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.TxnTable

/** TxnTable scans plan from the files the log lists: building a read
  * starts no Spark job (no listing job past 32 files, no re-stat), and
  * reads exactly what `spark.read.parquet` over the same files reads. */
class LogListedScanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** Jobs started inside `body`, counted by a listener; a marker job run
    * after it flushes the (asynchronous) listener bus up to that point. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val group = s"log-listed-${System.nanoTime}"
    val jobs = new AtomicInteger(0)
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group` => jobs.incrementAndGet()
          case g if g == group + "-marker" => marker.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "build a TxnTable read")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(group + "-marker", "listener-bus marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job never seen")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def withPath(df: DataFrame): Seq[String] =
    df.select(col("*"), col("_metadata.file_path").as("_fp"))
      .collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("TxnTable.read of 40 single-file appends starts no job and reads what spark.read reads") {
    import spark.implicits._
    val root = Files.createTempDirectory("log_listed_spec").toString
    (1 to 40).foreach(i => TxnTable.append(Seq((i.toLong, s"v$i")).toDF("id", "payload"), root))
    val adds = TxnTable.liveAddsForTest(root)
    assert(adds.size == 40, "one file per append")
    val (df, jobs) = jobsDuring(TxnTable.read(spark, root))
    assert(jobs == 0, s"building the read started $jobs job(s)")
    val files = adds.map(a => java.nio.file.Paths.get(root, a.file).toString)
    val direct = spark.read.parquet(files: _*)
    assert(df.columns.toSeq == direct.columns.toSeq)
    assert(withPath(df) == withPath(direct))
    assert(df.count() == 40L)
  }

  test("partitioned reads keep their path-encoded columns and start no job") {
    import spark.implicits._
    val root = Files.createTempDirectory("log_listed_spec_p").toString
    (1 to 36).foreach(i => TxnTable.appendPartitioned(
      Seq((i.toLong, s"v$i", s"p${i % 3}")).toDF("id", "payload", "p"), root, Seq("p")))
    val (df, jobs) = jobsDuring(TxnTable.read(spark, root))
    assert(jobs == 0, s"building the read started $jobs job(s)")
    assert(df.columns.toSeq == Seq("id", "payload", "p"))
    assert(df.as[(Long, String, String)].collect().sorted.toSeq ==
      (1 to 36).map(i => (i.toLong, s"v$i", s"p${i % 3}")).sorted)
  }

  test("a read of a vacuumed file fails naming it") {
    import spark.implicits._
    val root = Files.createTempDirectory("log_listed_spec_v").toString
    TxnTable.append(Seq((1L, "a")).toDF("id", "payload"), root)
    val gone = TxnTable.liveAddsForTest(root).head.file
    Files.delete(java.nio.file.Paths.get(root, gone))
    val e = intercept[IllegalArgumentException](TxnTable.read(spark, root))
    assert(e.getMessage.contains(gone), e.getMessage)
  }
}
