package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Prints `Materialize.spreadWidth` of a multi-partition-sized parquet
  * input on a `local[2]` context: `spread-width <width> <defaultParallelism>`. */
object SpreadWidthProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("spread-width-probe")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      spark.range(0, 200000).selectExpr("id", "cast(id * 7 as string) as s")
        .write.parquet(args(0))
      val df = spark.read.parquet(args(0))
      println(s"spread-width ${Materialize.spreadWidth(df)} ${spark.sparkContext.defaultParallelism}")
    } finally spark.stop()
  }
}

/** The spread width never exceeds the context's parallelism. The shared
  * test session is `local[4]`, so the `local[2]` context runs in a child
  * JVM (one SparkContext per JVM). */
class SpreadWidthSpec extends AnyFunSuite {
  test("spreadWidth on a local[2] context never exceeds defaultParallelism") {
    val out = Files.createTempDirectory("spread_width").resolve("t").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(a => a.startsWith("-Xmx") ||
        a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val cmd = Seq(Paths.get(System.getProperty("java.home"), "bin", "java").toString,
      "-Xmx512m") ++ jvmArgs ++ Seq("-cp", System.getProperty("java.class.path"),
      "graft.SpreadWidthProbe", out)
    val proc = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
    val lines = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toVector
    assert(proc.waitFor() == 0, lines.takeRight(20).mkString("\n"))
    val Array(width, parallelism) = lines.find(_.startsWith("spread-width "))
      .getOrElse(fail(lines.takeRight(20).mkString("\n")))
      .split(" ").tail.map(_.toInt)
    assert(parallelism == 2)
    assert(width == 2, s"a local[2] context got spread width $width")
  }
}
