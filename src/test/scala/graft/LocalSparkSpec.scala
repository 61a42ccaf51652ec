package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

/** The [[LocalSpark]] contract, checked on the suite's own session, and
  * the rule that keeps it the only session builder in the program. */
class LocalSparkSpec extends SparkSpec {

  test("the test session carries the factory contract") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.sparkContext.appName == "graft-test")
  }

  test("LocalSpark holds the only session builder in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val builder = """SparkSession\s*\.\s*builder""".r
    val builders = Using.resource(Files.walk(root))(_.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
      .map(root.relativize(_).toString).toSeq.sorted)
    assert(builders == Seq("graft/LocalSpark.scala"))
  }
}
