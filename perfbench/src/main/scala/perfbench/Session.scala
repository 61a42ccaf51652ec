package perfbench

import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.expr

/** The benchmark's one session factory: `local[cores]`, shuffle
  * partitions = cores, AQE on, UTC, UI off. The JVM flags (the JDK-17
  * `--add-opens` set of scripts/bench.sh, heap, code cache) are set by
  * the launcher, perfbench/run.py; [[describe]] records what this JVM
  * actually got. */
object Session {

  def start(cores: Int, warehouseDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouseDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Without `--add-opens java.base/sun.util.calendar=ALL-UNNAMED` Spark
    // boots and most work runs, then date-row decoding throws mid-run.
    // Decode one date now and fail fast instead.
    try spark.range(1).select(expr("DATE'2020-01-01'")).head()
    catch {
      case e: Throwable =>
        System.err.println("[perfbench] this JVM cannot decode date rows; launch it " +
          s"with the --add-opens set of perfbench/run.py (${e.getMessage})")
        sys.exit(2)
    }
    spark
  }

  /** Cores, heap and JVM flags of this process. */
  def describe(cores: Int): ListMap[String, Any] = ListMap(
    "cores" -> cores,
    "available_processors" -> Runtime.getRuntime.availableProcessors,
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6,
    "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
    "java_version" -> System.getProperty("java.version"),
    "spark_version" -> org.apache.spark.SPARK_VERSION)
}
