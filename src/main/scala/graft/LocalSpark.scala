package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.expr

/** The one local SparkSession factory for every graft main and the test
  * suite: `local[cores]`, shuffle partitions = cores, UTC, UI off, AQE
  * on, WARN logging. `conf` pairs are applied after these defaults and
  * override them. */
object LocalSpark {

  /** `SPARK_GRAFT_CPUS`, default 4. */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  def apply(cores: Int = envCores,
            conf: Seq[(String, String)] = Nil): SparkSession = {
    val defaults = Seq(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false")
    val spark = (defaults ++ conf)
      .foldLeft(SparkSession.builder().master(s"local[$cores]")) {
        case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JDK-17 module guard: without `--add-opens java.base/
    // sun.util.calendar=ALL-UNNAMED` Spark boots and most queries run,
    // then date-row decoding throws mid-run (round 10: a hand-launched
    // bench ran 299/300 and "failed" one on exactly this). Exercise the
    // decode path up front and fail fast with the cure.
    try spark.range(1).select(expr("DATE'2020-01-01'")).head()
    catch { case e: Throwable =>
      System.err.println("[graft] this JVM cannot decode date rows — " +
        "launch with the --add-opens set from scripts/bench.sh " +
        s"(root cause: ${e.getMessage})")
      sys.exit(2)
    }
    spark
  }
}
