package graft.tools
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named queries into a directory —
  * the round-11 deliverable (`plans/r11/<query>_{before,after}.txt`).
  *
  * Usage: PlanDump <outDir> <suffix> <query1,query2,...> [sfDir]
  * Writes <outDir>/<query>_<suffix>.txt per query. Uses the bench's
  * session ([[graft.LocalSpark]]) so the dumped plan is the one the bench
  * actually executes (AQE initial plan; the formatted output carries
  * Exchange placement, join strategy, PushedFilters, ReadSchema). The
  * committed plans/r11 dumps were made with SPARK_GRAFT_CPUS=32.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(',').map(_.trim).filter(_.nonEmpty)
    val sf = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = graft.LocalSpark()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sf)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"), txt)
      println(s"[plandump] wrote $outDir/${n}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
