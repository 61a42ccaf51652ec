package graft.tools

import org.apache.spark.sql.functions._

/** Hub-skew stress corpus for the graph tier: copies an sf directory
  * (which may itself be a ScaleGen output) and rewrites ORDERS so one
  * customer key owns `hotFrac` of all rows — the customer–supplier
  * edge list the graph queries derive then has one hub node on ~40%
  * of edges, the adversarial degree distribution for per-key joins
  * and windows. Deterministic: rows with o_orderkey % 100 <
  * hotFrac·100 move to the hot key (the smallest existing custkey).
  *
  * Usage: graft.tools.GraphSkewGen <srcDir> <outDir> [hotPct=40]
  */
object GraphSkewGen {
  def main(args: Array[String]): Unit = {
    val (srcDir, outDir) = (args(0), args(1))
    val hotPct = args.lift(2).map(_.toInt).getOrElse(40)
    require(hotPct > 0 && hotPct < 100, s"hotPct in 1..99, got $hotPct")
    val spark = graft.LocalSpark()
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // non-orders tables: straight copies (filesystem-level, no rewrite)
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
                  "lineitem", "events", "documents", "embeddings")) {
      org.apache.hadoop.fs.FileUtil.copy(
        fs, new org.apache.hadoop.fs.Path(s"$srcDir/$t.parquet"),
        fs, new org.apache.hadoop.fs.Path(s"$outDir/$t.parquet"),
        false, true, spark.sparkContext.hadoopConfiguration)
    }
    val orders = spark.read.parquet(s"$srcDir/orders.parquet")
    val hotKey = orders.agg(min(col("o_custkey"))).collect()(0).getLong(0)
    orders
      .withColumn("o_custkey",
        when(col("o_orderkey") % 100 < hotPct, lit(hotKey))
          .otherwise(col("o_custkey")))
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    val n = spark.read.parquet(s"$outDir/orders.parquet")
      .filter(col("o_custkey") === hotKey).count()
    println(s"[graphskew] hot key $hotKey owns $n orders rows (~$hotPct%)")
    spark.stop()
  }
}
